"""Hierarchical RBAC (reference internal/auth/rbac_manager.go,
rbac_models.go): org → team → role → measurement-permission hierarchy,
token memberships, wildcard patterns, two-level cache, OSS fallback,
and engine query-path enforcement."""

import json
import urllib.error
import urllib.request

import pytest

from arc_spark.auth import AuthStore, PERMISSIONS_NONE
from arc_spark.rbac import (
    RBACError,
    RBACStore,
    match_pattern,
)


@pytest.fixture()
def store():
    return RBACStore(":memory:", enabled=True)


def _token(perms=None, name="t1"):
    return {"name": name, "permissions": perms or []}


def _grant_chain(store, db_pattern="prod_*", perms=("read",),
                 token="t1", team_name="team1"):
    org = store.create_organization("acme")
    team = store.create_team(org["id"], team_name)
    role = store.create_role(team["id"], db_pattern, list(perms))
    store.add_token_to_team(token, team["id"])
    return org, team, role


# -- pattern language (reference matchPattern) ---------------------------

@pytest.mark.parametrize("pattern,value,expect", [
    ("*", "anything", True),
    ("prod_*", "prod_us", True),
    ("prod_*", "prod_us_east", True),
    ("prod_*", "production", False),   # underscore boundary
    ("prod_*", "prod", False),
    ("*_metrics", "cpu_metrics", True),
    ("*_metrics", "metrics", False),
    ("prod*", "production", True),
    ("prod*", "prod", True),
    ("prod*", "staging", False),
    ("exact", "exact", True),
    ("exact", "exact2", False),
])
def test_match_pattern(pattern, value, expect):
    assert match_pattern(pattern, value) is expect


# -- CRUD ----------------------------------------------------------------

def test_org_crud(store):
    org = store.create_organization("acme", "desc")
    assert org["name"] == "acme" and org["enabled"]
    with pytest.raises(RBACError):
        store.create_organization("acme")
    got = store.get_organization(org["id"])
    assert got["description"] == "desc"
    upd = store.update_organization(org["id"], name="acme2", enabled=False)
    assert upd["name"] == "acme2" and not upd["enabled"]
    assert [o["name"] for o in store.list_organizations()] == ["acme2"]
    store.delete_organization(org["id"])
    with pytest.raises(RBACError):
        store.get_organization(org["id"])


def test_team_role_mp_crud(store):
    org = store.create_organization("acme")
    team = store.create_team(org["id"], "data")
    with pytest.raises(RBACError):
        store.create_team(org["id"], "data")  # unique per org
    role = store.create_role(team["id"], "prod", ["read", "write"])
    mp = store.create_measurement_permission(role["id"], "cpu_*", ["read"])
    got = store.get_role(role["id"], with_measurements=True)
    assert got["measurement_permissions"][0]["measurement_pattern"] == "cpu_*"
    org_tree = store.get_organization(org["id"], with_teams=True)
    assert org_tree["teams"][0]["name"] == "data"
    store.delete_measurement_permission(mp["id"])
    assert store.list_measurement_permissions(role["id"]) == []
    with pytest.raises(RBACError):
        store.delete_measurement_permission(mp["id"])
    store.delete_role(role["id"])
    assert store.list_roles(team["id"]) == []


def test_invalid_permission_rejected(store):
    org = store.create_organization("acme")
    team = store.create_team(org["id"], "t")
    with pytest.raises(RBACError):
        store.create_role(team["id"], "*", ["root"])
    with pytest.raises(RBACError):
        store.create_role(team["id"], "*", [])


def test_cascade_delete_team_and_org(store):
    org, team, role = _grant_chain(store)
    store.create_measurement_permission(role["id"], "m_*", ["read"])
    store.delete_organization(org["id"])
    # everything under it is gone
    assert store.list_organizations() == []
    info = _token(name="t1")
    res = store.check_permission(info, "prod_us", "m_x", "read")
    assert not res["allowed"]


def test_membership_unique_and_remove(store):
    org, team, _ = _grant_chain(store)
    with pytest.raises(RBACError):
        store.add_token_to_team("t1", team["id"])
    assert [m["token_name"] for m in store.list_team_tokens(team["id"])] == ["t1"]
    store.remove_token_from_team("t1", team["id"])
    with pytest.raises(RBACError):
        store.remove_token_from_team("t1", team["id"])


# -- check semantics -----------------------------------------------------

def test_no_membership_uses_oss(store):
    info = _token(perms=["read"])
    assert store.check_permission(info, "any", "", "read")["source"] == "token"
    assert not store.check_permission(info, "any", "", "write")["allowed"]


def test_admin_implies_everything(store):
    info = _token(perms=["admin"])
    for p in ("read", "write", "delete", "admin"):
        assert store.check_permission(info, "db", "m", p)["allowed"]


def test_rbac_grant_db_pattern(store):
    _grant_chain(store, db_pattern="prod_*", perms=("read",))
    info = _token(name="t1")  # RBAC-only token: no OSS perms
    ok = store.check_permission(info, "prod_us", "cpu", "read")
    assert ok["allowed"] and ok["source"] == "rbac"
    assert not store.check_permission(info, "staging", "cpu", "read")["allowed"]
    assert not store.check_permission(info, "prod_us", "cpu", "write")["allowed"]


def test_measurement_perms_narrow_role(store):
    """A role WITH measurement permissions grants only via a matching
    pattern — no role-level fallthrough (least-privilege narrowing)."""
    _, _, role = _grant_chain(store, db_pattern="*", perms=("read", "write"))
    store.create_measurement_permission(role["id"], "public_*", ["read"])
    info = _token(name="t1")
    assert store.check_permission(info, "db", "public_x", "read")["allowed"]
    # role-level read would allow, but measurement perms exist and none match
    assert not store.check_permission(info, "db", "secret", "read")["allowed"]
    # matching measurement but permission not granted there
    assert not store.check_permission(info, "db", "public_x", "write")["allowed"]


def test_no_measurement_in_request_uses_role_level(store):
    _, _, role = _grant_chain(store, db_pattern="*", perms=("write",))
    store.create_measurement_permission(role["id"], "only_*", ["read"])
    info = _token(name="t1")
    # empty measurement (db-level op): role-level perms apply
    assert store.check_permission(info, "db", "", "write")["allowed"]


def test_rbac_denied_falls_back_to_oss(store):
    _grant_chain(store, db_pattern="prod_*", perms=("read",))
    info = _token(perms=["write"], name="t1")
    # RBAC has no write grant anywhere, but the bare token does
    res = store.check_permission(info, "staging", "cpu", "write")
    assert res["allowed"] and res["source"] == "token"


def test_disabled_team_and_org_deny(store):
    org, team, _ = _grant_chain(store)
    info = _token(name="t1")
    assert store.check_permission(info, "prod_us", "m", "read")["allowed"]
    store.update_team(team["id"], enabled=False)
    assert not store.check_permission(info, "prod_us", "m", "read")["allowed"]
    store.update_team(team["id"], enabled=True)
    assert store.check_permission(info, "prod_us", "m", "read")["allowed"]
    store.update_organization(org["id"], enabled=False)
    assert not store.check_permission(info, "prod_us", "m", "read")["allowed"]


def test_rbac_disabled_flag_is_oss_only(tmp_path):
    s = RBACStore(":memory:", enabled=False)
    org = s.create_organization("acme")
    team = s.create_team(org["id"], "t")
    s.create_role(team["id"], "*", ["read", "write", "delete"])
    s.add_token_to_team("t1", team["id"])
    info = _token(name="t1")  # no OSS perms
    # hierarchy exists but the flag is off → OSS check only
    assert not s.check_permission(info, "db", "m", "read")["allowed"]


def test_cache_invalidation_on_grant_changes(store):
    org, team, role = _grant_chain(store)
    info = _token(name="t1")
    assert store.check_permission(info, "prod_us", "m", "read")["allowed"]
    store.delete_role(role["id"])
    # cached allow must not survive the role deletion
    assert not store.check_permission(info, "prod_us", "m", "read")["allowed"]
    role = store.create_role(team["id"], "prod_*", ["read"])
    assert store.check_permission(info, "prod_us", "m", "read")["allowed"]
    store.remove_token_from_team("t1", team["id"])
    assert not store.check_permission(info, "prod_us", "m", "read")["allowed"]


def test_cache_hit_counting(store):
    _grant_chain(store)
    info = _token(name="t1")
    store.check_permission(info, "prod_us", "m", "read")
    misses = store.cache_misses
    store.check_permission(info, "prod_us", "m", "read")
    assert store.cache_hits >= 1 and store.cache_misses == misses


def test_batch_check(store):
    _grant_chain(store, db_pattern="prod_*", perms=("read",))
    info = _token(name="t1")
    res = store.check_permissions_batch([
        (info, "prod_us", "a", "read"),
        (info, "staging", "a", "read"),
        (None, "prod_us", "a", "read"),
    ])
    assert [r["allowed"] for r in res] == [True, False, False]
    assert res[2]["reason"] == "no token provided"


def test_effective_permissions(store):
    _, _, role = _grant_chain(store, db_pattern="prod_*",
                              perms=("read", "write"))
    store.create_measurement_permission(role["id"], "cpu_*", ["read"])
    info = _token(perms=["read"], name="t1")
    eff = store.get_effective_permissions(info)
    sources = {e["source"] for e in eff}
    assert sources == {"token", "rbac"}
    rbac_grants = [e for e in eff if e["source"] == "rbac"]
    assert rbac_grants[0]["measurement"] == "cpu_*"


# -- AuthStore permissions column ----------------------------------------

def test_authstore_default_permissions():
    a = AuthStore(":memory:")
    t = a.create_token("svc")
    assert a.verify(t)["permissions"] == ["read", "write"]


def test_authstore_explicit_and_none_permissions():
    a = AuthStore(":memory:")
    t1 = a.create_token("admin", permissions="admin")
    assert a.verify(t1)["permissions"] == ["admin"]
    t2 = a.create_token("rbac_only", permissions=PERMISSIONS_NONE)
    assert a.verify(t2)["permissions"] == []
    listed = {d["name"]: d["permissions"] for d in a.list_tokens()}
    assert listed["admin"] == ["admin"] and listed["rbac_only"] == []


def test_authstore_permissions_survive_rotation():
    a = AuthStore(":memory:")
    t = a.create_token("svc", permissions="read")
    t2 = a.rotate("svc")
    assert a.verify(t) is None
    assert a.verify(t2)["permissions"] == ["read"]


# -- engine query-path enforcement ---------------------------------------

def _write_measurement(spark, root, db, measurement):
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 0, i), float(i)) for i in range(3)],
        "time timestamp, value double")
    df.write.mode("overwrite").parquet(f"{root}/{db}/{measurement}")


def test_query_path_enforcement(spark, tmp_path):
    """End-to-end: a token whose team grants read on prod_* only can query
    a prod database's measurement but not another database — enforced on
    the PARSED plan's table refs through QueryService (reference
    query.go:1230-1305 checkQueryRBAC)."""
    from arc_spark.api import AccessDeniedError, QueryService
    from arc_spark.catalog import MeasurementCatalog

    auth = AuthStore(":memory:")
    tok = auth.create_token("analyst", permissions=PERMISSIONS_NONE)
    rb = RBACStore(":memory:", enabled=True)
    org = rb.create_organization("acme")
    team = rb.create_team(org["id"], "analysts")
    rb.create_role(team["id"], "prod_*", ["read"])
    rb.add_token_to_team("analyst", team["id"])

    root = str(tmp_path)
    _write_measurement(spark, root, "prod_us", "events")
    _write_measurement(spark, root, "secret", "events")
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat, rbac=rb,
                       token_info_fn=auth.verify)
    svc.register_measurement("prod_us", "events", view="prod_events")
    svc.register_measurement("secret", "events", view="secret_events")

    rows = svc.execute(
        "SELECT count(*) AS n FROM prod_events", token=tok)
    assert rows[0]["n"] == 3
    with pytest.raises(AccessDeniedError):
        svc.execute("SELECT count(*) AS n FROM secret_events", token=tok)
    # write permission isn't granted → a delete-permission check denies
    with pytest.raises(AccessDeniedError):
        svc._check_rbac(tok, "SELECT * FROM prod_events",
                        permission="delete")
    # the single-measurement REST shape enforces too
    with pytest.raises(AccessDeniedError):
        svc.query_measurement("secret", "events", token=tok)
    assert len(svc.query_measurement("prod_us", "events", token=tok)) == 3


def test_scoped_query_checks_the_request_database(spark, tmp_path):
    """Under x-arc-database, RBAC checks the table the request reads: a
    bare name that is a measurement of the scoped database is checked
    against THAT database, even after a query scoped to another database
    left a view of the same name behind."""
    from arc_spark.api import AccessDeniedError, QueryService
    from arc_spark.catalog import MeasurementCatalog

    auth = AuthStore(":memory:")
    tok = auth.create_token("analyst", permissions=PERMISSIONS_NONE)
    rb = RBACStore(":memory:", enabled=True)
    org = rb.create_organization("acme")
    team = rb.create_team(org["id"], "analysts")
    rb.create_role(team["id"], "prod_*", ["read"])
    rb.add_token_to_team("analyst", team["id"])

    root = str(tmp_path)
    _write_measurement(spark, root, "prod_us", "events")
    _write_measurement(spark, root, "secret", "events")
    svc = QueryService(spark, MeasurementCatalog(spark, root), rbac=rb,
                       token_info_fn=auth.verify)

    spark_sql = "SELECT count(*) AS n FROM events WHERE value >= 0"
    native_sql = "SELECT count(*) AS n FROM events"
    for sql in (spark_sql, native_sql):
        with pytest.raises(AccessDeniedError, match="secret.events"):
            svc.execute(sql, token=tok, db="secret")
    # a scoped Spark-route query on prod_us binds the view `events`
    assert svc.execute(spark_sql, token=tok, db="prod_us")[0]["n"] == 3
    assert svc.catalog.view_binding("events") == ("prod_us", "events")
    for sql in (spark_sql, native_sql):
        with pytest.raises(AccessDeniedError, match="secret.events"):
            svc.execute(sql, token=tok, db="secret")
    assert svc.catalog.view_binding("events") == ("prod_us", "events")


def test_query_path_unknown_token_skips_rbac(spark, tmp_path):
    """Engine-level callers without an HTTP auth layer (token unknown to
    the store) keep current behavior — the check is identity-gated."""
    from arc_spark.api import QueryService
    from arc_spark.catalog import MeasurementCatalog

    auth = AuthStore(":memory:")
    rb = RBACStore(":memory:", enabled=True)
    root = str(tmp_path)
    _write_measurement(spark, root, "db1", "m1")
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat, rbac=rb, token_info_fn=auth.verify)
    svc.register_measurement("db1", "m1", view="m1")
    assert svc.execute("SELECT count(*) AS n FROM m1")[0]["n"] == 3


# -- HTTP route surface (reference rbac_routes.go) -----------------------

def _req(port, path, method="GET", token=None, body=None):
    import urllib.request
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


@pytest.fixture()
def rbac_live(spark, tmp_path):
    from arc_spark.api import QueryService
    from arc_spark.catalog import MeasurementCatalog
    from arc_spark.server import ArcServer

    root = str(tmp_path / "data")
    _write_measurement(spark, root, "prod_us", "events")
    _write_measurement(spark, root, "secret", "events")
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    svc.register_measurement("prod_us", "events", view="prod_events")
    svc.register_measurement("secret", "events", view="secret_events")
    auth = AuthStore(str(tmp_path / "auth.db"))
    admin = auth.create_token("admin", permissions="admin")
    analyst = auth.create_token("analyst", permissions=PERMISSIONS_NONE)
    rb = RBACStore(str(tmp_path / "rbac.db"), enabled=True)
    server = ArcServer(svc, None, auth, rbac=rb).start()
    try:
        yield server.port, admin, analyst, rb
    finally:
        server.stop()


class TestRbacRoutes:
    def test_crud_walkthrough(self, rbac_live):
        port, admin, _, _ = rbac_live
        st, org = _req(port, "/api/v1/rbac/organizations", "POST", admin,
                       {"name": "acme", "description": "d"})
        assert st == 201 and org["name"] == "acme"
        st, _ = _req(port, "/api/v1/rbac/organizations", "POST", admin,
                     {"name": "acme"})
        assert st == 409
        st, lst = _req(port, "/api/v1/rbac/organizations", token=admin)
        assert st == 200 and len(lst["organizations"]) == 1

        st, team = _req(port,
                        f"/api/v1/rbac/organizations/{org['id']}/teams",
                        "POST", admin, {"name": "analysts"})
        assert st == 201
        st, role = _req(port, f"/api/v1/rbac/teams/{team['id']}/roles",
                        "POST", admin,
                        {"database_pattern": "prod_*",
                         "permissions": ["read"]})
        assert st == 201 and role["permissions"] == ["read"]
        st, mp = _req(port, f"/api/v1/rbac/roles/{role['id']}/measurements",
                      "POST", admin,
                      {"measurement_pattern": "ev_*",
                       "permissions": ["read"]})
        assert st == 201
        st, got = _req(port,
                       f"/api/v1/rbac/roles/{role['id']}?with=measurements",
                       token=admin)
        assert st == 200 and len(got["measurement_permissions"]) == 1

        # PATCH updates
        st, upd = _req(port, f"/api/v1/rbac/teams/{team['id']}", "PATCH",
                       admin, {"enabled": False})
        assert st == 200 and upd["enabled"] is False
        st, upd = _req(port, f"/api/v1/rbac/roles/{role['id']}", "PATCH",
                       admin, {"permissions": ["read", "write"]})
        assert st == 200 and upd["permissions"] == ["read", "write"]

        # memberships (re-enable the team disabled above so the
        # effective-permission walk sees its grants)
        st, _ = _req(port, f"/api/v1/rbac/teams/{team['id']}", "PATCH",
                     admin, {"enabled": True})
        assert st == 200
        st, mem = _req(port, f"/api/v1/rbac/teams/{team['id']}/tokens",
                       "POST", admin, {"token_name": "analyst"})
        assert st == 201
        st, toks = _req(port, f"/api/v1/rbac/teams/{team['id']}/tokens",
                        token=admin)
        assert [t["token_name"] for t in toks["tokens"]] == ["analyst"]
        st, eff = _req(port, "/api/v1/rbac/tokens/analyst/effective",
                       token=admin)
        assert st == 200 and eff["effective_permissions"]

        # deletes
        st, _ = _req(port,
                     f"/api/v1/rbac/measurement-permissions/{mp['id']}",
                     "DELETE", admin)
        assert st == 200
        st, _ = _req(port,
                     f"/api/v1/rbac/teams/{team['id']}/tokens/analyst",
                     "DELETE", admin)
        assert st == 200
        st, _ = _req(port, f"/api/v1/rbac/organizations/{org['id']}",
                     "DELETE", admin)
        assert st == 200
        st, lst = _req(port, "/api/v1/rbac/organizations", token=admin)
        assert lst["organizations"] == []

    def test_not_found_and_bad_input(self, rbac_live):
        port, admin, _, _ = rbac_live
        st, _ = _req(port, "/api/v1/rbac/organizations/999", token=admin)
        assert st == 404
        st, _ = _req(port, "/api/v1/rbac/organizations/xx", token=admin)
        assert st == 400
        st, _ = _req(port, "/api/v1/rbac/organizations", "POST", admin, {})
        assert st == 400
        st, _ = _req(port, "/api/v1/rbac/tokens/nope/effective", token=admin)
        assert st == 404

    def test_admin_required(self, rbac_live):
        port, _, analyst, _ = rbac_live
        st, _ = _req(port, "/api/v1/rbac/organizations", token=analyst)
        # analyst is unrestricted-table but that's the admin criterion in
        # this harness; what matters: unauthenticated fails
        st, _ = _req(port, "/api/v1/rbac/organizations")
        assert st in (401, 403)

    def test_query_denied_through_wire(self, rbac_live):
        port, admin, analyst, rb = rbac_live
        org = rb.create_organization("acme")
        team = rb.create_team(org["id"], "analysts")
        rb.create_role(team["id"], "prod_*", ["read"])
        rb.add_token_to_team("analyst", team["id"])
        st, out = _req(port, "/api/v1/query", "POST", analyst,
                       {"sql": "SELECT count(*) AS n FROM prod_events"})
        assert st == 200
        st, out = _req(port, "/api/v1/query", "POST", analyst,
                       {"sql": "SELECT count(*) AS n FROM secret_events"})
        assert st == 403 and "access denied" in out["error"]
        # admin token passes on OSS permissions
        st, _ = _req(port, "/api/v1/query", "POST", admin,
                     {"sql": "SELECT count(*) AS n FROM secret_events"})
        assert st == 200

    def test_unconfigured_is_503(self, spark, tmp_path):
        from arc_spark.api import QueryService
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.server import ArcServer

        cat = MeasurementCatalog(spark, str(tmp_path))
        server = ArcServer(QueryService(spark, cat)).start()
        try:
            st, _ = _req(server.port, "/api/v1/rbac/organizations")
            assert st == 503
        finally:
            server.stop()
