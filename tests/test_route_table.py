"""The HTTP route table: one dispatcher matches, authenticates, checks the
auth level and the required component, then calls the handler.

These tests drive a live ``ArcServer`` over stub engine services — what is
under test is the dispatcher, not the engine:

- random paths cannot grow the metrics dicts (keys are route templates,
  plus one ``unmatched`` bucket);
- every non-public row authenticates, and every ``writer``/``admin`` row
  refuses a table-restricted token;
- a template never matches extra path segments;
- a bad client number answers 400 and never charges the circuit breaker;
- an exception that escapes a handler still answers 500 JSON.
"""

from __future__ import annotations

import http.client
import json
import random
import types

import pytest

from arc_spark.auth import AuthStore
from arc_spark.resilience import CircuitBreaker
from arc_spark.server import ADMIN, PUBLIC, ROUTES, WRITER, ArcServer


class _Registry:
    def __init__(self):
        self.cancelled = []

    def cancel(self, qid):
        self.cancelled.append(qid)
        return True

    def get(self, qid):
        return None


class _Catalog:
    def __init__(self, root):
        self.root, self.cold_root, self.daily_root = root, None, None

    def databases(self):
        return ["victim"]


def _engine(*a, **kw):
    raise AssertionError("the engine must not be reached")


def _stub_query(root):
    return types.SimpleNamespace(
        registry=_Registry(), catalog=_Catalog(root), spark=None,
        query_measurement=_engine)


def _call(port, method, path, token=None, body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        headers = {"Authorization": f"Bearer {token}"} if token else {}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


@pytest.fixture()
def server(tmp_path):
    auth = AuthStore(str(tmp_path / "auth.db"))
    tokens = {"admin": auth.create_token("admin"),
              "restricted": auth.create_token("ro", ["cpu"])}
    (tmp_path / "data" / "victim").mkdir(parents=True)
    ingest = types.SimpleNamespace(root=str(tmp_path / "data"))
    srv = ArcServer(_stub_query(str(tmp_path / "data")), ingest, auth,
                    breaker=CircuitBreaker("t", max_failures=5)).start()
    yield srv, tokens
    srv.stop()


def _concrete(template: str) -> str:
    return "/".join("x" if s.startswith("{") else s
                    for s in template.split("/"))


def test_random_paths_leave_metrics_bounded(server):
    srv, tokens = server
    rnd = random.Random(7)
    prefixes = ["", "/api/v1", "/api/v2", "/api/v1/query", "/api/v1/rbac",
                "/api/v1/queries", "/api/v1/databases", "/api/v1/tiering",
                "/api/v1/mqtt/subscriptions", "/metrics", "/write"]
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789-_.%"
    for _ in range(10_000):
        segs = ["".join(rnd.choice(alphabet)
                        for _ in range(rnd.randint(0, 10)))
                for _ in range(rnd.randint(1, 4))]
        path = rnd.choice(prefixes) + "/" + "/".join(segs)
        method = rnd.choice(["GET", "POST", "PUT", "PATCH", "DELETE"])
        token = rnd.choice([None, "bogus", tokens["admin"]])
        status, _ = _call(srv.port, method, path, token,
                          b"{}" if method in ("POST", "PUT", "PATCH") else None)
        assert 200 <= status < 600
    assert len(srv.endpoint_ms) <= len(ROUTES) + 1
    assert len(srv.metrics) <= len(ROUTES) + 1
    templates = {f"{r.method} {r.template}" for r in ROUTES}
    assert set(srv.endpoint_ms) <= templates | {"unmatched"}
    assert {k.rsplit(" ", 1)[0] for k in srv.metrics} <= (
        templates | {"unmatched"})
    assert srv.metrics["unmatched 404"] > 5_000


def test_every_route_declares_its_auth_level(server):
    srv, tokens = server
    for r in ROUTES:
        if r.auth == PUBLIC:
            continue
        path = _concrete(r.template)
        status, body = _call(srv.port, r.method, path)
        assert status == 401, (r.method, r.template, body)
        status, body = _call(srv.port, r.method, path, "bogus")
        assert status == 401, (r.method, r.template, body)
        if r.auth in (ADMIN, WRITER):
            status, body = _call(srv.port, r.method, path,
                                 tokens["restricted"])
            assert status == 403, (r.method, r.template, body)


def test_extra_path_segments_match_nothing(server, tmp_path):
    srv, tokens = server
    admin = tokens["admin"]
    srv.cqs["y"] = object()
    assert _call(srv.port, "DELETE", "/api/v1/queries/a/b", admin)[0] == 404
    assert srv.query.registry.cancelled == []
    assert _call(srv.port, "DELETE", "/api/v1/continuous_queries/x/y",
                 admin)[0] == 404
    assert "y" in srv.cqs
    assert _call(srv.port, "DELETE",
                 "/api/v1/databases/any/victim?confirm=true", admin)[0] == 404
    assert (tmp_path / "data" / "victim").is_dir()
    assert set(srv.endpoint_ms) == {"unmatched"}


def test_bad_limit_is_400_and_breaker_neutral(server):
    srv, tokens = server
    for _ in range(6):
        status, body = _call(srv.port, "GET", "/api/v1/query/cpu?limit=abc",
                             tokens["admin"])
        assert status == 400, body
        assert "limit" in json.loads(body)["error"]
    st = srv.breaker.stats()
    assert st["state"] == "closed" and st["total_failures"] == 0


def test_bad_compaction_numbers_are_400(server):
    srv, tokens = server
    admin = tokens["admin"]
    status, body = _call(srv.port, "GET",
                         "/api/v1/compaction/status?min_files=x", admin)
    assert status == 400, body
    status, body = _call(
        srv.port, "POST", "/api/v1/compaction", admin,
        json.dumps({"db": "victim", "measurement": "m",
                    "min_files": "x"}).encode())
    assert status == 400, body
    assert srv.breaker.stats()["total_failures"] == 0


def test_handler_exception_answers_500_json(server):
    srv, tokens = server

    def boom():
        raise RuntimeError("catalog down")

    srv.query.catalog.databases = boom
    status, body = _call(srv.port, "GET", "/api/v1/databases",
                         tokens["admin"])
    assert status == 500
    assert "catalog down" in json.loads(body)["error"]
    assert srv.metrics["GET /api/v1/databases 500"] == 1
