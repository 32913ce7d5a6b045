"""GET /api/v1/query/:measurement is one SELECT through
``QueryService.execute``: it takes the POST route's admission, validation,
RBAC, route choice, row cap and history, and answers client mistakes with
400s the circuit breaker does not count."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from arc_spark.api import IngestService, QueryService
from arc_spark.auth import AuthStore
from arc_spark.catalog import MeasurementCatalog
from arc_spark.plans.validator import SqlValidationError
from arc_spark.resilience import CircuitBreaker
from arc_spark.server import ArcServer

_LP = (b"cpu,host=a usage=0.5 1700000000000000000\n"
       b"cpu,host=b usage=0.7 1700000060000000000\n"
       b"cpu,host=c usage=0.9 1700003600000000000\n"
       b"cpu-load,host=a load=1.5 1700000000000000000\n")

#: SQL Spark's analyzer rejects
_ANALYZER_ERRORS = {
    "SELECT nope FROM cpu": "UNRESOLVED_COLUMN",
    "SELECT * FROM nosuch": "TABLE_OR_VIEW_NOT_FOUND",
    "SELECT * FROM cpu LIMIT -1": "INVALID_LIMIT_LIKE_EXPRESSION",
    "SELECT host, COUNT(*) FROM cpu": "MISSING_GROUP_BY",
}


@pytest.fixture()
def live(spark, tmp_path):
    root = str(tmp_path / "data")
    ingest = IngestService(spark, root, max_buffer_rows=10**9,
                           max_buffer_age_s=10**9)
    ingest.write_line_protocol("metrics", _LP)
    ingest.flush()
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    svc.register_measurement("metrics", "cpu", view="cpu")
    auth = AuthStore(str(tmp_path / "auth.db"))
    admin = auth.create_token("admin")
    server = ArcServer(svc, ingest, auth,
                       breaker=CircuitBreaker("t", max_failures=5)).start()
    try:
        yield server, admin, svc
    finally:
        server.stop()


def _req(port, path, token, body=None):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}",
                                 data=body, method="POST" if body else "GET")
    req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _get(port, token, meas="cpu", **args):
    args.setdefault("db", "metrics")
    return _req(port, f"/api/v1/query/{meas}?"
                + urllib.parse.urlencode(args), token)


def _breaker_clean(server):
    st = server.breaker.stats()
    return st["state"] == "closed" and st["total_failures"] == 0


def test_analyzer_errors_are_400_and_breaker_neutral(live):
    server, admin, svc = live
    for _ in range(2):  # ten bad queries: twice the breaker's threshold
        for sql, cls in _ANALYZER_ERRORS.items():
            status, body = _req(server.port, "/api/v1/query", admin,
                                json.dumps({"sql": sql}).encode())
            assert status == 400, (sql, body)
            assert f"[{cls}" in json.loads(body)["error"], sql
    assert _breaker_clean(server)
    # the one binder: /query/estimate and CQ runs plan through it too
    with pytest.raises(SqlValidationError, match="UNRESOLVED_COLUMN"):
        svc.plan("SELECT nope FROM cpu")
    status, _ = _req(server.port, "/api/v1/query/estimate", admin,
                     json.dumps({"sql": "SELECT nope FROM cpu"}).encode())
    assert status == 400 and _breaker_clean(server)


def test_scoped_name_never_reads_another_database(spark, tmp_path):
    root = str(tmp_path / "data")
    ingest = IngestService(spark, root, max_buffer_rows=10**9,
                           max_buffer_age_s=10**9)
    ingest.write_line_protocol("metrics", _LP)
    ingest.flush()
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    sql = "SELECT host FROM cpu WHERE usage > 0.6"
    assert len(svc.execute(sql, db="metrics")) == 2  # binds the view cpu
    assert svc.catalog.view_binding("cpu") == ("metrics", "cpu")
    for q in (sql, "SELECT COUNT(*) FROM cpu"):
        with pytest.raises(SqlValidationError,
                           match="TABLE_OR_VIEW_NOT_FOUND"):
            svc.execute(q, db="emptydb")
    with pytest.raises(SqlValidationError, match="TABLE_OR_VIEW_NOT_FOUND"):
        svc.query_measurement("emptydb", "cpu", where="usage > 0")
    # the view still serves its own database, and unscoped requests
    assert len(svc.execute(sql, db="metrics")) == 2
    assert len(svc.execute(sql)) == 2


@pytest.mark.parametrize("where", [None, "usage > 0"])
def test_negative_limit_is_400_for_every_shape(live, where):
    server, admin, _ = live
    args = {"limit": -1} | ({"where": where} if where else {})
    status, body = _get(server.port, admin, **args)
    assert status == 400, body
    assert "INVALID_LIMIT_LIKE_EXPRESSION" in json.loads(body)["error"]
    assert _breaker_clean(server)


@pytest.mark.parametrize("where", [
    "1=1) UNION SELECT * FROM other WHERE (1=1",
    "1=1) LIMIT 100000 --",
    "/*",
    "1=1; DROP TABLE cpu",
    "1=1 UNION ALL SELECT * FROM cpu",
    "1=1 ORDER BY usage",
    "1=1 GROUP BY host",
    "usage > 0 LIMIT 100000 --\\",
])
def test_where_fills_only_the_filter(live, where):
    server, admin, _ = live
    status, body = _get(server.port, admin, where=where, limit=1)
    assert status == 400, body
    assert _breaker_clean(server)


def test_trailing_comment_in_where_keeps_the_limit(live):
    server, admin, _ = live
    status, body = _get(server.port, admin, where="usage > 0.0 --", limit=1)
    assert status == 200 and len(json.loads(body)["rows"]) == 1


@pytest.mark.parametrize("extra", [{}, {"order_by": "usage DESC"}])
def test_continued_comment_in_where_cannot_drop_the_limit(live, extra):
    """A backslash before a newline continues a ``--`` comment in Spark's
    lexer, so ``where`` ending in ``--\\`` would swallow what follows
    it: the SQL must then fail to parse, never run without its LIMIT."""
    server, admin, _ = live
    status, body = _get(server.port, admin, where="usage > 0.0 --\\",
                        limit=1, **extra)
    assert status == 400 or len(json.loads(body)["rows"]) == 1, body
    assert _breaker_clean(server)


def test_order_by_and_measurement_names_are_validated(live):
    server, admin, svc = live
    for order_by in ("usage; DROP", "usage sideways", "a b c", "`usage`"):
        status, _ = _get(server.port, admin, order_by=order_by)
        assert status == 400, order_by
    assert _breaker_clean(server)
    for meas in ("cpu`x", "cpu` UNION SELECT 1 --", "../cpu", ".hidden"):
        with pytest.raises(SqlValidationError):
            svc.query_measurement("metrics", meas)


def test_hyphenated_measurement_serves_its_rows(live):
    server, admin, svc = live
    status, body = _get(server.port, admin, meas="cpu-load")
    assert status == 200
    assert [r["load"] for r in json.loads(body)["rows"]] == [1.5]
    assert svc.registry.history()[0].route == "native_scan"
    # the Spark route cannot bind a view named cpu-load: a client error
    status, _ = _get(server.port, admin, meas="cpu-load", where="load > 1")
    assert status == 400 and _breaker_clean(server)



def test_hyphenated_database_serves_every_shape(live):
    """Ingest accepts any single path segment as a database (an Influx
    v2 bucket such as ``my-bucket``); the GET route reads it back on the
    native and the Spark route."""
    server, admin, svc = live
    status, _ = _req(server.port, "/api/v2/write?bucket=my-bucket", admin,
                     b"cpu,host=z usage=0.25 1700000000000000000\n")
    assert status == 204
    server.ingest.flush()
    for args, route in (({}, "native_scan"),
                        ({"where": "usage > 0.1"}, "spark")):
        status, body = _get(server.port, admin, db="my-bucket", **args)
        assert status == 200, body
        assert [r["host"] for r in json.loads(body)["rows"]] == ["z"]
        assert svc.registry.history()[0].route == route
