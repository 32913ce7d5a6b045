"""Live HTTP wire layer e2e (reference internal/api + internal/auth):
hashed-token auth from SQLite, query + ingest + RBAC over a real socket."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request

import pytest

from arc_spark.api import IngestService, QueryService
from arc_spark.auth import AuthStore
from arc_spark.catalog import MeasurementCatalog
from arc_spark.server import ArcServer


def _req(port, path, method="GET", token=None, body=None, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method=method
    )
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, resp.read(), dict(resp.headers)


@pytest.fixture()
def live(spark, tmp_path):
    root = str(tmp_path / "data")
    ingest = IngestService(spark, root, max_buffer_rows=10**9, max_buffer_age_s=10**9)
    ingest.write_line_protocol(
        "metrics",
        b"cpu,host=a usage=0.5 1700000000000000000\n"
        b"cpu,host=b usage=0.7 1700000060000000000\n",
    )
    ingest.flush()
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    svc.register_measurement("metrics", "cpu", view="cpu")
    auth = AuthStore(str(tmp_path / "auth.db"))
    admin = auth.create_token("admin")
    limited = auth.create_token("limited", allowed_tables=["other_table"])
    server = ArcServer(svc, ingest, auth).start()
    try:
        yield server.port, admin, limited, cat
    finally:
        server.stop()


class TestHttpServer:
    def test_health_unauthenticated(self, live):
        port, *_ = live
        status, body, _ = _req(port, "/health")
        assert status == 200 and json.loads(body)["status"] == "ok"

    def test_query_json(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT host, usage FROM cpu ORDER BY host"}).encode(),
        )
        assert status == 200
        text = body.decode()
        assert '"data"' in text and "0.5" in text and "0.7" in text

    def test_query_arrow_roundtrip(self, live):
        import pyarrow as pa

        port, admin, *_ = live
        status, body, headers = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT host FROM cpu", "format": "arrow"}).encode(),
        )
        assert status == 200
        assert headers["Content-Type"] == "application/vnd.apache.arrow.stream"
        table = pa.ipc.open_stream(body).read_all()
        assert sorted(table.column("host").to_pylist()) == ["a", "b"]

    def test_measurement_endpoint(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port,
            "/api/v1/query/cpu?db=metrics&where=usage%20%3E%200.6&limit=5",
            token=admin,
        )
        rows = json.loads(body)["rows"]
        assert status == 200 and len(rows) == 1 and rows[0]["host"] == "b"

    def test_missing_token_401(self, live):
        port, *_ = live
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/databases")
        assert e.value.code == 401

    def test_revoked_token_401(self, live, tmp_path):
        port, admin, *_ = live
        auth = AuthStore(str(tmp_path / "auth.db"))
        auth.revoke("admin")
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/databases", token=admin)
        assert e.value.code == 401

    def test_rbac_denied_403(self, live):
        port, _admin, limited, _cat = live
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", limited,
                 json.dumps({"sql": "SELECT * FROM cpu"}).encode())
        assert e.value.code == 403

    def test_non_select_400(self, live):
        port, admin, *_ = live
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", admin,
                 json.dumps({"sql": "DROP TABLE cpu"}).encode())
        assert e.value.code == 400

    def test_write_line_then_query(self, live, spark):
        port, admin, _limited, cat = live
        status, body, _ = _req(
            port, "/api/v1/write/line?db=metrics", "POST", admin,
            b"cpu,host=c usage=0.9 1700000120000000000\n",
        )
        assert status == 200 and json.loads(body)["written"] == 1
        # flush via the service (the server's ingest shares the tree)
        status, body, _ = _req(port, "/api/v1/databases", token=admin)
        assert "metrics" in json.loads(body)["databases"]

    def test_write_msgpack(self, live):
        from arc_spark.sources.msgpack_codec import packb

        port, admin, *_ = live
        payload = packb({
            "m": "temps",
            "columns": {"time": [1700000000000000], "site": ["s1"], "t": [21.0]},
            "tags": ["site"],
        })
        status, body, _ = _req(
            port, "/api/v1/write/msgpack?db=iot", "POST", admin, payload
        )
        assert status == 200 and json.loads(body)["written"] == 1


class TestAuthStore:
    def test_hashing_and_revoke(self, tmp_path):
        store = AuthStore(str(tmp_path / "a.db"))
        tok = store.create_token("svc", allowed_tables=["metrics.cpu"])
        # plaintext never stored
        raw = open(tmp_path / "a.db", "rb").read()
        assert tok.encode() not in raw
        assert store.verify(tok)["allowed_tables"] == {"metrics.cpu"}
        assert store.verify("wrong") is None
        assert store.revoke("svc")
        assert store.verify(tok) is None

    def test_tables_view_protocol(self, tmp_path):
        store = AuthStore(str(tmp_path / "a.db"))
        admin = store.create_token("admin")
        lim = store.create_token("lim", allowed_tables=["t1"])
        view = store.tables_view()
        assert admin not in view          # unrestricted → allow-all path
        assert lim in view and view[lim] == {"t1"}

    def test_persistence_across_instances(self, tmp_path):
        p = str(tmp_path / "a.db")
        tok = AuthStore(p).create_token("svc", allowed_tables=["x"])
        assert AuthStore(p).verify(tok)["name"] == "svc"


class TestObservability:
    def test_metrics_endpoint(self, live):
        port, admin, *_ = live
        _req(port, "/api/v1/query", "POST", admin,
             json.dumps({"sql": "SELECT count(*) AS n FROM cpu"}).encode())
        status, body, headers = _req(port, "/metrics", token=admin)
        text = body.decode()
        assert status == 200
        assert "arc_http_requests_total" in text
        assert "arc_ingest_rows_acked_total" in text
        assert 'arc_queries_total{status="done"}' in text
        assert "arc_query_seconds_total" in text

    def test_execution_time_header(self, live):
        port, admin, *_ = live
        _status, _body, headers = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT host FROM cpu", "format": "arrow"}).encode(),
        )
        assert float(headers["X-Arc-Execution-Time-Ms"]) > 0


class TestManagementRoutes:
    def test_estimate(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/query/estimate", "POST", admin,
            json.dumps({"sql": "SELECT * FROM cpu"}).encode(),
        )
        out = json.loads(body)
        assert status == 200 and out["estimated_rows"] >= 1 and out["method"]

    def test_queries_listing_and_cancel_404(self, live):
        port, admin, *_ = live
        _req(port, "/api/v1/query", "POST", admin,
             json.dumps({"sql": "SELECT count(*) AS n FROM cpu"}).encode())
        status, body, _ = _req(port, "/api/v1/queries", token=admin)
        qs = json.loads(body)["queries"]
        assert status == 200 and any(q["status"] == "done" for q in qs)
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/queries/nonexistent", "DELETE", admin)
        assert e.value.code == 404

    def test_management_requires_admin(self, live):
        port, _admin, limited, _cat = live
        for path, method, body in [
            ("/api/v1/queries", "GET", None),
            ("/api/v1/delete", "POST", b"{}"),
            ("/api/v1/auth/tokens", "GET", None),
        ]:
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, path, method, limited, body)
            assert e.value.code == 403, path

    def test_token_lifecycle_over_http(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/auth/tokens", "POST", admin,
            json.dumps({"name": "svc2", "allowed_tables": ["cpu"]}).encode(),
        )
        assert status == 201
        tok = json.loads(body)["token"]
        # new token works for its table
        status, _, _ = _req(port, "/api/v1/query", "POST", tok,
                            json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert status == 200
        # revoke over HTTP → 401 afterwards
        status, body, _ = _req(port, "/api/v1/auth/tokens/svc2", "DELETE", admin)
        assert status == 200 and json.loads(body)["revoked"]
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", tok,
                 json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert e.value.code == 401

    def test_token_rotation_over_http(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/auth/tokens", "POST", admin,
            json.dumps({"name": "rotme", "allowed_tables": ["cpu"]}).encode())
        old_tok = json.loads(body)["token"]
        status, body, _ = _req(port, "/api/v1/auth/tokens/rotme/rotate",
                               "POST", admin)
        assert status == 200
        new_tok = json.loads(body)["token"]
        assert new_tok != old_tok
        # old secret dead, new secret live with the same permissions
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", old_tok,
                 json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert e.value.code == 401
        status, _, _ = _req(port, "/api/v1/query", "POST", new_tok,
                            json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert status == 200
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/auth/tokens/ghost/rotate", "POST", admin)
        assert e.value.code == 404

    def test_token_expiry(self, tmp_path):
        import time as _t

        from arc_spark.auth import AuthStore

        auth = AuthStore(str(tmp_path / "exp.db"))
        tok = auth.create_token("shortlived", expires_at=_t.time() + 3600)
        assert auth.verify(tok)["name"] == "shortlived"
        # expired → verifies as None, like revoked (reference ExpiresAt)
        assert auth.verify(tok, now=_t.time() + 7200) is None
        # last_used stamped on the successful verification
        info = {t["name"]: t for t in auth.list_tokens()}
        assert info["shortlived"]["last_used_at"] is not None
        assert info["shortlived"]["expires_at"] is not None

    def test_last_used_stamp_is_throttled(self, tmp_path):
        from arc_spark.auth import AuthStore

        auth = AuthStore(str(tmp_path / "stamp.db"))
        tok = auth.create_token("busy")
        updates = []
        auth._db.set_trace_callback(
            lambda sql: updates.append(sql)
            if sql.lstrip().upper().startswith("UPDATE") else None)
        t0 = 1_800_000_000.0
        for i in range(100):  # 100 verifies inside one minute
            assert auth.verify(tok, now=t0 + i * 0.5)["name"] == "busy"
        assert len(updates) == 1
        stamped = {t["name"]: t for t in auth.list_tokens()}["busy"]
        assert stamped["last_used_at"] == t0
        assert auth.verify(tok, now=t0 + 61)["name"] == "busy"
        assert len(updates) == 2
        stamped = {t["name"]: t for t in auth.list_tokens()}["busy"]
        assert stamped["last_used_at"] == t0 + 61

    def test_delete_endpoint(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/delete", "POST", admin,
            json.dumps({"db": "metrics", "measurement": "cpu",
                        "predicate": "host = 'a'", "dry_run": True}).encode(),
        )
        out = json.loads(body)
        assert status == 200 and out["deleted_rows"] == 1 and out["dry_run"]

    def test_retention_endpoint(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/retention", "POST", admin,
            json.dumps({"db": "metrics", "measurement": "cpu",
                        "retention_days": 36500}).encode(),
        )
        assert status == 200 and json.loads(body)["removed"] == []

    def test_malformed_payload_is_400_not_engine_fault(self, live):
        """Garbage/truncated msgpack and malformed LP must answer 400 —
        and a hostile payload burst must NOT open the circuit breaker
        (previously these 500'd and counted as engine faults)."""
        port, admin, *_ = live
        for payload, route in (
                (b"\xc1\xff\xfe garbage", "/api/v1/write/msgpack?db=m"),
                (b"\x91" * 2000 + b"\xc0", "/api/v1/write/msgpack?db=m"),
                (b"\xdd\xff\xff\xff\xff\xa1x",
                 "/api/v1/write/msgpack?db=m"),
                (b"not line protocol at all",
                 "/api/v1/write/line?db=m")):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, route, "POST", admin, payload)
            assert e.value.code == 400, payload[:12]
        # engine still healthy afterwards
        status, body, _ = _req(
            port, "/api/v1/write/line?db=m", "POST", admin,
            b"cpu,host=z usage=1 1700000300000000000\n")
        assert status == 200 and json.loads(body)["written"] == 1

    def test_db_measurement_path_traversal_rejected(self, spark, live,
                                                    tmp_path):
        """db=".." / measurement="x/../../y" through ANY route must not
        read or write outside the storage root (reference validates
        database names, internal/api/databases.go)."""
        port, admin, *_ = live
        # read side: traversal names → 4xx, never a file read
        for path in (
                "/api/v1/query/secret?db=..",
                "/api/v1/query/..%2F..%2Fetc?db=metrics",
                "/api/v1/query/cpu?db=.hidden"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, path, token=admin)
            assert 400 <= e.value.code < 500, path
        # write side: the wire measurement name steers the writer — a
        # traversal 'm' field must be rejected at the path chokepoint
        from arc_spark.sources.msgpack_codec import packb

        payload = packb({
            "m": "../../escape",
            "columns": {"time": [1700000000000000], "v": [1.0]},
            "tags": [],
        })
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/write/msgpack?db=iot", "POST", admin,
                 payload)
        assert 400 <= e.value.code < 500

    def test_oversized_content_length_rejected_unread(self, live):
        """A hostile Content-Length 413s BEFORE the body is read — the
        declared size alone must not buy a giant allocation."""
        import http.client

        port, admin, *_ = live
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.putrequest("POST", "/api/v1/query")
        conn.putheader("Authorization", f"Bearer {admin}")
        conn.putheader("Content-Length", str(10 << 30))  # 10 GiB claim
        conn.endheaders()
        # server must answer without us sending a single body byte
        resp = conn.getresponse()
        assert resp.status == 413
        conn.close()

    def test_compaction_status_route(self, live):
        """GET /api/v1/compaction/status (reference compaction.go
        getCandidates): partitions eligible under the given thresholds."""
        port, admin, *_ = live
        status, body, _ = _req(
            port,
            "/api/v1/compaction/status?min_files=1&min_age_seconds=0",
            token=admin)
        assert status == 200
        out = json.loads(body)
        assert out["min_files"] == 1
        assert any(e["measurement"] == "cpu" and e["candidates"]
                   for e in out["eligible"])
        # tight thresholds → nothing eligible
        status, body, _ = _req(
            port, "/api/v1/compaction/status?min_files=99", token=admin)
        assert json.loads(body)["eligible"] == []

    def test_tiering_status_and_migrate_routes(self, spark, tmp_path):
        """GET /api/v1/tiering/status + POST /api/v1/tiering/migrate
        (reference tiering.go GetStatus/TriggerMigration)."""
        root, cold = str(tmp_path / "hot"), str(tmp_path / "cold")
        ingest = IngestService(spark, root, max_buffer_rows=10**9,
                               max_buffer_age_s=10**9)
        ingest.write_line_protocol(
            "metrics", b"cpu,host=a usage=0.5 1700000000000000000\n")
        ingest.flush()
        cat = MeasurementCatalog(spark, root, cold_root=cold)
        svc = QueryService(spark, cat)
        auth = AuthStore(str(tmp_path / "auth.db"))
        admin = auth.create_token("admin")
        server = ArcServer(svc, ingest, auth).start()
        try:
            status, body, _ = _req(server.port, "/api/v1/tiering/status",
                                   token=admin)
            assert status == 200
            out = json.loads(body)
            assert out["enabled"] is True
            cpu = next(m for m in out["measurements"]
                       if m["measurement"] == "cpu")
            assert len(cpu["hot_only"]) >= 1
            status, body, _ = _req(
                server.port, "/api/v1/tiering/migrate", method="POST",
                token=admin,
                body=json.dumps({"db": "metrics", "measurement": "cpu",
                                 "older_than_days": 0}).encode())
            assert status == 200
            assert len(json.loads(body)["migrated"]) >= 1
            # the day partition now lives on the cold tier
            status, body, _ = _req(server.port, "/api/v1/tiering/status",
                                   token=admin)
            cpu = next(m for m in json.loads(body)["measurements"]
                       if m["measurement"] == "cpu")
            assert len(cpu["cold_only"]) >= 1 and cpu["hot_only"] == []
        finally:
            server.stop()

    def test_import_tle(self, live):
        port, admin, *_ = live
        # canonical public ISS element set (valid checksums)
        tle = (
            "ISS (ZARYA)\n"
            "1 25544U 98067A   08264.51782528 -.00002182  00000-0 -11606-4 0  2927\n"
            "2 25544  51.6416 247.4627 0006703 130.5360 325.0288 15.72125391563537\n"
        )
        status, body, _ = _req(port, "/api/v1/import/tle?db=sat", "POST",
                               admin, tle.encode())
        assert status == 200 and json.loads(body)["written"] == 1

    def test_import_csv_roundtrip(self, live, spark):
        """POST a raw CSV body, then query the rows back through /query
        (reference import_inprocess.go CSV lane)."""
        port, admin, _limited, cat = live
        csv = (
            "time,host,usage\n"
            "2024-01-15T10:00:00,web1,0.25\n"
            "2024-01-15T11:00:00,web2,0.75\n"
        ).encode()
        status, body, _ = _req(
            port,
            "/api/v1/import/csv?db=metrics&measurement=csvimp&tags=host",
            "POST", admin, csv,
        )
        assert status == 200
        res = json.loads(body)
        assert res["rows_imported"] == 2
        assert "host" in res["columns"] and "time" in res["columns"]
        cat.register("metrics", "csvimp", view="csvimp")
        status, body, _ = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT host, usage FROM csvimp ORDER BY host"}).encode(),
        )
        assert status == 200
        text = body.decode()
        assert "web1" in text and "0.75" in text

    def test_import_parquet_roundtrip(self, live, spark):
        """POST a raw Parquet body (epoch-ms time column, auto-coerced)."""
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        port, admin, _limited, cat = live
        table = pa.table({
            "time": pa.array([1705312800000, 1705316400000], pa.int64()),
            "host": pa.array(["db1", "db2"]),
            "value": pa.array([1.5, 2.5]),
        })
        buf = io.BytesIO()
        pq.write_table(table, buf)
        status, body, _ = _req(
            port,
            "/api/v1/import/parquet?db=metrics&measurement=pqimp&tags=host",
            "POST", admin, buf.getvalue(),
        )
        assert status == 200
        res = json.loads(body)
        assert res["rows_imported"] == 2
        # epoch-ms magnitudes detected → µs timestamps
        assert res["time_range_min_us"] == 1705312800000 * 1000
        cat.register("metrics", "pqimp", view="pqimp")
        status, body, _ = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT host, value FROM pqimp ORDER BY host"}).encode(),
        )
        assert status == 200 and "db1" in body.decode()

    def test_show_tables_alias_and_from_db(self, live):
        port, admin, *_ = live
        for sql in ("SHOW TABLES FROM metrics", "SHOW MEASUREMENTS FROM metrics",
                    'SHOW TABLES FROM "metrics"'):
            status, body, _ = _req(port, "/api/v1/query", "POST", admin,
                                   json.dumps({"sql": sql}).encode())
            assert status == 200
            assert json.loads(body)["rows"] == [{"measurement": "cpu"}], sql

    def test_x_arc_database_header_scoping(self, live):
        port, admin, *_ = live
        # header scopes SHOW MEASUREMENTS and binds the bare measurement name
        status, body, _ = _req(port, "/api/v1/query", "POST", admin,
                               json.dumps({"sql": "SHOW TABLES"}).encode(),
                               headers={"x-arc-database": "metrics"})
        assert status == 200
        assert json.loads(body)["rows"] == [{"measurement": "cpu"}]
        status, body, _ = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT COUNT(*) AS n FROM cpu"}).encode(),
            headers={"x-arc-database": "metrics"})
        assert status == 200 and '"n"' in body.decode()
        # cross-database syntax is rejected under a scoped request
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", admin,
                 json.dumps({"sql": "SELECT * FROM otherdb.cpu"}).encode(),
                 headers={"x-arc-database": "metrics"})
        assert e.value.code == 400
        # invalid header database name rejected
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", admin,
                 json.dumps({"sql": "SELECT 1"}).encode(),
                 headers={"x-arc-database": "bad;name"})
        assert e.value.code == 400

    def test_database_management_routes(self, live):
        port, admin, limited, _cat = live
        # create
        status, body, _ = _req(port, "/api/v1/databases", "POST", admin,
                               json.dumps({"name": "newdb"}).encode())
        assert status == 201
        # get info
        status, body, _ = _req(port, "/api/v1/databases/newdb", token=admin)
        assert status == 200
        assert json.loads(body)["measurement_count"] == 0
        # per-db measurement listing route
        status, body, _ = _req(port, "/api/v1/databases/metrics/measurements",
                               token=admin)
        assert status == 200 and json.loads(body)["measurements"] == ["cpu"]
        # duplicate create → 409
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/databases", "POST", admin,
                 json.dumps({"name": "newdb"}).encode())
        assert e.value.code == 409
        # delete requires confirm
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/databases/newdb", "DELETE", admin)
        assert e.value.code == 400
        status, body, _ = _req(port, "/api/v1/databases/newdb?confirm=true",
                               "DELETE", admin)
        assert status == 200 and json.loads(body)["deleted"] == "newdb"
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/databases/newdb", token=admin)
        assert e.value.code == 404
        # non-admin cannot create
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/databases", "POST", limited,
                 json.dumps({"name": "x"}).encode())
        assert e.value.code == 403

    def test_dedicated_wire_format_routes(self, live):
        import pyarrow as pa

        port, admin, *_ = live
        status, body, headers = _req(
            port, "/api/v1/query/arrow", "POST", admin,
            json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert status == 200
        assert headers["Content-Type"] == "application/vnd.apache.arrow.stream"
        table = pa.ipc.open_stream(body).read_all()
        assert sorted(table.column("host").to_pylist()) == ["a", "b"]
        status, body, headers = _req(
            port, "/api/v1/query/msgpack", "POST", admin,
            json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert status == 200 and headers["Content-Type"] == "application/msgpack"

    def test_line_protocol_operational_routes(self, live):
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/write/line-protocol?db=metrics", "POST", admin,
            b"cpu,host=c usage=0.9 1700000120000000000\n")
        assert status == 200
        status, body, _ = _req(port, "/api/v1/write/line-protocol/stats",
                               token=admin)
        assert status == 200 and "acked" in json.loads(body)
        status, body, _ = _req(port, "/api/v1/write/line-protocol/flush",
                               "POST", admin)
        assert status == 200
        status, body, _ = _req(port, "/api/v1/write/line-protocol/health",
                               token=admin)
        assert status == 200 and json.loads(body)["status"] == "ok"

    def test_logs_and_json_metrics_routes(self, live):
        port, admin, *_ = live
        # generate a request, then read it back from the ring
        _req(port, "/api/v1/databases", token=admin)
        status, body, _ = _req(port, "/api/v1/logs?limit=5", token=admin)
        assert status == 200
        logs = json.loads(body)["logs"]
        assert logs and {"ts", "method", "path", "status"} <= set(logs[-1])
        status, body, _ = _req(port, "/api/v1/metrics", token=admin)
        assert status == 200
        m = json.loads(body)
        assert any(k.startswith("GET /api/v1/databases")
                   for k in m["http_requests"])
        assert "acked" in m["ingest"]
        status, body, _ = _req(port, "/api/v1/metrics/memory", token=admin)
        assert status == 200
        mem = json.loads(body)
        assert mem["jvm_total_bytes"] > 0 and mem["driver_max_rss_kb"] > 0

    def test_logs_limit_bounds_the_ring(self, live):
        port, admin, *_ = live
        for _ in range(20):
            _req(port, "/health")
        status, body, _ = _req(port, "/api/v1/logs?limit=0", token=admin)
        assert status == 200 and json.loads(body)["logs"] == []
        status, body, _ = _req(port, "/api/v1/logs?limit=5", token=admin)
        assert status == 200 and len(json.loads(body)["logs"]) == 5

    def test_mqtt_routes(self, spark, tmp_path):
        from arc_spark.sources.mqtt import MqttIngestBridge, MqttSubscription

        root = str(tmp_path / "mq")
        ingest = IngestService(spark, root)
        cat = MeasurementCatalog(spark, root)
        auth = AuthStore(str(tmp_path / "a.db"))
        admin = auth.create_token("admin")
        bridge = MqttIngestBridge(spark, root)
        bridge.subscribe(MqttSubscription("t/#", "iot", "x", "line_protocol"))
        server = ArcServer(QueryService(spark, cat), ingest, auth,
                           mqtt_bridge=bridge).start()
        try:
            status, body, _ = _req(server.port, "/api/v1/mqtt/health",
                                   token=admin)
            assert status == 200
            assert json.loads(body)["subscriptions"] == 1
            bridge.handle_message("t/1",
                                  b"x f=1 1700000000000000000\n")
            status, body, _ = _req(server.port, "/api/v1/mqtt/stats",
                                   token=admin)
            assert status == 200 and json.loads(body)["messages"] == 1
        finally:
            server.stop()
        # without a bridge the routes 503
        server2 = ArcServer(QueryService(spark, cat), ingest, auth).start()
        try:
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(server2.port, "/api/v1/mqtt/stats", token=admin)
            assert e.value.code == 503
        finally:
            server2.stop()

    def test_backup_restore_over_http(self, live, tmp_path):
        port, admin, *_ = live
        bdir = str(tmp_path / "http-backups")
        status, body, _ = _req(
            port, "/api/v1/backup", "POST", admin,
            json.dumps({"backup_root": bdir}).encode())
        assert status == 200
        man = json.loads(body)
        assert man["total_files"] > 0 and "metrics" in man["databases"]
        status, body, _ = _req(
            port, "/api/v1/restore", "POST", admin,
            json.dumps({"backup_root": bdir,
                        "backup_id": man["backup_id"]}).encode())
        assert status == 200
        # live tree untouched → everything skipped, nothing clobbered
        res = json.loads(body)
        assert res["restored_files"] == 0
        assert res["skipped_files"] == man["total_files"]

    def test_export_route_all_formats(self, live, tmp_path):
        """POST /api/v1/export: delta log + iceberg metadata in place,
        committed-only tree at dest_path; independent readers verify."""
        port, admin, limited, cat = live
        mp = os.path.join(cat.root, "metrics", "cpu")
        status, body, _ = _req(
            port, "/api/v1/export", "POST", admin,
            json.dumps({"db": "metrics", "measurement": "cpu"}).encode())
        assert status == 200 and json.loads(body)["version"] == 0
        assert os.path.isdir(os.path.join(mp, "_delta_log"))
        status, body, _ = _req(
            port, "/api/v1/export", "POST", admin,
            json.dumps({"db": "metrics", "measurement": "cpu",
                        "format": "iceberg"}).encode())
        assert status == 200
        from tests._iceberg_reader import read_table

        assert len(read_table(mp)["files"]) > 0
        dest = str(tmp_path / "http-export")
        status, body, _ = _req(
            port, "/api/v1/export", "POST", admin,
            json.dumps({"db": "metrics", "measurement": "cpu",
                        "format": "tree", "dest_path": dest}).encode())
        assert status == 200 and json.loads(body)["files"] > 0
        from tests._delta_reader import read_state

        assert len(read_state(os.path.join(dest, "metrics", "cpu"))
                   ["files"]) > 0
        # non-admin 403; bad format / missing dest 400; unknown 400
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/export", "POST", limited,
                 json.dumps({"db": "metrics", "measurement": "cpu"}).encode())
        assert e.value.code == 403
        for bad in ({"db": "metrics", "measurement": "cpu", "format": "x"},
                    {"db": "metrics", "measurement": "cpu",
                     "format": "tree"},
                    {"db": "metrics"},
                    {"db": "metrics", "measurement": "nope"}):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, "/api/v1/export", "POST", admin,
                     json.dumps(bad).encode())
            assert e.value.code == 400, bad

    def test_import_csv_requires_admin(self, live):
        port, _admin, limited, _cat = live
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/import/csv?db=metrics&measurement=x",
                 "POST", limited, b"time,v\n2024-01-01,1\n")
        assert e.value.code == 403


class TestGovernanceAndCqRoutes:
    def test_governance_policy_applies(self, live):
        port, admin, *_ = live
        # mint a token, give it a 1-row cap, watch the cap bite
        status, body, _ = _req(
            port, "/api/v1/auth/tokens", "POST", admin,
            json.dumps({"name": "capped"}).encode(),
        )
        tok = json.loads(body)["token"]
        status, _, _ = _req(port, "/api/v1/governance", "POST", admin,
                            json.dumps({"token": tok, "max_rows": 1}).encode())
        assert status == 200
        status, body, _ = _req(
            port, "/api/v1/query", "POST", tok,
            json.dumps({"sql": "SELECT host FROM cpu", "format": "arrow"}).encode(),
        )
        import pyarrow as pa

        assert pa.ipc.open_stream(body).read_all().num_rows == 1

    def test_cq_lifecycle(self, live):
        port, admin, *_ = live
        cq = {
            "name": "cpu_hourly",
            "sql": ("SELECT COUNT(*) AS n FROM cpu "
                    "WHERE time >= {start_time} AND time < {end_time}"),
            "dest_db": "rollups", "dest_measurement": "cpu_hourly",
            "interval_seconds": 3600,
        }
        status, body, _ = _req(port, "/api/v1/continuous_queries", "POST",
                               admin, json.dumps(cq).encode())
        assert status == 201
        status, body, _ = _req(port, "/api/v1/continuous_queries", token=admin)
        assert [c["name"] for c in json.loads(body)["continuous_queries"]] == ["cpu_hourly"]
        status, body, _ = _req(
            port, "/api/v1/continuous_queries/cpu_hourly/run", "POST", admin, b"{}"
        )
        assert status == 200 and "ran" in json.loads(body)
        status, body, _ = _req(port, "/api/v1/continuous_queries/cpu_hourly",
                               "DELETE", admin)
        assert status == 200 and json.loads(body)["removed"]

    def test_cq_rejects_non_select(self, live):
        port, admin, *_ = live
        cq = {"name": "bad", "sql": "DROP TABLE cpu",
              "dest_db": "x", "dest_measurement": "y", "interval_seconds": 60}
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/continuous_queries", "POST", admin,
                 json.dumps(cq).encode())
        assert e.value.code == 400


class TestReviewRegressions:
    def test_metrics_requires_auth(self, live):
        port, *_ = live
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/metrics")
        assert e.value.code == 401

    def test_restricted_token_cannot_write(self, live):
        """A read-scoped token must not inject rows anywhere: LP payloads
        name arbitrary measurements, so writes need an unrestricted token."""
        port, _admin, limited, _cat = live
        for path in ("/api/v1/write/line?db=metrics",
                     "/api/v1/write/msgpack?db=metrics"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, path, "POST", limited,
                     b"cpu,host=x usage=1 1700000000000000000\n")
            assert e.value.code == 403, path


class TestOperationalRoutes:
    """Round-3 surface: /ready, InfluxDB-v2 write, msgpack spec,
    plan-cache stats/invalidate, CQ pause/resume."""

    def test_ready(self, live):
        port, *_ = live
        status, body, _ = _req(port, "/ready")
        assert status == 200 and json.loads(body)["status"] == "ready"

    def test_v2_write_compat(self, live):
        port, admin, *_ = live
        import urllib.request

        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v2/write?bucket=metrics&precision=ns",
            data=b"cpu,host=v2 usage=0.9 1700000120000000000\n",
            method="POST")
        req.add_header("Authorization", f"Bearer {admin}")
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 204  # the v2 contract (Telegraf checks it)
        _req(port, "/api/v1/write/line-protocol/flush", "POST", admin, b"{}")
        status, body, _ = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT host FROM cpu WHERE host = 'v2'"}).encode())
        assert status == 200 and "v2" in body.decode()

    def test_v1_write_compat(self, live):
        """InfluxDB-1.x shape (reference lineprotocol.go WriteV1):
        POST /write?db=&rp=&precision= — rp ignored, 204 on success,
        x-arc-database header beats the db param, bad precision 400s
        upfront (it must not poison a deferred flush later)."""
        port, admin, *_ = live
        import urllib.request

        def post(path, headers=None, data=b"cpu,host=v1 usage=0.4 "
                                          b"1700000121000000000\n"):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=data,
                method="POST")
            req.add_header("Authorization", f"Bearer {admin}")
            for k, v in (headers or {}).items():
                req.add_header(k, v)
            try:
                with urllib.request.urlopen(req, timeout=60) as resp:
                    return resp.status
            except urllib.error.HTTPError as e:
                return e.code

        assert post("/write?db=metrics&rp=default&precision=ns") == 204
        # header precedence: the param says a bogus db, header wins
        assert post("/write?db=nope_unused",
                    headers={"x-arc-database": "metrics"}) == 204
        assert post("/write?db=metrics&precision=fortnights") == 400
        assert post("/api/v2/write?bucket=metrics&precision=eons") == 400
        # 'u' (InfluxDB-1.x microseconds spelling) is in the parser's
        # table and must stay accepted (r8 review: the first whitelist
        # regressed it); distinct host keeps the v1 count below at 2
        assert post("/write?db=metrics&precision=u",
                    data=b"cpu,host=u1 usage=0.1 1700000121000000\n") == 204
        _req(port, "/api/v1/write/line-protocol/flush", "POST", admin, b"{}")
        status, body, _ = _req(
            port, "/api/v1/query", "POST", admin,
            json.dumps({"sql": "SELECT COUNT(*) AS n FROM cpu "
                               "WHERE host = 'v1'"}).encode())
        assert status == 200
        chunks = json.loads(body)  # JSON array of typed-JSON chunk docs
        data = [r for c in chunks if isinstance(c, dict)
                for r in c.get("data", [])]
        assert data and data[0][0] == 2, body

    def test_msgpack_spec(self, live):
        port, *_ = live
        status, body, _ = _req(port, "/api/v1/write/msgpack/spec")
        spec = json.loads(body)
        assert spec["format"] == "columnar" and "zstd" in spec["compression"]

    def test_cache_stats_and_invalidate(self, live):
        port, admin, *_ = live
        # a FILTTERED measurement request routes through prune_sql (the
        # trivial no-where shape takes the native fast scan instead):
        # two identical calls → second is a cache hit
        for _ in range(2):
            _req(port,
                 "/api/v1/query/cpu?db=metrics&limit=5"
                 "&where=usage%20%3E%200",
                 token=admin)
        status, body, _ = _req(port, "/api/v1/cache/stats", token=admin)
        stats = json.loads(body)
        assert status == 200 and stats["entries"] >= 1 and stats["hits"] >= 1
        status, body, _ = _req(port, "/api/v1/cache/invalidate", "POST",
                               admin, b"")
        assert json.loads(body)["invalidated"] >= 1
        status, body, _ = _req(port, "/api/v1/cache/stats", token=admin)
        assert json.loads(body)["entries"] == 0

    def test_cq_pause_resume(self, live):
        port, admin, *_ = live
        cq = {
            "name": "pausable",
            "sql": ("SELECT COUNT(*) AS n FROM cpu "
                    "WHERE time >= {start_time} AND time < {end_time}"),
            "dest_db": "rollups", "dest_measurement": "p1",
            "interval_seconds": 3600,
        }
        status, *_ = _req(port, "/api/v1/continuous_queries", "POST",
                          admin, json.dumps(cq).encode())
        assert status == 201
        status, body, _ = _req(
            port, "/api/v1/continuous_queries/pausable/pause", "POST",
            admin, b"")
        assert json.loads(body)["paused"] is True
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/continuous_queries/pausable/run", "POST",
                 admin, b"{}")
        assert e.value.code == 409
        status, body, _ = _req(
            port, "/api/v1/continuous_queries/pausable/resume", "POST",
            admin, b"")
        assert json.loads(body)["paused"] is False
        status, body, _ = _req(
            port, "/api/v1/continuous_queries/pausable/run", "POST",
            admin, b"{}")
        assert status == 200


def test_query_pool_and_memstats_routes(live):
    """query-pool stats + debug memstats (reference
    /api/v1/metrics/query-pool, /api/v1/debug/memstats)."""
    port, admin, *_ = live
    status, body, _ = _req(
        port, "/api/v1/query", "POST", admin,
        json.dumps({"sql": "SELECT count(*) AS n FROM cpu"}).encode())
    assert status == 200
    status, body, _ = _req(port, "/api/v1/metrics/query-pool", token=admin)
    pool = json.loads(body)
    assert status == 200 and pool["total_tracked"] >= 1
    assert pool["by_status"].get("done", 0) >= 1
    status, body, _ = _req(port, "/api/v1/debug/memstats", token=admin)
    ms = json.loads(body)
    assert status == 200
    assert ms["jvm"]["used_bytes"] > 0 and ms["process"]["max_rss_kb"] > 0


class TestQueryHistoryRoutes:
    """Reference /api/v1/queries/history + GET-by-id (queryregistry ring)."""

    def test_history_and_get_by_id(self, live):
        port, admin, *_ = live
        _req(port, "/api/v1/query", "POST", admin,
             json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        status, body, _ = _req(port, "/api/v1/queries/history", token=admin)
        assert status == 200
        queries = json.loads(body)["queries"]
        assert queries and queries[0]["status"] == "done"
        qid = queries[0]["query_id"]
        status, body, _ = _req(port, f"/api/v1/queries/{qid}", token=admin)
        assert status == 200 and json.loads(body)["query_id"] == qid
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/queries/nope", token=admin)
        assert e.value.code == 404
        # /active shows nothing once the query finished
        status, body, _ = _req(port, "/api/v1/queries/active", token=admin)
        assert json.loads(body)["queries"] == []


class TestGovernanceAdminSurface:
    def test_list_usage_delete_policies(self, live):
        """reference governance.go ListPolicies/GetUsage/DeletePolicy —
        tokens masked in listings, body-carried for delete/usage."""
        port, admin, *_ = live
        status, body, _ = _req(
            port, "/api/v1/auth/tokens", "POST", admin,
            json.dumps({"name": "svc1"}).encode())
        tok = json.loads(body)["token"]
        _req(port, "/api/v1/governance", "POST", admin,
             json.dumps({"token": tok, "max_rows": 9,
                         "max_queries_per_minute": 100}).encode())
        status, body, _ = _req(port, "/api/v1/governance", token=admin)
        listing = json.loads(body)
        assert listing["count"] == 1
        masked = listing["policies"][0]["token_masked"]
        assert tok not in json.dumps(listing) and "…" in masked
        assert listing["policies"][0]["max_rows"] == 9
        # consume one admit, check usage
        _req(port, "/api/v1/query", "POST", tok,
             json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        status, body, _ = _req(
            port, "/api/v1/governance/usage", "POST", admin,
            json.dumps({"token": tok}).encode())
        usage = json.loads(body)
        assert usage["queries_last_minute"] >= 1
        assert usage["remaining"] <= 99 and usage["has_policy"]
        status, body, _ = _req(
            port, "/api/v1/governance/delete", "POST", admin,
            json.dumps({"token": tok}).encode())
        assert json.loads(body)["deleted"] is True
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/governance/delete", "POST", admin,
                 json.dumps({"token": tok}).encode())
        assert e.value.code == 404


class TestAuthVerifyAndSpokeAdmin:
    """r13: GET /api/v1/auth/verify (reference auth_routes.go:54 — a
    public credential probe that self-reports validity) and the
    per-spoke admin verbs (edgesync_admin.go:64)."""

    def test_auth_verify_valid_token(self, live):
        port, admin, limited, _ = live
        status, body, _ = _req(port, "/api/v1/auth/verify", token=admin)
        out = json.loads(body)
        assert status == 200 and out["valid"] is True
        assert out["token_info"]["name"] == "admin"
        assert out["token_info"]["restricted"] is False
        assert "read" in out["permissions"]
        # restricted token: valid, flagged restricted, token not echoed
        status, body, _ = _req(port, "/api/v1/auth/verify", token=limited)
        out = json.loads(body)
        assert status == 200 and out["valid"] is True
        assert out["token_info"]["restricted"] is True
        assert limited not in body.decode()

    def test_auth_verify_missing_and_bad_token(self, live):
        port, *_ = live
        for tok, msg in ((None, "no token provided"),
                         ("bogus-token", "invalid or expired token")):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, "/api/v1/auth/verify", token=tok)
            assert e.value.code == 401
            out = json.loads(e.value.read())
            assert out["valid"] is False and out["error"] == msg

    def test_spoke_admin_no_registry_503(self, live):
        port, admin, *_ = live
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/sync-spokes", token=admin)
        assert e.value.code == 503

    def test_spoke_admin_verbs(self, spark, tmp_path):
        from arc_spark.server import ArcServer
        from arc_spark.sources.edgesync_bundle import SpokeRegistry

        root = str(tmp_path / "data")
        ingest = IngestService(spark, root, max_buffer_rows=10**9,
                               max_buffer_age_s=10**9)
        svc = QueryService(spark, MeasurementCatalog(spark, root))
        auth = AuthStore(str(tmp_path / "auth.db"))
        admin = auth.create_token("admin")
        limited = auth.create_token("limited",
                                    allowed_tables=["other_table"])
        server = ArcServer(svc, ingest, auth)
        reg = SpokeRegistry()
        server.bundle_registry = reg  # build_engine wires this when the
        # hub bundle-import config is on; the routes need only the object
        server.start()
        port = server.port
        self._drive(port, admin, limited, reg)
        server.stop()

    def _drive(self, port, admin, limited, reg):
        # register (existing route) then exercise the r13 verbs
        _req(port, "/api/v1/sync-spokes", method="POST", token=admin,
             body=json.dumps({"spoke_id": "edge-9",
                              "secret": "s0"}).encode())
        status, body, _ = _req(port, "/api/v1/sync-spokes", token=admin)
        out = json.loads(body)
        assert status == 200
        assert [s["spoke_id"] for s in out["spokes"]] == ["edge-9"]
        assert "secret" not in json.dumps(out["spokes"])
        # get one
        status, body, _ = _req(port, "/api/v1/sync-spokes/edge-9",
                               token=admin)
        assert json.loads(body) == {"spoke_id": "edge-9", "enabled": True}
        # disable / enable
        status, body, _ = _req(port, "/api/v1/sync-spokes/edge-9/disable",
                               method="POST", token=admin, body=b"")
        assert json.loads(body)["enabled"] is False
        assert reg.get("edge-9")["enabled"] is False
        status, body, _ = _req(port, "/api/v1/sync-spokes/edge-9/enable",
                               method="POST", token=admin, body=b"")
        assert json.loads(body)["enabled"] is True
        # rotate: new secret returned once, replaces the old
        status, body, _ = _req(port, "/api/v1/sync-spokes/edge-9/rotate",
                               method="POST", token=admin, body=b"")
        out = json.loads(body)
        assert out["spoke_id"] == "edge-9" and len(out["secret"]) == 64
        assert reg.get("edge-9")["secret"] == out["secret"] != "s0"
        # verbs on unknown spokes → 404
        for verb in ("rotate", "enable", "disable"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, f"/api/v1/sync-spokes/ghost/{verb}",
                     method="POST", token=admin, body=b"")
            assert e.value.code == 404
        # delete → gone from list; second delete 404
        status, body, _ = _req(port, "/api/v1/sync-spokes/edge-9",
                               method="DELETE", token=admin)
        assert json.loads(body)["deleted"] is True
        status, body, _ = _req(port, "/api/v1/sync-spokes", token=admin)
        assert json.loads(body)["spokes"] == []
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/sync-spokes/edge-9", method="DELETE",
                 token=admin)
        assert e.value.code == 404
        # non-admin token → 403 on every surface incl. the read path
        for path, method in (("/api/v1/sync-spokes", "GET"),
                             ("/api/v1/sync-spokes/x/rotate", "POST")):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, path, method=method, token=limited,
                     body=b"" if method == "POST" else None)
            assert e.value.code == 403
