"""One serving path: native routes and the Spark route reach the wire
through the same ``serving.encode`` over an Arrow table, so their
outputs, history records and metrics agree."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from arc_spark.api import IngestService, QueryService
from arc_spark.auth import AuthStore
from arc_spark.catalog import MeasurementCatalog
from arc_spark.server import ArcServer
from arc_spark.sources.msgpack_codec import unpackb

_LP = (b"cpu,host=a usage=0.5 1700000000000000000\n"
       b"cpu,host=b usage=0.7 1700000060000000000\n"
       b"cpu,host=c usage=0.9 1700000120000000000\n")


def _ingest(spark, root) -> IngestService:
    ing = IngestService(spark, root, max_buffer_rows=10**9,
                        max_buffer_age_s=10**9)
    ing.write_line_protocol("metrics", _LP)
    ing.flush()
    return ing


def _service(spark, root) -> QueryService:
    _ingest(spark, root)
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    svc.register_measurement("metrics", "cpu", view="cpu")
    return svc


def _req(port, path, method="GET", token=None, body=None):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}",
                                 data=body, method=method)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, resp.read(), dict(resp.headers)


class TestQueryServiceServing:
    def test_native_count_starts_no_spark_job(self, spark, tmp_path,
                                              spark_jobs):
        """A footer COUNT(*) in json/msgpack is answered from metadata —
        no Spark job, as in the arrow and rows formats."""
        svc = _service(spark, str(tmp_path))
        with spark_jobs.started() as jobs:
            for fmt in ("json", "msgpack", "arrow", "rows"):
                svc.execute("SELECT COUNT(*) FROM cpu", fmt=fmt)
        assert jobs == []
        with spark_jobs.started() as jobs:
            spark.range(3).count()  # the probe does see a job
        assert jobs != []

    def test_job_probe_sees_the_spark_route(self, spark, tmp_path,
                                            spark_jobs):
        """The probe counts jobs started under the registry's own job
        group — a native route that fell back to Spark cannot hide."""
        svc = _service(spark, str(tmp_path))
        with spark_jobs.started() as jobs:
            svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1")
        assert jobs != []

    @pytest.mark.parametrize("sql, want", [
        ("SELECT COUNT(*) AS n FROM cpu", [{"n": 3}]),
        ("SELECT MIN(time) AS lo, MAX(time) AS hi FROM cpu",
         [{"lo": "2023-11-14 22:13:20", "hi": "2023-11-14 22:15:20"}]),
        ("SELECT * FROM cpu WHERE time >= '2023-11-14 22:14:00' "
         "AND time < '2023-11-14 22:16:00' LIMIT 10",
         [{"host": "b"}, {"host": "c"}]),
    ])
    def test_first_scoped_query_on_a_database_is_native(
            self, spark, tmp_path, spark_jobs, sql, want):
        """The first db-scoped COUNT(*), MIN/MAX(time) or time-range
        page on a database no query has touched resolves its table from
        storage: no Spark job, no view registered."""
        _ingest(spark, str(tmp_path))
        cat = MeasurementCatalog(spark, str(tmp_path))
        svc = QueryService(spark, cat)
        with spark_jobs.started() as jobs:
            rows = svc.execute(sql, db="metrics")
        assert jobs == []
        assert cat.views_for("metrics", "cpu") == set()
        assert cat.view_binding("cpu") is None
        got = [{k: (v.strftime("%Y-%m-%d %H:%M:%S")
                    if hasattr(v, "strftime") else v)
                for k, v in r.asDict().items() if k in want[0]}
               for r in rows]
        assert got == want

    def test_spark_path_json_labels_bool(self, spark, tmp_path):
        svc = _service(spark, str(tmp_path))
        chunks = svc.execute(
            "SELECT host, usage > 0.6 AS hot FROM cpu ORDER BY host",
            fmt="json")
        header = json.loads(chunks[0])["columns"]
        assert header == [{"name": "host", "type": "string"},
                          {"name": "hot", "type": "bool"}]
        data = [r for c in chunks[1:] for r in json.loads(c)["data"]]
        assert data == [["a", False], ["b", True], ["c", True]]

    def test_spark_path_empty_arrow_keeps_schema(self, spark, tmp_path):
        svc = _service(spark, str(tmp_path))
        blob = svc.execute("SELECT time, usage FROM cpu WHERE usage > 100",
                           fmt="arrow")
        table = pa.ipc.open_stream(blob).read_all()
        assert table.num_rows == 0
        assert table.schema.field("time").type == pa.timestamp("us",
                                                               tz="UTC")
        assert table.schema.field("usage").type == pa.float64()

    @pytest.mark.parametrize("fmt", ["rows", "json", "arrow", "msgpack"])
    def test_history_rows_is_row_count(self, spark, tmp_path, fmt):
        """The history ring records the result's rows for every wire
        format — not a byte or chunk count."""
        svc = _service(spark, str(tmp_path))
        svc.execute("SELECT * FROM cpu WHERE usage >= 0", fmt=fmt)
        last = svc.registry.history()[0]
        assert last.status == "done" and last.rows == 3


@pytest.fixture()
def live(spark, tmp_path):
    root = str(tmp_path / "data")
    ingest = _ingest(spark, root)
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    svc.register_measurement("metrics", "cpu", view="cpu")
    auth = AuthStore(str(tmp_path / "auth.db"))
    admin = auth.create_token("admin")
    server = ArcServer(svc, ingest, auth).start()
    try:
        yield server.port, admin, svc, ingest
    finally:
        server.stop()


class TestHttpServing:
    def test_measurement_route_spark_fallback_honours_format(self, live):
        """order_by sends GET /api/v1/query/:m to the Spark path; it must
        still answer in the requested wire format, with the native
        route's rows."""
        port, admin, *_ = live
        base = "/api/v1/query/cpu?db=metrics"
        _, native, _ = _req(port, base + "&format=arrow", token=admin)
        status, body, headers = _req(
            port, base + "&order_by=time&format=arrow", token=admin)
        assert status == 200
        assert headers["Content-Type"] == \
            "application/vnd.apache.arrow.stream"
        sparked = pa.ipc.open_stream(body).read_all()
        want = pa.ipc.open_stream(native).read_all()
        assert sparked.column_names == want.column_names
        assert sparked.to_pylist() == sorted(want.to_pylist(),
                                             key=lambda r: r["time"])
        status, body, headers = _req(
            port, base + "&order_by=time&format=msgpack", token=admin)
        assert headers["Content-Type"] == "application/msgpack"
        obj = unpackb(body)
        assert obj["column_order"] == want.column_names
        assert [h for fr in obj["frames"] for h in fr["columns"]["host"]] \
            == ["a", "b", "c"]
        # the route's JSON shape is unchanged: {"rows": [row dicts]}
        _, body, _ = _req(port, base + "&order_by=time", token=admin)
        assert [r["host"] for r in json.loads(body)["rows"]] == \
            ["a", "b", "c"]

    def test_compaction_leaves_view_rebuild_to_the_reader(self, live,
                                                          monkeypatch):
        port, admin, svc, ingest = live
        # a second file in the same hour partition makes it a candidate
        ingest.write_line_protocol(
            "metrics", b"cpu,host=d usage=0.1 1700000180000000000\n")
        ingest.flush()
        cat = svc.catalog
        calls = []
        orig = cat.invalidate

        def counting(*a, **kw):
            calls.append(a)
            return orig(*a, **kw)

        monkeypatch.setattr(cat, "invalidate", counting)
        status, body, _ = _req(
            port, "/api/v1/compaction", "POST", admin,
            json.dumps({"db": "metrics", "measurement": "cpu",
                        "min_files": 2, "min_age_seconds": 0}).encode())
        assert status == 200 and json.loads(body)["results"]
        assert calls == []  # the compaction commit is the only signal
        assert svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1")[0][0] == 4

    def test_compaction_route_unlinks_its_inputs_before_replying(
            self, live):
        """With no query in flight, POST /api/v1/compaction answers with
        its inputs already unlinked; a read held open across it keeps
        them until the read ends."""
        import os

        from arc_spark import snapshots

        port, admin, svc, ingest = live
        tree = os.path.join(ingest.root, "metrics", "cpu")
        body = json.dumps({"db": "metrics", "measurement": "cpu",
                           "min_files": 2, "min_age_seconds": 0}).encode()

        def flush_one_more(host):
            ingest.write_line_protocol(
                "metrics", f"cpu,host={host} usage=0.1 "
                           "1700000180000000000\n".encode())
            ingest.flush()
            return snapshots.data_files(tree)

        inputs = flush_one_more("d")
        assert len(inputs) == 2
        status, _, _ = _req(port, "/api/v1/compaction", "POST", admin, body)
        assert status == 200
        assert not any(os.path.exists(f) for f in inputs)
        inputs = flush_one_more("e")
        with snapshots.reading():
            _req(port, "/api/v1/compaction", "POST", admin, body)
            assert all(os.path.exists(f) for f in inputs)
        assert not any(os.path.exists(f) for f in inputs)
        assert svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1")[0][0] == 5

    def test_metrics_query_counters_never_decrease(self, live):
        """arc_queries_total / arc_query_seconds_total are Prometheus
        counters: evicting entries from the 100-entry history ring must
        not lower them."""
        port, admin, svc, _ = live

        def scrape() -> dict[str, float]:
            _, body, _ = _req(port, "/metrics", token=admin)
            out = {}
            for line in body.decode().splitlines():
                if line.startswith(("arc_queries_total",
                                    "arc_query_seconds_total")):
                    name, value = line.rsplit(" ", 1)
                    out[name] = float(value)
            return out

        with pytest.raises(Exception):
            svc.execute("SELECT CAST(host AS INT) FROM cpu WHERE usage >= 0")
        first = scrape()
        assert first['arc_queries_total{status="error"}'] == 1
        for _ in range(105):
            svc.execute("SELECT COUNT(*) FROM cpu")
        second = scrape()
        for name, value in first.items():
            assert second.get(name, 0.0) >= value, name
        assert second['arc_queries_total{status="done"}'] == 105


def test_every_query_records_its_route(live):
    """One query of each route: the history endpoint returns each entry's
    route, and /metrics counts queries per route over the fixed label
    set."""
    port, admin, svc, _ = live

    def routes_metric() -> dict[str, float]:
        _, body, _ = _req(port, "/metrics", token=admin)
        return {line.split('"')[1]: float(line.rsplit(" ", 1)[1])
                for line in body.decode().splitlines()
                if line.startswith("arc_queries_by_route_total{")}

    assert routes_metric() == {"native_count": 0, "native_scan": 0,
                               "native_agg": 0, "spark": 0}
    queries = {
        "native_count": "SELECT COUNT(*) FROM cpu",
        "native_scan": "SELECT * FROM cpu LIMIT 2",
        "native_agg": "SELECT host, AVG(usage) FROM cpu GROUP BY host",
        "spark": "SELECT host FROM cpu WHERE usage > 0.6",
    }
    for sql in queries.values():
        status, _, _ = _req(port, "/api/v1/query", "POST", admin,
                            json.dumps({"sql": sql}).encode())
        assert status == 200
    # GET /api/v1/query/:m runs the same routes: no where and a pure
    # time range natively, any other where or an order_by on Spark
    gets = {
        "": "native_scan",
        "&where=time%20%3E%3D%20%272023-11-14%2022%3A14%3A00%27":
            "native_scan",
        "&where=usage%20%3E%200.6": "spark",
        "&where=usage%20%3E%200.6&order_by=usage%20DESC": "spark",
    }
    get_routes = []
    for args in gets:
        status, _, _ = _req(port, "/api/v1/query/cpu?db=metrics" + args,
                            token=admin)
        assert status == 200
        get_routes.append(svc.registry.history()[0].route)
    assert get_routes == list(gets.values())
    _, body, _ = _req(port, "/api/v1/queries/history", token=admin)
    by_sql = {q["sql"]: q["route"] for q in json.loads(body)["queries"]}
    assert {r: by_sql[sql] for r, sql in queries.items()} == {
        r: r for r in queries}
    assert routes_metric() == {"native_count": 1.0, "native_scan": 3.0,
                               "native_agg": 1.0, "spark": 3.0}
