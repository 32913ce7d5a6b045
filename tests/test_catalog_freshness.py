"""Catalog freshness is pulled from the committed snapshot at read time.

Writers only commit snapshots; a reader binds its views
(``QueryService._bind`` → ``MeasurementCatalog.register``) and the footer
caches key on the committed state, so every read after a commit sees the
committed rows — whichever writer committed them, and whatever the
catalog was told."""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

from arc_spark.api import IngestService, QueryService
from arc_spark.auth import AuthStore
from arc_spark.catalog import MeasurementCatalog
from arc_spark.server import ArcServer
from arc_spark.sources.writer import write_measurement
from arc_spark.streaming.cq import ContinuousQuery

_SCHEMA = "time timestamp, host string, value double"


def _write(spark, root, n, db="metrics", meas="cpu", t0=None, first=0):
    """``n`` rows one minute apart from ``t0``, committed the way a CQ
    or an import writes: write_measurement, no ingest service."""
    t0 = t0 or dt.datetime(2024, 3, 1, 10, 0)
    rows = [(t0 + dt.timedelta(minutes=first + i), f"h{i % 2}", float(i))
            for i in range(n)]
    write_measurement(spark.createDataFrame(rows, _SCHEMA), root, db, meas,
                      tag_columns=["host"])


def test_cq_destination_native_count_after_run_once(spark, tmp_path):
    root = str(tmp_path / "data")
    src = [(dt.datetime(2024, 3, 1, 10, i), "h", float(i)) for i in range(3)]
    src += [(dt.datetime(2024, 3, 1, 11, i), "h", float(i))
            for i in range(4)]
    spark.createDataFrame(src, _SCHEMA).createOrReplaceTempView(
        "fresh_cq_raw")
    cq = ContinuousQuery(
        name="copy", sql=("SELECT time, value FROM fresh_cq_raw "
                          "WHERE time >= {start_time} AND time < {end_time}"),
        dest_db="rollups", dest_measurement="copied", interval_seconds=3600,
        checkpoint_dir=str(tmp_path / "ckpt"))
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    count = "SELECT COUNT(*) AS n FROM copied"
    assert cq.run_once(spark, root, now=dt.datetime(2024, 3, 1, 11, 0, 5))["ran"]
    assert svc.execute(count, db="rollups")[0]["n"] == 3
    assert cq.run_once(spark, root, now=dt.datetime(2024, 3, 1, 12, 0, 5))["ran"]
    assert svc.execute(count, db="rollups")[0]["n"] == 7


def test_cq_reads_a_source_view_that_grew(spark, tmp_path):
    """POST /api/v1/continuous_queries/<name>/run over a catalog view:
    rows committed to the view's measurement after the view was built
    are aggregated."""
    root = str(tmp_path / "data")
    t0 = dt.datetime(2000, 1, 1)
    _write(spark, root, 3, t0=t0)
    ingest = IngestService(spark, root, max_buffer_rows=10**9,
                           max_buffer_age_s=10**9)
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    svc.register_measurement("metrics", "cpu", view="grown_src")
    assert svc.execute("SELECT COUNT(*) FROM grown_src WHERE 1=1")[0][0] == 3
    _write(spark, root, 4, t0=t0, first=3)
    auth = AuthStore(str(tmp_path / "auth.db"))
    admin = auth.create_token("admin")
    server = ArcServer(svc, ingest, auth).start()

    def post(path, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}{path}",
            data=json.dumps(body).encode(), method="POST")
        req.add_header("Authorization", f"Bearer {admin}")
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    try:
        # one window, [1970-01-01, 2001-09-09), holds every row
        post("/api/v1/continuous_queries", {
            "name": "grown", "dest_db": "rollups",
            "dest_measurement": "grown_n", "interval_seconds": 10**9,
            "sql": ("SELECT COUNT(*) AS n FROM grown_src WHERE time >= "
                    "{start_time} AND time < {end_time}")})
        assert post("/api/v1/continuous_queries/grown/run", {})["ran"]
    finally:
        server.stop()
    assert [r["n"] for r in cat.table("rollups", "grown_n").collect()] == [7]


def test_unscoped_view_reads_a_direct_write(spark, tmp_path):
    root = str(tmp_path / "data")
    _write(spark, root, 3)
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    svc.register_measurement("metrics", "cpu", view="direct_view")
    spark_route = "SELECT COUNT(*) FROM direct_view WHERE 1=1"
    native = "SELECT COUNT(*) FROM direct_view"
    assert svc.execute(spark_route)[0][0] == 3
    assert svc.execute(native)[0][0] == 3
    _write(spark, root, 4, first=3)
    assert svc.execute(spark_route)[0][0] == 7
    assert svc.execute(native)[0][0] == 7


def test_write_inside_the_prune_override_window(spark, tmp_path,
                                                monkeypatch):
    """A commit plus invalidate() landing while prune_sql has the view
    overridden: the restore puts the old plan back, and the next query
    must still read the committed rows."""
    from arc_spark.plans import time_pruning

    root = str(tmp_path / "data")
    _write(spark, root, 3)
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    orig = time_pruning.derived_partition_predicate
    fired = []

    def write_then_predicate(*a, **kw):
        if not fired:
            fired.append(True)
            _write(spark, root, 4, first=3)
            cat.invalidate("metrics", "cpu")
        return orig(*a, **kw)

    monkeypatch.setattr(time_pruning, "derived_partition_predicate",
                        write_then_predicate)
    svc.execute("SELECT COUNT(*) FROM cpu "
                "WHERE time >= TIMESTAMP '2024-03-01 00:00:00'",
                db="metrics")
    assert fired
    assert svc.execute("SELECT COUNT(*) FROM cpu WHERE value >= 0",
                       db="metrics")[0][0] == 7


def test_native_measurement_route_builds_no_view(spark, tmp_path,
                                                 spark_jobs):
    """GET /api/v1/query/:m's native scan checks RBAC on the
    (db, measurement) pair: on a fresh catalog it starts no Spark job and
    registers no view."""
    root = str(tmp_path / "data")
    _write(spark, root, 3, db="routedb")
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    with spark_jobs.started() as jobs:
        rows = svc.query_measurement("routedb", "cpu", limit=10)
    assert len(rows) == 3
    assert jobs == []
    assert cat._views == {}
    assert not spark.catalog.tableExists("routedb_cpu")


def test_invalidate_rebuilds_no_view(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "data")
    _write(spark, root, 3)
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    svc.register_measurement("metrics", "cpu", view="stale_view")

    def no_table(*a, **kw):
        raise AssertionError("invalidate rebuilt a view")

    monkeypatch.setattr(cat, "table", no_table)
    cat.invalidate("metrics", "cpu")
    monkeypatch.undo()
    # the next read rebuilds it
    assert svc.execute("SELECT COUNT(*) FROM stale_view WHERE 1=1")[0][0] == 3


def test_register_rebuild_over_local_files_starts_no_job(spark, tmp_path,
                                                         spark_jobs):
    """With every storage root local, engine build raises Spark's
    parallel-listing threshold, so a view rebuild over 48 committed files
    lists them on the driver: no Spark job. At Spark's default threshold
    (32 paths) the same rebuild lists them with a job."""
    import pyarrow as pa

    from arc_spark.session import serial_file_listing
    from arc_spark.sources.writer import write_measurement_arrow

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    root = str(tmp_path / "data")
    t0 = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z

    def commit_hour(h):
        write_measurement_arrow(pa.table({
            "time": pa.array([t0 + h * 3_600_000_000], pa.int64()),
            "host": ["a"], "value": [float(h)]}), root, "metrics", "cpu")

    for h in range(47):
        commit_hour(h)
    cat = MeasurementCatalog(spark, root)
    try:
        serial_file_listing(spark, (root, None, ""))
        assert int(spark.conf.get(key)) > 10**6
        cat.register("metrics", "cpu")  # first build infers the schema
        commit_hour(47)
        with spark_jobs.started() as jobs:
            cat.register("metrics", "cpu")
        assert jobs == []
        assert spark.table("metrics_cpu").count() == 48
        spark.conf.set(key, "32")
        commit_hour(48)
        with spark_jobs.started() as jobs:
            cat.register("metrics", "cpu")
        assert jobs  # the probe sees the listing job it replaces
        # an object-store root keeps Spark's parallel listing
        serial_file_listing(spark, (root, "s3://bucket/cold"))
        assert spark.conf.get(key) == "32"
    finally:
        spark.conf.set(key, old)
