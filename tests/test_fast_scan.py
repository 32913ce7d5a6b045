"""Native Arrow fast scan (catalog.scan_arrow + the trivial A13 serving
shape): the committed file list read through pyarrow.dataset with no
Spark job — must return exactly what the Spark path returns, under the
same governance/RBAC, ~10× faster at serving sizes."""

from __future__ import annotations

import datetime as dt
import json
import urllib.error
import urllib.request

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from arc_spark.api import IngestService, QueryService
from arc_spark.auth import AuthStore
from arc_spark.catalog import MeasurementCatalog
from arc_spark.server import ArcServer
from arc_spark.sources.writer import write_measurement, write_measurement_arrow


@pytest.fixture()
def meas(spark, tmp_path):
    root = str(tmp_path / "data")
    df = spark.range(500).select(
        F.timestamp_micros(
            F.lit(int(dt.datetime(2024, 1, 15).timestamp() * 1_000_000))
            + (F.col("id") % 5) * 3_600_000_000 + F.col("id")).alias("time"),
        (F.col("id") % 4).cast("string").alias("host"),
        F.col("id").cast("double").alias("value"))
    write_measurement(df, root, "metrics", "cpu", tag_columns=["host"])
    return root


def _served(svc, **kw) -> pa.Table:
    """GET /api/v1/query/:m's answer in Arrow, as a table."""
    kw.setdefault("db", "metrics")
    kw.setdefault("measurement", "cpu")
    return pa.ipc.open_stream(
        svc.query_measurement(fmt="arrow", **kw)).read_all()


def _route(svc, fn):
    """(fn(), the route the one query ``fn`` ran took)."""
    before = svc.registry.route_totals()
    out = fn()
    moved = [r for r, n in svc.registry.route_totals().items()
             if n != before[r]]
    assert len(moved) == 1, moved
    return out, moved[0]


def _forced_spark(svc, monkeypatch, **kw) -> pa.Table:
    """The same GET with the native_scan route switched off."""
    with monkeypatch.context() as m:
        m.setattr(QueryService, "_native_timerange",
                  lambda *a, **k: None)
        table, route = _route(svc, lambda: _served(svc, **kw))
    assert route == "spark"
    return table


def _rowset(rows):
    # tz-normalized: Spark collect yields naive session-local (UTC)
    # datetimes, the Arrow path tz-aware UTC — same instants
    return {(r["host"], r["value"], r["time"].replace(tzinfo=None),
             r["year"], r["month"], r["day"], r["hour"]) for r in rows}


class TestScanArrowParity:
    def test_matches_spark_path_exactly(self, spark, meas):
        cat = MeasurementCatalog(spark, meas)
        spark_rows = [r.asDict() for r in
                      cat.table("metrics", "cpu").collect()]
        table = cat.scan_arrow("metrics", "cpu")
        native_rows = table.to_pylist()
        assert len(native_rows) == len(spark_rows) == 500
        assert _rowset(native_rows) == _rowset(spark_rows)
        # µs normalization: no ns units survive
        for f in table.schema:
            if pa.types.is_timestamp(f.type):
                assert f.type.unit == "us"

    def test_limit_and_columns(self, spark, meas):
        cat = MeasurementCatalog(spark, meas)
        t = cat.scan_arrow("metrics", "cpu", limit=7)
        assert t.num_rows == 7
        t2 = cat.scan_arrow("metrics", "cpu", columns=["host", "value"],
                            limit=3)
        assert t2.column_names == ["host", "value"] and t2.num_rows == 3

    def test_orphans_invisible_on_managed_tree(self, spark, meas):
        """The fast scan resolves the COMMITTED snapshot, exactly like
        Spark reads — a crash orphan must not appear."""
        write_measurement_arrow(pa.table({
            "time": pa.array([1_705_300_000_000_000], pa.timestamp("us")),
            "host": pa.array(["ORPHAN"]), "value": pa.array([1.0]),
        }), meas, "metrics", "cpu", tag_columns=["host"], manifest=False)
        cat = MeasurementCatalog(spark, meas)
        t = cat.scan_arrow("metrics", "cpu")
        assert t.num_rows == 500
        assert "ORPHAN" not in set(t.column("host").to_pylist())

    def test_empty_measurement(self, spark, tmp_path):
        cat = MeasurementCatalog(spark, str(tmp_path))
        assert cat.scan_arrow("nope", "nothing").num_rows == 0


class TestServingFastPath:
    @pytest.fixture()
    def live(self, spark, meas):
        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        auth = AuthStore(str(meas) + "-auth.db")
        admin = auth.create_token("admin")
        limited = auth.create_token("lim", allowed_tables=["other"])
        ingest = IngestService(spark, meas, max_buffer_rows=10**9,
                               max_buffer_age_s=10**9)
        server = ArcServer(svc, ingest, auth).start()
        try:
            yield server.port, admin, limited
        finally:
            server.stop()

    def _get(self, port, path, token):
        req = urllib.request.Request(f"http://127.0.0.1:{port}{path}")
        req.add_header("Authorization", f"Bearer {token}")
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.read(), dict(r.headers)

    def test_arrow_format_roundtrip_matches_json(self, live):
        port, admin, _ = live
        _, body, headers = self._get(
            port, "/api/v1/query/cpu?db=metrics&format=arrow&limit=100000",
            admin)
        assert headers["Content-Type"] == "application/vnd.apache.arrow.stream"
        table = pa.ipc.open_stream(body).read_all()
        assert table.num_rows == 500
        _, jbody, _ = self._get(
            port, "/api/v1/query/cpu?db=metrics&limit=100000", admin)
        rows = json.loads(jbody)["rows"]
        assert len(rows) == 500
        assert {r["host"] for r in rows} == \
            set(table.column("host").to_pylist())

    def test_msgpack_format_decodes(self, live):
        from arc_spark.sources.msgpack_codec import unpackb

        port, admin, _ = live
        _, body, headers = self._get(
            port, "/api/v1/query/cpu?db=metrics&format=msgpack&limit=50",
            admin)
        assert headers["Content-Type"] == "application/msgpack"
        obj = unpackb(body)
        assert obj["column_order"]
        assert sum(f["n"] for f in obj["frames"]) == 50

    def test_fast_and_spark_paths_agree(self, live):
        """The same endpoint with and without a (tautological) where —
        fast path vs Spark path — returns identical row sets."""
        port, admin, _ = live
        _, fast, _ = self._get(
            port, "/api/v1/query/cpu?db=metrics&limit=100000", admin)
        _, sparked, _ = self._get(
            port, "/api/v1/query/cpu?db=metrics&limit=100000"
                  "&where=value%20%3E%3D%200", admin)
        f = {(r["host"], r["value"], r["time"])
             for r in json.loads(fast)["rows"]}
        s = {(r["host"], r["value"], r["time"])
             for r in json.loads(sparked)["rows"]}
        assert f == s

    def test_rbac_enforced_on_fast_path(self, live):
        port, _, limited = live
        with pytest.raises(urllib.error.HTTPError) as e:
            self._get(port, "/api/v1/query/cpu?db=metrics", limited)
        assert e.value.code == 403

    def test_row_cap_enforced_on_fast_path(self, spark, meas):
        from arc_spark.governance import Governor, TokenPolicy

        cat = MeasurementCatalog(spark, meas)
        gov = Governor(default_policy=TokenPolicy(max_rows=25))
        svc = QueryService(spark, cat, governor=gov)
        t = _served(svc, limit=1000)
        assert t.num_rows == 25  # policy cap wins over requested limit


def _time_range(svc, where: str):
    """The TimeRange the native_scan route reads for ``where`` on the GET
    route's SQL, or None when that route does not take it."""
    nt = svc._native_timerange(
        f"SELECT * FROM `cpu` WHERE {where}\n LIMIT 10", "metrics")
    return None if nt is None else nt[1]


class TestTimeRangeWhereParser:
    """The GET route's `where` through the plan grammar
    (``_plan_cond_timerange``): exact-or-fall-through — a pure time-range
    conjunction takes native_scan with the rows the Spark route returns,
    anything else keeps full Spark semantics."""

    ACCEPTED = [
        "time >= '2024-01-15 01:00:00' AND time < '2024-01-15 03:00:00'",
        "time BETWEEN '2024-01-15' AND '2024-01-16'",
        # TIMESTAMP prefix, parens, mixed case, one-sided, tz offset
        "(TIME > timestamp '2024-01-15T01:30:00')",
        "time <= '2024-01-15'",
        "time >= '2024-01-15 02:00:00+02:00'",
        "time >= '2024-01-10' AND time >= '2024-01-15' "
        "AND time < '2024-01-20' AND time <= '2024-01-18'",
        # the plan prints BETWEEN as one node, so it may sit in a
        # conjunction (the string grammar could not split it)
        "time >= '2024-01-15' AND time BETWEEN '2024-01-01' AND "
        "'2024-02-01'",
    ]
    REJECTED = [
        "host = 'h1'",
        "time >= '2024-01-15' AND host='h1'",
        "time >= '2024-01-15' OR time < '2020-01-01'",
        "time >= '2024-1-5'",                      # non-ISO padding
        "time = '2024-01-15'",                     # equality ≠ range
        "lower(time) >= '2024-01-15'",
    ]
    # a 400 before any route: not one expression, or a comparison
    # Spark's analyzer refuses
    REFUSED = [
        "(time >= '2024-01-15'",                   # unbalanced paren
        "time >= 1700000000",                      # bare numeric
    ]

    def test_accepted_shapes(self, spark, meas):
        svc = QueryService(spark, MeasurementCatalog(spark, meas))
        tr = _time_range(svc, self.ACCEPTED[0])
        assert (tr.lo_us, tr.lo_incl) == (1705280400000000, True)
        assert (tr.hi_us, tr.hi_incl) == (1705287600000000, False)
        tr = _time_range(svc, self.ACCEPTED[1])
        assert tr.lo_incl and tr.hi_incl
        assert tr.hi_us - tr.lo_us == 86_400_000_000
        assert _time_range(svc, self.ACCEPTED[2]).lo_incl is False
        assert _time_range(svc, self.ACCEPTED[3]).lo_us is None
        tz = _time_range(svc, self.ACCEPTED[4])
        assert tz.lo_us == 1705276800000000  # converts to UTC midnight
        # stricter bound wins in a conjunction
        tr = _time_range(svc, self.ACCEPTED[5])
        assert tr.lo_us == 1705276800000000
        assert tr.hi_us == 1705536000000000 and tr.hi_incl

    def test_accepted_shapes_serve_natively_as_spark_does(
            self, spark, meas, monkeypatch):
        svc = QueryService(spark, MeasurementCatalog(spark, meas))
        for w in self.ACCEPTED:
            native, route = _route(
                svc, lambda: _served(svc, where=w, limit=10**6))
            assert route == "native_scan", w
            forced = _forced_spark(svc, monkeypatch, where=w, limit=10**6)
            assert native.schema == forced.schema, w
            assert native.num_rows, w
            assert sorted(tuple(r.values()) for r in native.to_pylist()) \
                == sorted(tuple(r.values()) for r in forced.to_pylist()), w

    def test_rejected_shapes(self, spark, meas):
        from arc_spark.plans.validator import SqlValidationError

        svc = QueryService(spark, MeasurementCatalog(spark, meas))
        for w in self.REJECTED:
            assert _time_range(svc, w) is None, w
            _, route = _route(svc, lambda: svc.query_measurement(
                "metrics", "cpu", where=w, limit=10))
            assert route == "spark", w
        for w in self.REFUSED:
            with pytest.raises(SqlValidationError):
                svc.query_measurement("metrics", "cpu", where=w, limit=10)


class TestTimeRangeNativeScan:
    """The reference's 'Time Range (7d) LIMIT 10K' serving shape
    (partition_pruner.go:448-676): snapshot file list pruned by hive
    prefix + exact pyarrow row predicate, no Spark job — must return
    exactly what the Spark path returns."""

    WHERES = [
        "time >= '2024-01-15 01:00:00' AND time < '2024-01-15 03:00:00'",
        "time BETWEEN '2024-01-15 00:00:00' AND '2024-01-15 02:00:00'",
        "time > '2024-01-15 04:00:00'",
        "time <= '2024-01-15 00:00:00.000123'",  # sub-second boundary
    ]

    def test_matches_spark_path_exactly(self, spark, meas, monkeypatch):
        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        for where in self.WHERES:
            t = _served(svc, where=where, limit=10**6)
            native = {(r["host"], r["value"],
                       r["time"].replace(tzinfo=None))
                      for r in t.to_pylist()}
            with monkeypatch.context() as m:
                m.setattr(QueryService, "_native_timerange",
                          lambda *a, **k: None)
                rows = svc.query_measurement("metrics", "cpu",
                                             where=where, limit=10**6)
            sparked = {(r["host"], r["value"], r["time"]) for r in rows}
            assert native == sparked and native, where

    def test_prunes_files_by_hive_prefix(self, spark, meas):
        from arc_spark import snapshots
        from arc_spark.catalog import _path_time_window

        files = snapshots.data_files(f"{meas}/metrics/cpu")
        assert len(files) == 5  # one per hour bucket
        tr = _time_range(
            QueryService(spark, MeasurementCatalog(spark, meas)),
            "time >= '2024-01-15 01:00:00' AND time < '2024-01-15 03:00:00'")
        kept = [f for f in files if tr.may_contain(_path_time_window(f))]
        # hours 1, 2 + the conservative hi-boundary file (hour 3); the
        # exact row filter drops the boundary file's rows in the scan
        assert len(kept) == 3
        # daily-compacted layout (no hour=) windows at day granularity
        assert _path_time_window("/x/year=2024/month=1/day=15/f.parquet") \
            == (1705276800000000, 1705363200000000)
        # unpartitioned paths are unprunable, never wrongly dropped
        assert tr.may_contain(_path_time_window("/x/plain.parquet"))
        # out-of-range components keep the file (exact filter decides),
        # never crash the serve: month=13 → ValueError branch,
        # year=1e11 → OverflowError (r8 review finding)
        assert _path_time_window("/x/year=2024/month=13/f.parquet") is None
        assert _path_time_window(
            "/x/year=99999999999/month=1/f.parquet") is None

    def test_literal_forms_match_spark_cast_exactly(self, spark, meas):
        """r8 review: Python's fromisoformat is WIDER than Spark's
        string→timestamp cast — compact dates and ISO week dates must be
        REJECTED (Spark casts them to NULL → zero rows; serving rows
        natively for the same query would diverge). And epoch math must
        be integer — float64 seconds lose the last µs past 2^31 s."""
        from arc_spark.api import _parse_ts_literal

        svc = QueryService(spark, MeasurementCatalog(spark, meas))
        for lit in ("20240115", "2024-W03-1", "2024015", "2024-01-15X"):
            assert _time_range(svc, f"time >= '{lit}'") is None, lit
        # µs-exact past 2038 (float64 epoch-seconds would truncate)
        assert _parse_ts_literal("2038-02-27T21:18:46.981929") \
            == 2150918326981929
        assert _parse_ts_literal("2100-01-01 00:00:00.000001") \
            == 4102444800000001

    def test_root_path_hive_segment_does_not_poison_pruning(
            self, spark, tmp_path):
        """r8 review: a storage root (or db) containing a `year=N`
        segment must not contribute to any file's pruning window — the
        window derives from the path RELATIVE to the measurement."""
        root = str(tmp_path / "year=1999" / "data")
        df = spark.range(100).select(
            F.timestamp_micros(
                F.lit(int(dt.datetime(2024, 1, 15).timestamp() * 1_000_000))
                + F.col("id")).alias("time"),
            F.col("id").cast("double").alias("value"))
        write_measurement(df, root, "metrics", "cpu")
        cat = MeasurementCatalog(spark, root)
        svc = QueryService(spark, cat)
        t = _served(svc, where="time >= '2024-01-15 00:00:00'", limit=1000)
        assert t.num_rows == 100  # a poisoned [1999,2000) window drops all

    def test_all_pruned_empty_result_keeps_real_schema(self, spark, meas):
        """r8 review: a time range matching nothing on a POPULATED
        measurement must return 0 rows WITH the measurement's schema —
        wire clients concat pages; a stub time-only schema breaks them."""
        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        t = _served(svc, where="time >= '2030-01-01'", limit=1000)
        assert t.num_rows == 0
        assert {"time", "host", "value"} <= set(t.schema.names)

    def test_fallback_charges_one_rate_limit_slot(self, spark, tmp_path,
                                                  monkeypatch):
        """r8 review: the native→Spark fallback (e.g. a measurement the
        native scan can't express) must consume exactly ONE rate-limit
        slot per HTTP request, not two — a token at its cap was getting
        429s at half its configured QPS on fallback shapes."""
        import urllib.parse as up

        from arc_spark.governance import Governor, TokenPolicy

        root = str(tmp_path)
        df = spark.range(20).select(
            F.timestamp_micros(
                F.lit(1705276800000000) + F.col("id")).alias("time"),
            F.col("id").cast("double").alias("value"))
        write_measurement(df, root, "metrics", "cpu")
        cat = MeasurementCatalog(spark, root)
        gov = Governor(default_policy=TokenPolicy(max_queries_per_minute=3))
        svc = QueryService(spark, cat, governor=gov)
        # force the POST-ADMIT fallback on every native attempt (the
        # no-time-column / lossy-type shape)
        def no_native(*a, **k):
            if k.get("time_range") is not None:
                raise ValueError("metrics.cpu has no 'time' column")
            return MeasurementCatalog.scan_arrow(cat, *a, **k)

        monkeypatch.setattr(cat, "scan_arrow", no_native)
        auth = AuthStore(root + "-rl-auth.db")
        tok = auth.create_token("t")
        ingest = IngestService(spark, root, max_buffer_rows=10**9,
                               max_buffer_age_s=10**9)
        server = ArcServer(svc, ingest, auth).start()
        try:
            where = up.quote("time >= '2024-01-15 00:00:00'")
            codes = []
            for _ in range(4):
                req = urllib.request.Request(
                    f"http://127.0.0.1:{server.port}/api/v1/query/cpu"
                    f"?db=metrics&limit=10&where={where}")
                req.add_header("Authorization", f"Bearer {tok}")
                try:
                    with urllib.request.urlopen(req, timeout=60) as r:
                        body = json.loads(r.read())
                        assert body["rows"], "fallback served real rows"
                        codes.append(r.status)
                except urllib.error.HTTPError as e:
                    codes.append(e.code)
            # 3 slots → exactly 3 succeed; double-charging would cap at 1
            assert codes == [200, 200, 200, 429]
        finally:
            server.stop()

    def test_http_route_serves_timerange_natively_and_falls_back(
            self, spark, meas):
        """e2e: a pure time-range where takes the native path (registry
        records it instant — no Spark job) and returns the same rows the
        Spark path serves; a non-time where still takes the Spark path."""
        import urllib.parse as up

        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        auth = AuthStore(str(meas) + "-tr-auth.db")
        admin = auth.create_token("admin")
        ingest = IngestService(spark, meas, max_buffer_rows=10**9,
                               max_buffer_age_s=10**9)
        server = ArcServer(svc, ingest, auth).start()
        try:
            def get(path):
                req = urllib.request.Request(
                    f"http://127.0.0.1:{server.port}{path}")
                req.add_header("Authorization", f"Bearer {admin}")
                with urllib.request.urlopen(req, timeout=60) as r:
                    return r.read()

            where = up.quote(
                "time >= '2024-01-15 01:00:00' AND "
                "time < '2024-01-15 03:00:00'")
            hist0 = len(svc.registry.history())
            fast = json.loads(get(
                f"/api/v1/query/cpu?db=metrics&limit=100000"
                f"&where={where}"))["rows"]
            # native: the request landed as an instant history entry
            entries = svc.registry.history()
            assert len(entries) > hist0
            assert any("WHERE time >=" in e.sql for e in entries)
            # the Spark path (forced by an extra non-time predicate the
            # native parser rejects) returns the same rows
            where2 = up.quote(
                "time >= '2024-01-15 01:00:00' AND "
                "time < '2024-01-15 03:00:00' AND value >= 0")
            sparked = json.loads(get(
                f"/api/v1/query/cpu?db=metrics&limit=100000"
                f"&where={where2}"))["rows"]
            key = lambda r: (r["host"], r["value"], r["time"])  # noqa: E731
            assert sorted(map(key, fast)) == sorted(map(key, sparked))
            assert len(fast) == 200
            # arrow format on the native time-range path
            body = get(f"/api/v1/query/cpu?db=metrics&format=arrow"
                       f"&limit=100000&where={where}")
            table = pa.ipc.open_stream(body).read_all()
            assert table.num_rows == 200
        finally:
            server.stop()


class TestDecodedFileCache:
    """r9: the native time-range path caches DECODED small parquet files
    (warm-server hot tier). Entries are stat-validated, invalidate()
    clears wholesale, the byte budget evicts LRU, and a disabled cache
    falls back to the dataset scan with identical results."""

    WHERE = "time >= '2024-01-15 01:00:00' AND time < '2024-01-15 03:00:00'"

    def _scan(self, spark, meas, **kw):
        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        return cat, _served(svc, where=self.WHERE, limit=10**6, **kw)

    def test_cached_path_matches_dataset_path(self, spark, meas,
                                              monkeypatch):
        import arc_spark.catalog as C

        _, warm1 = self._scan(spark, meas)
        _, warm2 = self._scan(spark, meas)  # cache-hit serve
        # force the pyarrow-dataset path by disabling the cache
        monkeypatch.setattr(
            C, "_scan_cache", C._DecodedFileCache(max_bytes=0))
        _, cold = self._scan(spark, meas)
        key = lambda t: sorted(  # noqa: E731
            tuple(r.values()) for r in t.to_pylist())
        assert warm1.schema == cold.schema == warm2.schema
        assert key(warm1) == key(cold) == key(warm2)

    def test_stat_invalidation_rereads_changed_file(self, tmp_path):
        import pyarrow.parquet as pq

        from arc_spark.catalog import _DecodedFileCache

        cache = _DecodedFileCache(max_bytes=1 << 20)
        p = tmp_path / "f.parquet"
        pq.write_table(pa.table({"x": [1, 2]}), p)
        st = p.stat()
        cache.put(str(p), st.st_mtime_ns, st.st_size,
                  pq.read_table(str(p)))
        assert cache.get(str(p), st.st_mtime_ns, st.st_size) is not None
        # different mtime or size → miss (out-of-band rewrite)
        assert cache.get(str(p), st.st_mtime_ns + 1, st.st_size) is None
        assert cache.get(str(p), st.st_mtime_ns, st.st_size + 1) is None

    def test_budget_evicts_lru(self):
        from arc_spark.catalog import _DecodedFileCache

        t = pa.table({"x": list(range(1000))})  # ~8 KB
        cache = _DecodedFileCache(max_bytes=3 * t.nbytes,
                                  max_file_bytes=1 << 20)
        for i in range(5):
            cache.put(f"/f{i}", 1, 1, t)
        assert cache.get("/f0", 1, 1) is None  # evicted
        assert cache.get("/f4", 1, 1) is not None

    def test_catalog_invalidate_evicts_measurement_scoped(self, spark,
                                                           meas):
        """invalidate(A) drops A's cached files but must NOT cold-start
        other measurements' serving (r9 review: a scheduled compaction
        of one measurement wiped the whole process cache)."""
        import arc_spark.catalog as C

        cat, _ = self._scan(spark, meas)
        mine = [p for p in C._scan_cache._entries
                if f"{meas}/metrics/cpu" in p]
        assert mine  # populated by the scan
        # plant a foreign entry that must survive
        import pyarrow as pa

        C._scan_cache.put("/elsewhere/other.parquet", 1, 1,
                          pa.table({"x": [1]}))
        cat.register("metrics", "cpu", view="cpu_cacheinv")
        cat.invalidate("metrics", "cpu")
        assert not any(f"{meas}/metrics/cpu" in p
                       for p in C._scan_cache._entries)
        assert C._scan_cache.get("/elsewhere/other.parquet", 1, 1) \
            is not None

    def test_concurrent_serves_with_invalidation(self, spark, meas):
        """8 serving threads hammer the cached time-range path while the
        catalog invalidates twice mid-flight — every response must be
        complete and identical (the cache is stat-validated and cleared
        under a lock; a torn entry or partial eviction would shear a
        response)."""
        import threading

        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        cat.register("metrics", "cpu", view="cpu_conc")
        want = sorted(tuple(r.values()) for r in _served(
            svc, where=self.WHERE, limit=10**6).to_pylist())
        errs: list = []

        def _serve():
            try:
                for _ in range(20):
                    got = sorted(tuple(r.values()) for r in _served(
                        svc, where=self.WHERE, limit=10**6).to_pylist())
                    assert got == want
            except Exception as e:  # surfaced below
                errs.append(e)

        def _invalidate():
            for _ in range(2):
                cat.invalidate("metrics", "cpu")

        threads = [threading.Thread(target=_serve) for _ in range(8)]
        threads.append(threading.Thread(target=_invalidate))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs[0]


class TestEvictPrefixSiblingScope:
    """r9 advice: catalog.invalidate('db','cpu') must not evict cached
    files of sibling measurement 'cpu_total' — the evict prefix carries a
    trailing separator so only files strictly under the root match."""

    def test_trailing_separator_spares_sibling(self):
        from arc_spark.catalog import _DecodedFileCache

        t = pa.table({"x": [1]})
        cache = _DecodedFileCache(max_bytes=1 << 20)
        cache.put("/w/db/cpu/f1.parquet", 1, 1, t)
        cache.put("/w/db/cpu_total/f1.parquet", 1, 1, t)
        # the invalidate() call path: root path rstrip('/') + '/'
        cache.evict_prefix("/w/db/cpu".rstrip("/") + "/")
        assert cache.get("/w/db/cpu/f1.parquet", 1, 1) is None
        assert cache.get("/w/db/cpu_total/f1.parquet", 1, 1) is not None


class TestCoversFilterSkip:
    """r13: TimeRange.covers() lets fully-interior hive files skip the
    exact row filter. Locks (a) covers() boundary semantics per bound
    inclusivity, and (b) end-to-end equality against a run with the
    skip DISABLED — any covers() over-claim would surface as extra
    rows here."""

    def test_covers_boundary_semantics(self):
        from arc_spark.catalog import TimeRange

        H = 3_600_000_000  # one hour in µs
        win = (10 * H, 11 * H)  # rows live in [10h, 11h)
        # inclusive lo at the window start covers; exclusive doesn't
        assert TimeRange(lo_us=10 * H, lo_incl=True).covers(win)
        assert not TimeRange(lo_us=10 * H, lo_incl=False).covers(win)
        # hi at the window END covers under either inclusivity (rows
        # are strictly below we); one µs less doesn't
        assert TimeRange(hi_us=11 * H, hi_incl=False).covers(win)
        assert TimeRange(hi_us=11 * H, hi_incl=True).covers(win)
        assert not TimeRange(hi_us=11 * H - 1, hi_incl=True).covers(win)
        # unpartitioned files are never covered; open bounds cover
        assert not TimeRange(lo_us=0).covers(None)
        assert TimeRange().covers(win)

    def test_skip_equals_forced_filter(self, spark, meas, monkeypatch):
        import arc_spark.catalog as C

        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        wheres = TestTimeRangeNativeScan.WHERES + [
            # exact hour edges: boundary files on both sides
            "time >= '2024-01-15 01:00:00' AND time <= '2024-01-15 02:00:00'",
            "time > '2024-01-15 01:00:00' AND time < '2024-01-15 02:00:00'",
        ]
        for where in wheres:
            fast = _served(svc, where=where, limit=10**6)
            with monkeypatch.context() as m:
                m.setattr(C.TimeRange, "covers", lambda self, w: False)
                forced = _served(svc, where=where, limit=10**6)
            assert fast.sort_by("time").equals(
                forced.sort_by("time")), where

    def test_verify_interior_flags_mispartitioned_file(
            self, spark, meas, monkeypatch, caplog):
        """r14 (r13 advice): the covers() skip leans on the writer
        invariant (rows inside their hive path window). With
        ARC_SCAN_VERIFY_INTERIOR on, a doctored out-of-window row in an
        interior file is filtered AND logged instead of served."""
        import glob
        import logging

        import pyarrow.parquet as pq

        import arc_spark.catalog as C

        # doctor one committed hour=1 file: shift a row's time to hour 3
        f = sorted(glob.glob(
            meas + "/metrics/cpu/year=2024/month=1/day=15/hour=1/*.parquet"
        ))[0]
        tab = pq.read_table(f)
        times = tab.column("time").to_pylist()
        times[0] = times[0] + dt.timedelta(hours=2)
        tab = tab.set_column(
            tab.schema.get_field_index("time"), "time",
            pa.array(times, tab.schema.field("time").type))
        pq.write_table(tab, f)
        # the in-place rewrite invalidates Hadoop's .crc sidecar
        import os
        crc = os.path.join(os.path.dirname(f),
                           "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.unlink(crc)

        cat = MeasurementCatalog(spark, meas)
        svc = QueryService(spark, cat)
        where = ("time >= '2024-01-15 01:00:00' "
                 "AND time < '2024-01-15 02:00:00'")  # hour=1 interior

        def n_rows():
            return _served(svc, where=where, limit=10**6).num_rows

        # default fast path: the stray row rides the covers() skip
        monkeypatch.setattr(C, "_VERIFY_INTERIOR", False)
        leaked = n_rows()
        cat.invalidate("metrics", "cpu")
        monkeypatch.setattr(C, "_VERIFY_INTERIOR", True)
        with caplog.at_level(logging.ERROR, logger="arc_spark.catalog"):
            verified = n_rows()
        assert verified == leaked - 1
        assert any("mis-partitioned" in r.message for r in caplog.records)
