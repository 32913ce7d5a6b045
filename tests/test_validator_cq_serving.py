"""Plan validator, continuous queries, serving encoders, multimodal plumbing."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from arc_spark.plans.validator import SqlValidationError, extract_tables, validate_read_only
from arc_spark.serving import column_types, stream_typed_json, to_arrow_ipc, to_columnar_msgpack
from arc_spark.sources.msgpack_codec import unpackb
from arc_spark.streaming.cq import ContinuousQuery, CQScheduler, streaming_window_agg


# --------------------------------------------------------------------------
# validator (reference A10/A11)
# --------------------------------------------------------------------------

GOOD = [
    "SELECT 1",
    "SELECT * FROM events WHERE value > 1 ORDER BY ts LIMIT 5",
    "WITH x AS (SELECT 1 AS a) SELECT * FROM x JOIN x y ON x.a = y.a",
    "SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey",
    "SHOW TABLES",
    "SHOW DATABASES",
    # EXPLAIN of a read is a read (r9: the plan walk alone denied every
    # EXPLAIN via its ExplainCommand node; now validated by recursion on
    # the inner statement)
    "EXPLAIN SELECT count(*) FROM events",
    "EXPLAIN FORMATTED SELECT * FROM events LIMIT 5",
    "EXPLAIN EXTENDED WITH x AS (SELECT 1 AS a) SELECT * FROM x",
]

BAD = [
    "DROP TABLE events",
    "CREATE TABLE t (a INT)",
    "INSERT INTO events VALUES (1)",
    "UPDATE events SET value = 0",
    "DELETE FROM events",
    "SET spark.sql.ansi.enabled=false",
    "ADD JAR '/tmp/evil.jar'",
    "CACHE TABLE events",
    "SELECT 1; DROP TABLE events",
    "CREATE OR REPLACE VIEW v AS SELECT 1",
    "MERGE INTO a USING b ON a.id = b.id WHEN MATCHED THEN DELETE",
    # direct-path table syntax = arbitrary file read by any authenticated
    # caller (the reference's DuckDB I/O sandbox closes the same hole)
    "SELECT * FROM text.`/etc/passwd`",
    "SELECT * FROM csv.`/etc/shadow`",
    "SELECT * FROM parquet.`/root/testdata/sf0.001/events.parquet`",
    "SELECT * FROM json.`secrets.json`",
    "WITH x AS (SELECT * FROM text.`/etc/hostname`) SELECT * FROM x",
    "SELECT * FROM binaryFile.`/etc/hosts`",
    # EXPLAIN of a write/path-read is still a write/path-read
    "EXPLAIN INSERT INTO events VALUES (1)",
    "EXPLAIN DROP TABLE events",
    "EXPLAIN SELECT * FROM parquet.`/etc/passwd`",
    "EXPLAIN EXPLAIN SELECT 1; DROP TABLE x",
]


@pytest.mark.parametrize("sql", GOOD)
def test_validator_allows_reads(spark, sql):
    validate_read_only(spark, sql)


@pytest.mark.parametrize("sql", BAD)
def test_validator_blocks_writes(spark, sql):
    with pytest.raises(SqlValidationError):
        validate_read_only(spark, sql)


def test_extract_tables_cte_aware(spark):
    sql = """
    WITH recent AS (SELECT * FROM metrics.cpu WHERE time > now())
    SELECT r.*, e.v FROM recent r
    JOIN app.events e ON e.host = r.host
    JOIN lookup ON lookup.k = e.k
    """
    tables = extract_tables(spark, sql)
    assert ("metrics", "cpu") in tables
    assert ("app", "events") in tables
    assert ("lookup",) in tables
    assert ("recent",) not in tables  # CTE name filtered


# --------------------------------------------------------------------------
# continuous queries (reference A28)
# --------------------------------------------------------------------------

def _events_view(spark):
    rows = [
        (dt.datetime(2024, 3, 1, 10, 4), "h1", 1.0),
        (dt.datetime(2024, 3, 1, 10, 20), "h1", 3.0),
        (dt.datetime(2024, 3, 1, 10, 40), "h2", 5.0),
        (dt.datetime(2024, 3, 1, 11, 10), "h1", 7.0),
    ]
    spark.createDataFrame(rows, "time timestamp, host string, value double") \
        .createOrReplaceTempView("cq_source")


def test_cq_run_and_checkpoint(spark, tmp_path):
    _events_view(spark)
    root = str(tmp_path / "storage")
    cq = ContinuousQuery(
        name="hourly_avg",
        sql="""SELECT host, CAST(AVG(value) AS DOUBLE) AS avg_value
               FROM cq_source WHERE time >= {start_time} AND time < {end_time}
               GROUP BY host""",
        dest_db="analytics",
        dest_measurement="cq_hourly_avg",
        interval_seconds=3600,
        tag_columns=["host"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    res = cq.run_once(spark, root, now=dt.datetime(2024, 3, 1, 11, 0, 5))
    assert res["ran"]
    out = spark.read.parquet(os.path.join(root, "analytics", "cq_hourly_avg"))
    rows = {r["host"]: r["avg_value"] for r in out.collect()}
    assert rows == {"h1": 2.0, "h2": 5.0}
    # time stamped with window start
    assert out.select("time").distinct().collect()[0][0] == dt.datetime(2024, 3, 1, 10, 0)

    # same now → window already processed → no rerun
    res2 = cq.run_once(spark, root, now=dt.datetime(2024, 3, 1, 11, 0, 6))
    assert not res2["ran"]
    # next hour → next window
    res3 = cq.run_once(spark, root, now=dt.datetime(2024, 3, 1, 12, 0, 1))
    assert res3["ran"] and res3["start"] == "2024-03-01T11:00:00"


def test_cq_scheduler_tick(spark, tmp_path):
    _events_view(spark)
    sched = CQScheduler(spark, str(tmp_path / "s"))
    sched.register(ContinuousQuery(
        "c1", "SELECT COUNT(*) AS n FROM cq_source WHERE time >= {start_time} AND time < {end_time}",
        "analytics", "c1_out", 3600, checkpoint_dir=str(tmp_path / "ck")))
    out = sched.tick(now=dt.datetime(2024, 3, 1, 11, 0, 1))
    assert out[0]["ran"]


def test_streaming_window_agg_batch_semantics(spark):
    _events_view(spark)
    df = spark.table("cq_source")
    out = streaming_window_agg(
        df, "time", "1 hour",
        {"avg_value": "CAST(AVG(value) AS DOUBLE)", "n": "COUNT(*)"},
        group_cols=["host"],
    )
    rows = {(r["time"], r["host"]): (r["avg_value"], r["n"]) for r in out.collect()}
    assert rows[(dt.datetime(2024, 3, 1, 10, 0), "h1")] == (2.0, 2)
    assert rows[(dt.datetime(2024, 3, 1, 11, 0), "h1")] == (7.0, 1)


# --------------------------------------------------------------------------
# serving encoders (reference A31-A33)
# --------------------------------------------------------------------------

def _result_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5, dt.datetime(2024, 3, 1, 10)), (2, "b", 2.5, dt.datetime(2024, 3, 1, 11))],
        "id bigint, name string, v double, ts timestamp",
    )


def test_arrow_ipc_roundtrip(spark):
    import pyarrow as pa

    df = _result_df(spark)
    blob = to_arrow_ipc(df.toArrow())
    table = pa.ipc.open_stream(blob).read_all()
    assert table.num_rows == 2
    assert table.column("name").to_pylist() == ["a", "b"]


def test_arrow_ipc_presized_table_parity(spark):
    """Native pa.Table inputs take the presized single-buffer encode
    (serving._table_ipc_presized); the stream must be byte-identical to
    the growing-buffer fallback across awkward shapes: dictionary
    columns, sliced (non-zero offset) arrays, multi-chunk tables, nulls,
    empty tables, and an estimate shortfall falling back cleanly."""
    import pyarrow as pa

    from arc_spark import serving

    d = pa.array(["x", "y", "x", None] * 100).dictionary_encode()
    base = pa.table({
        "i": pa.array(range(400), type=pa.int64()),
        "s": pa.array([f"v{n}" for n in range(400)]),
        "b": pa.array([None if n % 7 == 0 else n % 2 == 0
                       for n in range(400)]),
        "d": d,
        "ts": pa.array([n * 1_000_000 for n in range(400)],
                       type=pa.timestamp("us", tz="UTC")),
    })
    sliced = base.slice(13, 111)
    multi = pa.concat_tables([base.slice(0, 50), base.slice(50, 350)])
    empty = base.slice(0, 0)
    for t in (base, sliced, multi, empty):
        fast = serving._table_ipc_presized(t, 64)
        assert fast is not None
        # reference stream: force the growing path
        sink = pa.BufferOutputStream()
        w = pa.ipc.new_stream(sink, t.schema)
        for bt in t.to_batches(max_chunksize=64):
            w.write_batch(bt)
        w.close()
        slow = sink.getvalue().to_pybytes()
        assert fast == slow
        back = pa.ipc.open_stream(fast).read_all()
        assert back.num_rows == t.num_rows
        assert back.to_pylist() == t.to_pylist()
    # and the public entry point routes tables through it
    assert to_arrow_ipc(base) == serving._table_ipc_presized(base, 65_536)


def test_arrow_ipc_presized_overflow_falls_back(monkeypatch):
    """An estimate shortfall must transparently re-encode through the
    growing buffer (same bytes), never return a truncated or corrupt
    stream."""
    import pyarrow as pa

    from arc_spark import serving

    t = pa.table({"s": pa.array(["abc" * 50] * 1000)})
    want = serving._table_ipc_presized(t, 100)
    monkeypatch.setattr(serving, "_ipc_size_estimate",
                        lambda table, n_batches: 16)
    assert serving._table_ipc_presized(t, 100) == want
    blob = to_arrow_ipc(t, max_rows_per_batch=100)
    assert blob == want
    assert pa.ipc.open_stream(blob).read_all().num_rows == 1000


def test_typed_json_stream(spark):
    df = _result_df(spark)
    chunks = list(stream_typed_json(df.toArrow(), flush_rows=1))
    header = json.loads(chunks[0])
    assert {c["name"]: c["type"] for c in header["columns"]} == {
        "id": "int", "name": "string", "v": "float", "ts": "timestamp",
    }
    data = [json.loads(c)["data"] for c in chunks[1:]]
    assert sum(len(d) for d in data) == 2


def test_columnar_msgpack(spark):
    df = _result_df(spark)
    obj = unpackb(to_columnar_msgpack(df.toArrow()))
    assert obj["column_order"] == ["id", "name", "v", "ts"]
    # result may stream as several frames; concatenate column-wise
    ids = [v for fr in obj["frames"] for v in fr["columns"]["id"]]
    ts = [v for fr in obj["frames"] for v in fr["columns"]["ts"]]
    assert sorted(ids) == [1, 2]
    assert sorted(ts) == [
        int(dt.datetime(2024, 3, 1, 10).timestamp() * 1e6),
        int(dt.datetime(2024, 3, 1, 11).timestamp() * 1e6),
    ]


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def test_multimodal_feature_extract_and_frames(spark):
    from arc_spark.multimodal import blob_table, extract_features, resize_images, sample_frames

    df = blob_table(spark, [
        (1, "image/png", b"\x89PNG-fake-1", 640, 480, None, "png"),
        (2, "video/mp4", b"mp4-fake", None, None, 2500, "h264"),
    ])
    feats = extract_features(df, dim=8).collect()
    assert len(feats) == 2 and len(feats[0]["feature"]) == 8
    # deterministic: same blob → same features
    feats2 = extract_features(df, dim=8).collect()
    assert [f["feature"] for f in feats] == [f["feature"] for f in feats2]

    resized = resize_images(df.filter("media_type = 'image/png'"), 224, 224).collect()
    assert resized[0]["width"] == 224 and resized[0]["height"] == 224

    frames = sample_frames(df.filter("media_type = 'video/mp4'"), every_ms=1000).collect()
    assert [f["frame_ts_ms"] for f in frames] == [0, 1000, 2000]
    assert all(len(f["frame"]) == 16 for f in frames)


def test_multimodal_stub_raises_without_codec(spark):
    from arc_spark.multimodal import blob_table, extract_features

    df = blob_table(spark, [(1, "image/png", b"x", 1, 1, None, "png")])
    with pytest.raises(Exception):  # NotImplementedError surfaces as Py4J error
        extract_features(df, deterministic_stub=False).collect()


def test_sql_time_bucket_matches_dataframe_expr(spark):
    """SQL-surface time_bucket (Spark 4 SQL UDF, inlined by Catalyst) must
    agree with the DataFrame expression (functions/time.py::time_bucket)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from arc_spark.functions.time import register_sql_functions, time_bucket

    register_sql_functions(spark)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 10, 17, 23),), (dt.datetime(2024, 1, 1, 10, 44, 59),)],
        "t timestamp",
    )
    df.createOrReplaceTempView("tb_in")
    via_sql = [r["b"] for r in spark.sql(
        "SELECT time_bucket('15 minutes', t) AS b FROM tb_in ORDER BY t").collect()]
    via_df = [r["b"] for r in df.select(
        time_bucket("15 minutes", "t").alias("b")).orderBy("b").collect()]
    assert via_sql == via_df
    assert via_sql[0] == dt.datetime(2024, 1, 1, 10, 15)


class TestJsonTokenMixedColumnStaysVectorized:
    """r9: a string column with SOME escape-needing values (emoji, control
    chars) must stay on the vectorized token path — only the offending
    rows pay the per-value escaper, scattered back via replace_with_mask.
    Before this, one emoji sent the whole 100k-row column to the Python
    loop (the serve_json_fastscan 2.1x gap)."""

    def test_mixed_column_not_declined_and_exact(self):
        import json as _json

        import pyarrow as pa

        from arc_spark.serving import _json_token_array

        vals = ["plain", 'qu"ote', "emoji \U0001f600", None,
                "ctl\tchar", "back\\slash", "", "café"]
        got = _json_token_array(pa.array(vals))
        assert got is not None, "mixed column must not decline"
        tok, quoted = got
        assert not quoted  # internal quoting (nulls print bare null)
        expect = ["null" if v is None else _json.dumps(v) for v in vals]
        assert tok.to_pylist() == expect

    def test_pure_ascii_column_skips_escape_passes(self):
        import pyarrow as pa

        from arc_spark.serving import _ascii_scan, _json_token_array

        arr = pa.array(["device-1", "device-2"])
        clean, has_quote, has_backslash = _ascii_scan(arr)
        assert clean and not has_quote and not has_backslash
        tok, quoted = _json_token_array(arr)
        assert quoted  # merged-separator quoting retained on clean cols
        assert tok.to_pylist() == ["device-1", "device-2"]

    def test_large_string_and_control_chars(self):
        import json as _json

        import pyarrow as pa

        from arc_spark.serving import _json_token_array

        vals = ["x", "日本語", None, 'q"\\', "\x00\x7f"]
        tok, quoted = _json_token_array(
            pa.array(vals, type=pa.large_string()))
        expect = ["null" if v is None else _json.dumps(v) for v in vals]
        out = [f'"{s}"' if quoted and s != "null" else s
               for s in tok.to_pylist()]
        assert out == expect


class TestGapfill:
    """functions/time.py::gapfill (r9): dense bucket grid + locf/linear
    fills with Timescale edge semantics."""

    def _agg(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("a", t0, 10.0),
            ("a", t0 + dt.timedelta(hours=3), 40.0),   # 2 missing buckets
            ("a", t0 + dt.timedelta(hours=4), 50.0),
            ("b", t0 + dt.timedelta(hours=1), 7.0),    # single point
        ]
        return spark.createDataFrame(
            rows, "event_type string, bucket timestamp, v double")

    def test_null_grid(self, spark):
        from arc_spark.functions.time import gapfill

        out = gapfill(self._agg(spark), "bucket", "1 hour",
                      ("event_type",), ("v",), method="null").collect()
        a = sorted(r for r in out if r["event_type"] == "a")
        assert len(a) == 5  # hours 0..4 dense
        assert [r["v"] for r in sorted(a, key=lambda r: r["bucket"])] == \
            [10.0, None, None, 40.0, 50.0]
        assert len([r for r in out if r["event_type"] == "b"]) == 1

    def test_locf(self, spark):
        from arc_spark.functions.time import gapfill

        out = gapfill(self._agg(spark), "bucket", "1 hour",
                      ("event_type",), ("v",), method="locf")
        a = [r["v"] for r in sorted(
            out.filter("event_type = 'a'").collect(),
            key=lambda r: r["bucket"])]
        assert a == [10.0, 10.0, 10.0, 40.0, 50.0]

    def test_linear(self, spark):
        from arc_spark.functions.time import gapfill

        out = gapfill(self._agg(spark), "bucket", "1 hour",
                      ("event_type",), ("v",), method="linear")
        a = [r["v"] for r in sorted(
            out.filter("event_type = 'a'").collect(),
            key=lambda r: r["bucket"])]
        assert a == [10.0, 20.0, 30.0, 40.0, 50.0]

    def test_linear_edges_stay_null(self, spark):
        import datetime as dt

        from arc_spark.functions.time import gapfill

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("a", t0, None), ("a", t0 + dt.timedelta(hours=1), 5.0),
             ("a", t0 + dt.timedelta(hours=2), None)],
            "event_type string, bucket timestamp, v double")
        out = gapfill(df, "bucket", "1 hour", ("event_type",), ("v",),
                      method="linear")
        vals = [r["v"] for r in sorted(out.collect(),
                                       key=lambda r: r["bucket"])]
        assert vals == [None, 5.0, None]  # no neighbor on one side

    def test_unknown_method(self, spark):
        import pytest as _pytest

        from arc_spark.functions.time import gapfill

        with _pytest.raises(ValueError):
            gapfill(self._agg(spark), "bucket", "1 hour",
                    ("event_type",), ("v",), method="cubic")


class TestCounterRate:
    """functions/time.py::counter_rate (r9): non_negative_derivative
    semantics — per-second rate, resets yield the post-reset value (or
    NULL), first sample NULL."""

    def _df(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("h1", t0, 100.0),
            ("h1", t0 + dt.timedelta(seconds=10), 150.0),   # +5/s
            ("h1", t0 + dt.timedelta(seconds=20), 30.0),    # RESET
            ("h1", t0 + dt.timedelta(seconds=30), 60.0),    # +3/s
            ("h2", t0, 7.0),                                # lone sample
        ]
        return spark.createDataFrame(
            rows, "host string, time timestamp, value double")

    def test_rates_and_reset_as_value(self, spark):
        from arc_spark.functions.time import counter_rate

        out = {(r["host"], r["time"].second): (r["delta"], r["rate_per_s"])
               for r in counter_rate(
                   self._df(spark), group_cols=("host",)).collect()}
        assert out[("h1", 0)] == (None, None)       # first sample
        assert out[("h1", 10)] == (50.0, 5.0)
        assert out[("h1", 20)] == (30.0, 3.0)       # reset → value/Δt
        assert out[("h1", 30)] == (30.0, 3.0)
        assert out[("h2", 0)] == (None, None)

    def test_reset_dropped_mode(self, spark):
        from arc_spark.functions.time import counter_rate

        out = {(r["host"], r["time"].second): r["rate_per_s"]
               for r in counter_rate(
                   self._df(spark), group_cols=("host",),
                   reset_as_value=False).collect()}
        assert out[("h1", 20)] is None               # reset sample dropped
        assert out[("h1", 10)] == 5.0


class TestM4Downsample:
    """functions/time.py::m4_downsample (r9): the four extremes per
    bucket, pixel-identity property on a known series."""

    def test_extremes_selected(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        # one group, 8 points across 2 buckets; spike at t=2, dip at t=5
        rows = [("a", t0 + dt.timedelta(seconds=i), v)
                for i, v in enumerate([1.0, 2.0, 9.0, 3.0,
                                       4.0, -5.0, 4.5, 4.8])]
        df = spark.createDataFrame(
            rows, "host string, time timestamp, value double")
        from arc_spark.functions.time import m4_downsample

        out = m4_downsample(df, n_buckets=2, group_cols=("host",))
        got = {(r["bucket"], r["time"].second, r["value"])
               for r in out.collect()}
        # bucket 0 (t=0..3): min_t=0, max_t=3, max_v=9@2, min_v=1@0
        assert {(0, 0, 1.0), (0, 3, 3.0), (0, 2, 9.0)} <= got
        # bucket 1 (t=4..7): min_t=4, max_t=7, min_v=-5@5, max_v=4.8@7
        assert {(1, 4, 4.0), (1, 7, 4.8), (1, 5, -5.0)} <= got
        # nothing non-extremal leaks through
        assert (0, 1, 2.0) not in got and (1, 6, 4.5) not in got

    def test_single_point_group(self, spark):
        import datetime as dt

        from arc_spark.functions.time import m4_downsample

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), 7.0)],
            "host string, time timestamp, value double")
        out = m4_downsample(df, n_buckets=10,
                            group_cols=("host",)).collect()
        assert len(out) == 1 and out[0]["bucket"] == 0

    def test_output_bounded_by_4k(self, spark):
        from arc_spark.functions.time import m4_downsample
        from arc_spark.workload import load_tables

        ev = load_tables(spark, "/root/testdata/sf0.001",
                         register_views=False)["events"]
        out = m4_downsample(ev, n_buckets=50, time_col="ts",
                            group_cols=("event_type",))
        n_groups = ev.select("event_type").distinct().count()
        # <= 4 points per (group, bucket) plus ties; sanity bound 8x
        assert out.count() <= 8 * 50 * n_groups


class TestGapfillStepValidation:
    """r9 advice: the step string is spliced into an interval literal —
    a whitelist rejects anything that isn't 'N unit[s]' before it can
    inject expression text into the plan."""

    def _df(self, spark):
        import datetime as dt

        return spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), 1.0)],
            "event_type string, bucket timestamp, v double")

    def test_injection_shaped_step_rejected(self, spark):
        import pytest as _pytest

        from arc_spark.functions.time import gapfill

        for bad in ("1 hour') AND (SELECT 1", "1; drop", "hour",
                    "1 fortnight", "", "1 hour' || '"):
            with _pytest.raises(ValueError, match="gapfill step"):
                gapfill(self._df(spark), "bucket", bad,
                        ("event_type",), ("v",), method="locf")

    def test_valid_steps_accepted(self, spark):
        from arc_spark.functions.time import gapfill

        for good in ("1 hour", "5 minutes", "30 SECONDS", " 2 days "):
            out = gapfill(self._df(spark), "bucket", good,
                          ("event_type",), ("v",), method="locf")
            assert out.count() == 1  # single-row span: grid is one bucket


class TestParseTreeLru:
    """r13 (r12 advice): the parse-tree LRU keys on a per-session
    parser-conf fingerprint (not SQL text alone) and is bounded by
    TOTAL BYTES, not entry count."""

    def test_key_carries_parser_fingerprint(self, spark):
        from arc_spark.plans import validator as V

        V.invalidate_parse_cache()
        sql = "SELECT 1 AS parse_lru_probe"
        V.plan_tree_string(spark, sql)
        keys = list(V._TREE_CACHE)
        assert any(k[1] == sql for k in keys)
        (fp, _), = [k for k in keys if k[1] == sql]
        assert fp == V._parser_fingerprint(spark)
        assert len(fp) == len(V._PARSER_CONF_KEYS)
        # fingerprint is read once per session object, then memoized
        assert spark in V._SESSION_FPRINT

    def test_byte_bound_eviction(self, spark, monkeypatch):
        from arc_spark.plans import validator as V

        V.invalidate_parse_cache()
        monkeypatch.setattr(V, "_TREE_CACHE_MAX_BYTES", 20_000)
        # each entry's tree is a few KB; enough inserts must evict by
        # bytes long before the 512-entry cap
        for i in range(40):
            V.plan_tree_string(
                spark,
                "SELECT " + ", ".join(
                    f"{i} AS c{i}_{j}" for j in range(30)))
        assert V._TREE_CACHE_BYTES <= 20_000
        assert 0 < len(V._TREE_CACHE) < 40
        # accounting stays exact under eviction
        assert V._TREE_CACHE_BYTES == sum(
            len(k[1]) + len(t) for k, t in V._TREE_CACHE.items())
        V.invalidate_parse_cache()
        assert V._TREE_CACHE_BYTES == 0 and not V._TREE_CACHE

    def test_invalidate_races_fingerprint_stamp(self, spark):
        """r14 (r13 advice): a request whose conf read straddles an
        invalidation must NOT re-stamp its pre-invalidation fingerprint
        — the generation bump makes the stale stamp a no-op, so the
        next call re-reads the (possibly flipped) confs."""
        from arc_spark.plans import validator as V

        V.invalidate_parse_cache()
        with V._TREE_LOCK:
            fp0 = V._SESSION_FPRINT.get(spark)
            gen0 = V._FPRINT_GEN
        assert fp0 is None
        # emulate the racing thread: it snapshotted gen0 and read the
        # confs, then an embedder invalidates before it stamps
        stale_fp = ("stale",) * len(V._PARSER_CONF_KEYS)
        V.invalidate_parse_cache()
        with V._TREE_LOCK:
            if V._SESSION_FPRINT.get(spark) is None and \
                    V._FPRINT_GEN == gen0:
                V._SESSION_FPRINT[spark] = stale_fp  # must not happen
        assert V._SESSION_FPRINT.get(spark) is None
        # the next real call stamps a fresh, real fingerprint
        fp = V._parser_fingerprint(spark)
        assert fp != stale_fp and len(fp) == len(V._PARSER_CONF_KEYS)
