"""QueryService + IngestService end-to-end (the reference's two HTTP
surfaces as engine objects, SURVEY §3.1 / §3.3)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from arc_spark.api import IngestService, AccessDeniedError, QueryService
from arc_spark.catalog import MeasurementCatalog
from arc_spark.governance import Governor, RateLimitExceeded, TokenPolicy
from arc_spark.plans.validator import SqlValidationError
from arc_spark.sources.msgpack_codec import packb


def _ingest_some(spark, root):
    svc = IngestService(spark, root, max_buffer_rows=10_000, max_buffer_age_s=3600)
    lp = (
        "cpu,host=a usage=0.5 1700000000000000000\n"
        "cpu,host=b usage=0.7 1700000060000000000\n"
    )
    svc.write_line_protocol("metrics", lp.encode())
    svc.flush()
    return svc


class TestQueryService:
    def _service(self, spark, root, **kw):
        _ingest_some(spark, root)
        cat = MeasurementCatalog(spark, root)
        svc = QueryService(spark, cat, **kw)
        svc.register_measurement("metrics", "cpu", view="cpu")
        return svc

    def test_select_rows(self, spark, tmp_path):
        svc = self._service(spark, str(tmp_path))
        rows = svc.execute("SELECT host, usage FROM cpu ORDER BY host")
        assert [(r["host"], r["usage"]) for r in rows] == [("a", 0.5), ("b", 0.7)]

    def test_show_intercepts(self, spark, tmp_path):
        svc = self._service(spark, str(tmp_path))
        assert svc.execute("SHOW DATABASES") == [{"database": "metrics"}]
        assert svc.execute("SHOW MEASUREMENTS metrics") == [{"measurement": "cpu"}]

    def test_native_count_star_matches_spark_path(self, spark, tmp_path):
        """Bare COUNT(*) over one measurement answers from parquet
        footers (no Spark job — reference's ~1 ms metadata count);
        every wire format must byte/shape-match the Spark path, and
        any non-bare variant must fall through to the engine."""
        import pyarrow as pa

        svc = self._service(spark, str(tmp_path))
        assert svc._native_count("SELECT COUNT(*) FROM cpu", None) is not None
        native = svc.execute("SELECT COUNT(*) FROM cpu")
        via_spark = svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1")
        assert native == via_spark and native[0].__fields__ == \
            via_spark[0].__fields__
        assert svc.execute("SELECT count(*) AS n FROM cpu")[0]["n"] == \
            native[0][0]
        assert svc.execute("SELECT COUNT(*) FROM metrics.cpu") == native
        a_native = pa.ipc.open_stream(
            svc.execute("SELECT COUNT(*) FROM cpu", fmt="arrow")).read_all()
        a_spark = pa.ipc.open_stream(
            svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1",
                        fmt="arrow")).read_all()
        assert a_native.schema == a_spark.schema
        assert a_native.to_pydict() == a_spark.to_pydict()
        assert svc.execute("SELECT COUNT(*) FROM cpu", fmt="json") == \
            svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1", fmt="json")
        assert svc.execute("SELECT COUNT(*) FROM cpu", fmt="msgpack") == \
            svc.execute("SELECT COUNT(*) FROM cpu WHERE 1=1", fmt="msgpack")

    def test_native_count_fallthrough_shapes(self, spark, tmp_path):
        """Filters, grouping, expressions, DISTINCT, limits, subqueries,
        CTEs, and unknown relations must NOT take the metadata path."""
        svc = self._service(spark, str(tmp_path))
        for sql in (
            "SELECT COUNT(*) FROM cpu WHERE host='a'",
            "SELECT host, COUNT(*) FROM cpu GROUP BY host",
            "SELECT COUNT(DISTINCT host) FROM cpu",
            "SELECT COUNT(*)+1 FROM cpu",
            "SELECT COUNT(*) FROM cpu LIMIT 1",
            "SELECT COUNT(*) FROM (SELECT * FROM cpu)",
            "WITH x AS (SELECT * FROM cpu) SELECT COUNT(*) FROM x",
            "SELECT COUNT(host) FROM cpu",
            "SELECT COUNT(*) FROM cpu, cpu b",
        ):
            assert svc._native_count(sql, None) is None, sql
        # unknown view → None (and the engine raises its usual error)
        assert svc._native_count("SELECT COUNT(*) FROM nope", None) is None

    def test_native_min_max_matches_spark_path(self, spark, tmp_path):
        """MIN/MAX over timestamp/integer columns (exact footer stats)
        ride the metadata path alongside COUNT(*), matching the Spark
        path in every format — values, names, arrow schema incl.
        nullability, tz-naive collected datetimes."""
        import pyarrow as pa

        svc = self._service(spark, str(tmp_path))
        sql = "SELECT MIN(time), MAX(time), COUNT(*), MAX(time) AS mx FROM cpu"
        assert svc._native_count(sql, None) is not None
        assert svc.execute(sql) == svc.execute(sql + " WHERE 1=1")
        a1 = pa.ipc.open_stream(svc.execute(sql, fmt="arrow")).read_all()
        a2 = pa.ipc.open_stream(
            svc.execute(sql + " WHERE 1=1", fmt="arrow")).read_all()
        assert a1.schema == a2.schema and a1.to_pydict() == a2.to_pydict()
        assert svc.execute(sql, fmt="json") == \
            svc.execute(sql + " WHERE 1=1", fmt="json")
        assert svc.execute(sql, fmt="msgpack") == \
            svc.execute(sql + " WHERE 1=1", fmt="msgpack")

    def test_native_min_max_ineligible_types_fall_through(self, spark,
                                                          tmp_path):
        """Float stats can be conservative bounds (-0.0) and string stats
        can truncate — MIN/MAX over those types must run on Spark."""
        svc = self._service(spark, str(tmp_path))
        assert svc._native_count("SELECT MIN(usage) FROM cpu", None) is None
        assert svc._native_count("SELECT MAX(host) FROM cpu", None) is None
        # a mixed list with one ineligible column falls through entirely
        assert svc._native_count(
            "SELECT COUNT(*), MIN(usage) FROM cpu", None) is None
        # unknown column falls through (engine raises its usual error)
        assert svc._native_count("SELECT MIN(nope) FROM cpu", None) is None

    def test_native_count_respects_db_scope(self, spark, tmp_path):
        """x-arc-database scoping: the unqualified name resolves within
        the scoped db; a wrong db falls through (and the engine then
        errors or resolves per its own scoping rules)."""
        svc = self._service(spark, str(tmp_path))
        assert svc._native_count("SELECT COUNT(*) FROM cpu",
                                 "metrics") is not None
        assert svc._native_count("SELECT COUNT(*) FROM cpu",
                                 "otherdb") is None
        # qualified refs under db scoping fall through so the Spark
        # path's cross-database rejection surfaces identically
        assert svc._native_count("SELECT COUNT(*) FROM metrics.cpu",
                                 "metrics") is None

    def test_native_count_tracks_flushes(self, spark, tmp_path):
        svc = self._service(spark, str(tmp_path))
        before = svc.execute("SELECT COUNT(*) FROM cpu")[0][0]
        ing = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9)
        ing.write_line_protocol(
            "metrics", b"cpu,host=z usage=0.1 1700000200000000000\n")
        ing.flush()
        svc.catalog.invalidate("metrics", "cpu")  # what the server wires
        assert svc.execute("SELECT COUNT(*) FROM cpu")[0][0] == before + 1

    def test_native_sql_timerange_matches_spark_path(self, spark,
                                                     tmp_path):
        """The reference's 'Time Range (7d) LIMIT 10K' SQL category
        (BASELINE 15 ms): SELECT * + pure time filter + LIMIT over one
        measurement serves through the snapshot-pruned pyarrow scan —
        no Spark job — and must match the Spark path's rows, column
        order, Arrow schema, typed-JSON and msgpack output exactly."""
        import pyarrow as pa

        svc = self._service(spark, str(tmp_path))
        sql = ("SELECT * FROM cpu WHERE time >= '2023-01-01' "
               "AND time < '2026-01-01' LIMIT 1000")
        assert svc._native_timerange(sql, None) is not None
        # forced Spark twin: an extra non-time predicate the detector
        # rejects, semantically a tautology
        twin = sql.replace("LIMIT", "AND usage >= -1e9 LIMIT")
        native = svc.execute(sql)
        sparked = svc.execute(twin)
        assert native and len(native) == len(sparked)
        assert list(native[0].__fields__) == list(sparked[0].__fields__)
        key = lambda r: tuple(str(v) for v in r)  # noqa: E731
        assert sorted(map(key, native)) == sorted(map(key, sparked))
        a_n = pa.ipc.open_stream(
            svc.execute(sql, fmt="arrow")).read_all()
        a_s = pa.ipc.open_stream(
            svc.execute(twin, fmt="arrow")).read_all()
        assert a_n.schema == a_s.schema
        arow = lambda t: sorted(  # noqa: E731
            tuple(sorted(r.items())) for r in t.to_pylist())
        assert arow(a_n) == arow(a_s)
        j_n = list(svc.execute(sql, fmt="json"))
        j_s = list(svc.execute(twin, fmt="json"))
        assert j_n[0] == j_s[0]  # identical typed header
        import json as _j

        rows_n = [r for c in j_n[1:] for r in _j.loads(c)["data"]]
        rows_s = [r for c in j_s[1:] for r in _j.loads(c)["data"]]
        assert sorted(map(tuple, rows_n)) == sorted(map(tuple, rows_s))
        from arc_spark.sources.msgpack_codec import unpackb

        o_n = unpackb(svc.execute(sql, fmt="msgpack"))
        o_s = unpackb(svc.execute(twin, fmt="msgpack"))
        assert o_n["column_order"] == o_s["column_order"]

    def test_native_sql_select_limit_matches_spark_path(self, spark,
                                                        tmp_path):
        """BASELINE's 'SELECT LIMIT 10K/100K/1M' SQL categories: the
        filterless ``SELECT * FROM m LIMIT n`` shape serves through the
        same native scan (4-node plan shape, TimeRange=None)."""
        svc = self._service(spark, str(tmp_path))
        sql = "SELECT * FROM cpu LIMIT 1000"
        assert svc._native_timerange(sql, None) is not None
        native = svc.execute(sql)
        sparked = svc.execute(
            "SELECT * FROM cpu WHERE usage >= -1e9 LIMIT 1000")
        key = lambda r: tuple(str(v) for v in r)  # noqa: E731
        assert sorted(map(key, native)) == sorted(map(key, sparked))
        assert native and list(native[0].__fields__) == \
            list(sparked[0].__fields__)

    def test_native_sql_timerange_fallthrough_shapes(self, spark,
                                                     tmp_path):
        """Exact-or-fall-through on the SQL surface: any projection,
        ORDER BY, missing LIMIT, extra predicate, expression bound, or
        literal-injection attempt runs on Spark."""
        svc = self._service(spark, str(tmp_path))
        for sql in [
            "SELECT * FROM cpu WHERE time >= '2024-01-01'",   # no LIMIT
            "SELECT time FROM cpu WHERE time >= '2024-01-01' LIMIT 5",
            "SELECT * FROM cpu WHERE time >= '2024-01-01' "
            "ORDER BY time LIMIT 5",
            "SELECT * FROM cpu WHERE time >= '2024-01-01' "
            "AND host='a' LIMIT 5",
            "SELECT * FROM cpu WHERE time >= now() - INTERVAL 7 DAYS "
            "LIMIT 5",
            "SELECT * FROM cpu WHERE usage > 0 LIMIT 5",
            # crafted literal printing like a valid conjunction must
            # fail the paren-safe plan grammar, not serve rows
            "SELECT * FROM cpu WHERE time >= "
            "'2024-01-01) AND (time >= 2024-01-02' LIMIT 5",
            "SELECT * FROM cpu WHERE time BETWEEN "
            "'2024-01-01, 2024-01-02' AND '2024-03-01' LIMIT 5",
        ]:
            assert svc._native_timerange(sql, None) is None, sql

    def test_native_sql_timerange_db_scope_and_row_cap(self, spark,
                                                       tmp_path):
        from arc_spark.governance import Governor, TokenPolicy

        root = str(tmp_path)
        _ingest_some(spark, root)
        cat = MeasurementCatalog(spark, root)
        gov = Governor(default_policy=TokenPolicy(max_rows=1))
        svc = QueryService(spark, cat, governor=gov)
        svc.register_measurement("metrics", "cpu", view="cpu")
        sql = ("SELECT * FROM metrics.cpu WHERE time >= '2024-01-01' "
               "LIMIT 100")
        # db-scoped request + cross-db ref → native declines (the Spark
        # path surfaces the scoping error itself)
        assert svc._native_timerange(sql, "metrics") is None
        assert svc._native_timerange(sql, None) is not None
        # governance row cap applies on the native path
        rows = svc.execute(
            "SELECT * FROM cpu WHERE time >= '2023-01-01' LIMIT 100")
        assert len(rows) == 1

    def test_native_sql_timerange_recorded_instant(self, spark, tmp_path):
        svc = self._service(spark, str(tmp_path))
        sql = ("SELECT * FROM cpu WHERE time >= '2024-01-01' LIMIT 10")
        n0 = len(svc.registry.history())
        svc.execute(sql)
        hist = svc.registry.history()
        assert len(hist) > n0
        assert any(h.sql == sql and h.status == "done" for h in hist)

    def test_write_statement_rejected(self, spark, tmp_path):
        svc = self._service(spark, str(tmp_path))
        with pytest.raises(SqlValidationError):
            svc.execute("DROP TABLE cpu")
        with pytest.raises(SqlValidationError):
            svc.execute("INSERT INTO cpu VALUES (1)")

    def test_rbac_blocks_unlisted_table(self, spark, tmp_path):
        svc = self._service(
            spark, str(tmp_path), allowed_tables={"tok1": {"other_table"}}
        )
        with pytest.raises(AccessDeniedError):
            svc.execute("SELECT * FROM cpu", token="tok1")
        # unlisted token: allowed
        assert len(svc.execute("SELECT * FROM cpu", token="tok2")) == 2

    def test_row_cap_and_rate_limit(self, spark, tmp_path):
        gov = Governor()
        gov.set_policy("t", TokenPolicy(max_queries_per_minute=2, max_rows=1))
        svc = self._service(spark, str(tmp_path), governor=gov)
        assert len(svc.execute("SELECT * FROM cpu", token="t")) == 1  # capped
        svc.execute("SELECT * FROM cpu", token="t")
        with pytest.raises(RateLimitExceeded):
            svc.execute("SELECT * FROM cpu", token="t")

    def test_serialization_formats(self, spark, tmp_path):
        import pyarrow as pa

        svc = self._service(spark, str(tmp_path))
        ipc = svc.execute("SELECT host, usage FROM cpu", fmt="arrow")
        table = pa.ipc.open_stream(ipc).read_all()
        assert table.num_rows == 2
        chunks = svc.execute("SELECT host FROM cpu", fmt="json")
        assert any('"data"' in c for c in chunks)
        mp = svc.execute("SELECT host FROM cpu", fmt="msgpack")
        assert isinstance(mp, bytes) and len(mp) > 0


class TestIngestService:
    def test_msgpack_buffer_and_flush(self, spark, tmp_path):
        root = str(tmp_path)
        svc = IngestService(spark, root, max_buffer_rows=10_000, max_buffer_age_s=3600)
        payload = packb({
            "m": "temps",
            "columns": {"time": [1700000000000000, 1700000060000000],
                        "site": ["s1", "s2"], "temp": [21.5, 22.5]},
            "tags": ["site"],
        })
        assert svc.write_msgpack("iot", payload) == 2
        assert svc.stats["acked"] == 2 and svc.stats["flushed"] == 0
        assert svc.flush() == 2
        cat = MeasurementCatalog(spark, root)
        assert cat.table("iot", "temps").count() == 2

    def test_row_threshold_triggers_flush(self, spark, tmp_path):
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=3, max_buffer_age_s=3600)
        lp = "\n".join(
            f"cpu,host=h v={i} 17000000{i:02d}000000000" for i in range(4)
        )
        svc.write_line_protocol("m", lp.encode())
        assert svc.stats["flushes"] == 1  # threshold crossed → auto flush

    def test_wal_ack_then_crash_recovery(self, spark, tmp_path):
        root, wal = str(tmp_path / "data"), str(tmp_path / "wal")
        svc = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10_000,
                            max_buffer_age_s=3600)
        svc.write_line_protocol(
            "metrics", b"cpu,host=a v=1 1700000000000000000\n"
        )
        # crash before flush: buffered rows lost, WAL survives
        svc2 = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10_000,
                             max_buffer_age_s=3600)
        assert svc2.recover("metrics") == 1
        svc2.flush()
        cat = MeasurementCatalog(spark, root)
        assert cat.table("metrics", "cpu").count() == 1

    def test_decimal128_config_columns(self, spark, tmp_path):
        """Per-measurement DECIMAL128 config (reference §1.2,
        internal/config/decimal.go): configured columns land as
        decimal(p,s) at rest whether values arrive as float, int, or
        string; the manifest records the config like `arc:decimals`."""
        from arc_spark.sources.writer import read_manifest

        root = str(tmp_path)
        svc = IngestService(
            spark, root, max_buffer_rows=10_000, max_buffer_age_s=3600,
            decimal_config={"trades": {"price": (18, 4)}},
        )
        payload = packb({
            "m": "trades",
            "columns": {"time": [1700000000000000, 1700000060000000],
                        "sym": ["A", "B"],
                        "price": [19.99, "120.5"],
                        "qty": [3, 4]},
            "tags": ["sym"],
        })
        svc.write_msgpack("fin", payload)
        svc.flush()
        df = MeasurementCatalog(spark, root).table("fin", "trades")
        assert dict(df.dtypes)["price"] == "decimal(18,4)"
        assert dict(df.dtypes)["qty"] == "bigint"  # unconfigured: normal widening
        vals = sorted(str(r["price"]) for r in df.collect())
        assert vals == ["120.5000", "19.9900"]
        assert read_manifest(root, "fin", "trades")["decimals"] == {
            "price": [18, 4]
        }

    def test_schema_evolution_across_batches(self, spark, tmp_path):
        root = str(tmp_path)
        svc = IngestService(spark, root, max_buffer_rows=10_000, max_buffer_age_s=3600)
        svc.write_line_protocol("m", b"s temp=20.0 1700000000000000000\n")
        svc.write_line_protocol("m", b"s temp=21.0,humidity=0.4 1700000060000000000\n")
        svc.flush()
        df = MeasurementCatalog(spark, root).table("m", "s")
        rows = {r["temp"]: r["humidity"] for r in df.collect()}
        assert rows == {20.0: None, 21.0: 0.4}


class TestMeasurementEndpoint:
    def test_where_order_limit(self, spark, tmp_path):
        root = str(tmp_path)
        _ingest_some(spark, root)
        svc = QueryService(spark, MeasurementCatalog(spark, root))
        rows = svc.query_measurement(
            "metrics", "cpu", where="usage > 0.4", order_by="usage DESC", limit=1
        )
        assert len(rows) == 1 and rows[0]["host"] == "b"

    def test_injection_rejected(self, spark, tmp_path):
        root = str(tmp_path)
        _ingest_some(spark, root)
        svc = QueryService(spark, MeasurementCatalog(spark, root))
        with pytest.raises(SqlValidationError):
            svc.query_measurement("metrics", "cpu", where="1=1; DROP TABLE cpu")
        with pytest.raises(SqlValidationError):
            svc.query_measurement("metrics", "cpu", order_by="usage; DROP")


class TestDeferredDecode:
    def test_ack_counts_without_decode_and_flush_decodes(self, spark, tmp_path):
        """Deferred ack returns the EXACT row count from a header-only
        walk (no decode); the decode happens at flush and must not
        double-count the acked stat."""
        root, wal = str(tmp_path / "d"), str(tmp_path / "w")
        svc = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        payload = packb({
            "m": "cpu",
            "columns": {"time": [1700000000000000], "host": ["a"], "v": [1.0]},
            "tags": ["host"],
        })
        assert svc.write_msgpack("m", payload) == 1  # counted at ack
        assert svc.stats["acked"] == 1
        assert svc.flush() == 1
        assert svc.stats["acked"] == 1  # flush reconciles, not re-adds
        assert MeasurementCatalog(spark, root).table("m", "cpu").count() == 1

    def test_deferred_lp_ack_counts_lines(self, spark, tmp_path):
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        n = svc.write_line_protocol(
            "m",
            b"# comment\ncpu,host=a v=1 1700000000000000000\n\n"
            b"cpu,host=b v=2 1700000001000000000\n",
        )
        assert n == 2 and svc.stats["acked"] == 2
        assert svc.flush() == 2
        assert svc.stats["acked"] == 2

    def test_recover_skips_poison_wal_entry(self, spark, tmp_path):
        """A WAL entry that fails today's decode/validation (pre-
        validation era, hostile shapes) must not make STARTUP
        unrecoverable — the good entries around it still replay."""
        from arc_spark.sources.wal import Wal

        root, wal = str(tmp_path / "d"), str(tmp_path / "w")
        w = Wal(wal)
        good = packb({
            "m": "cpu",
            "columns": {"time": [1700000000000000], "host": ["a"],
                        "v": [1.0]},
            "tags": ["host"],
        })
        w.append(good)
        w.append(b"\x81\xa1m\xc1garbage")      # undecodable
        w.append(packb({
            "m": "../../escape",               # traversal measurement
            "columns": {"time": [1700000001000000], "v": [2.0]},
            "tags": [],
        }))
        w.append(good)
        w.close()
        svc = IngestService(spark, root, wal_dir=wal,
                            max_buffer_rows=10**9, max_buffer_age_s=10**9)
        assert svc.recover() == 2  # both good entries, both poisons skipped
        svc.flush()
        assert MeasurementCatalog(spark, root).table(
            "default", "cpu").count() == 2

    def test_deferred_lp_drops_are_observable(self, spark, tmp_path):
        """The deferred LP ack is documented as OPTIMISTIC (counts
        newlines); a line that fails to parse at flush must surface in
        stats['parse_dropped'] rather than vanish (round-4 advice)."""
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        n = svc.write_line_protocol(
            "m",
            b"cpu,host=a v=1 1700000000000000000\n"
            b"this is not line protocol at all\n"
            b"cpu,host=b v=2 1700000001000000000\n",
        )
        assert n == 3  # optimistic ack
        assert svc.flush() == 2  # only the parseable rows land
        assert svc.stats["acked"] == 2  # delta self-corrected
        assert svc.stats["parse_dropped"] == 1  # the drop is observable

    def test_mixed_formats_decode_at_flush(self, spark, tmp_path):
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.write_line_protocol("m", b"cpu,host=b v=2 1700000060000000000\n")
        svc.write_msgpack("m", packb({
            "m": "cpu",
            "columns": {"time": [1700000000000000], "host": ["a"], "v": [1.0]},
            "tags": ["host"],
        }))
        assert svc.flush() == 2
        assert MeasurementCatalog(spark, str(tmp_path)).table("m", "cpu").count() == 2

    def test_deferred_multi_measurement_lp_splits_in_process(self, spark, tmp_path):
        """A deferred LP payload mixing measurements must split per
        measurement in the IN-PROCESS decode lane exactly like the
        distributed drain does (r3 advice: the old lane attributed every
        row to the first line's measurement, so where rows landed
        depended on backlog size)."""
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        # stays WELL below distributed_flush_min_bytes → in-process lane
        svc.write_line_protocol(
            "m",
            b"cpu,host=a usage=1 1700000000000000000\n"
            b"mem,host=a used=7 1700000001000000000\n"
            b"cpu,host=b usage=2 1700000002000000000\n",
        )
        assert svc.flush() == 3
        cat = MeasurementCatalog(spark, str(tmp_path))
        assert cat.table("m", "cpu").count() == 2
        assert cat.table("m", "mem").count() == 1


class TestDurationCap:
    def test_timeout_cancels_job_group(self, spark, tmp_path):
        import time as _time

        from arc_spark.governance import QueryTimeout

        gov = Governor()
        gov.set_policy("slow", TokenPolicy(max_duration_s=0.5))
        root = str(tmp_path)
        _ingest_some(spark, root)
        svc = QueryService(spark, MeasurementCatalog(spark, root), governor=gov)
        svc.register_measurement("metrics", "cpu", view="cpu")

        # a query slowed by a sleeping UDF so the watchdog fires mid-stage
        spark.udf.register("slow_ident", lambda x: (_time.sleep(2), x)[1])
        with pytest.raises(QueryTimeout):
            svc.execute("SELECT slow_ident(host) FROM cpu", token="slow")
        infos = [i for i in svc.registry.list() if i.token == "slow"]
        assert infos and infos[-1].status == "timeout"

    def test_fast_query_unaffected(self, spark, tmp_path):
        gov = Governor()
        gov.set_policy("t", TokenPolicy(max_duration_s=30))
        root = str(tmp_path)
        _ingest_some(spark, root)
        svc = QueryService(spark, MeasurementCatalog(spark, root), governor=gov)
        svc.register_measurement("metrics", "cpu", view="cpu")
        assert len(svc.execute("SELECT * FROM cpu", token="t")) == 2


class TestRecoveryDurability:
    def test_recover_multi_segment_with_midreplay_flush(self, spark, tmp_path):
        """Regression (ADVICE high): a threshold-triggered flush mid-replay
        called wal.truncate(), deleting segments the replay iterator had not
        read — acked rows permanently lost + FileNotFoundError."""
        root, wal = str(tmp_path / "d"), str(tmp_path / "w")
        svc = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10**9,
                            max_buffer_age_s=10**9)
        for i in range(10):
            svc.write_line_protocol(
                "m", f"cpu,host=h{i} v={i} 17000000{i:02d}000000000\n".encode()
            )
            if i % 2 == 1:
                svc.wal._rotate()
        assert len(svc.wal._segments()) == 5
        # crash; tiny buffer on the recovering service → flush fires mid-replay
        svc2 = IngestService(spark, root, wal_dir=wal, max_buffer_rows=3,
                             max_buffer_age_s=10**9)
        assert svc2.recover("m") == 10
        assert MeasurementCatalog(spark, root).table("m", "cpu").count() == 10
        # every replayed row is in Parquet; WAL fully truncated at the end
        assert svc2.wal._segments() == []

    def test_recover_counts_rows_with_defer_decode(self, spark, tmp_path):
        """Regression (ADVICE low): recover() summed -1 per deferred payload."""
        root, wal = str(tmp_path / "d"), str(tmp_path / "w")
        svc = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        for i in range(3):
            svc.write_line_protocol("m", f"cpu v={i} 1700000{i:03d}000000000\n".encode())
        svc2 = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10**9,
                             max_buffer_age_s=10**9, defer_decode=True)
        assert svc2.recover("m") == 3
        assert svc2.defer_decode is True  # restored after replay


class TestWhereCommentBypass:
    def test_comment_in_where_cannot_drop_limit(self, spark, tmp_path):
        """Regression (ADVICE medium): `where` ending in `--` commented out
        the spliced ORDER BY/LIMIT, bypassing the endpoint row limit."""
        root = str(tmp_path)
        _ingest_some(spark, root)
        svc = QueryService(spark, MeasurementCatalog(spark, root))
        try:
            rows = svc.query_measurement("metrics", "cpu",
                                         where="usage > 0.0 --", limit=1)
        except SqlValidationError:
            return  # rejecting the clause outright is also safe
        assert len(rows) == 1


class TestBackgroundFlush:
    """flush_workers>0: the ack path never executes a flush (reference
    flushWorker pool, arrow_writer.go:2370-2438)."""

    def _payload(self, n, base=1700000000000000):
        return packb({
            "m": "cpu",
            "columns": {"time": [base + i * 1000 for i in range(n)],
                        "host": [f"h{i % 8}" for i in range(n)],
                        "v": [float(i) for i in range(n)]},
            "tags": ["host"],
        })

    def test_threshold_ack_returns_before_flush_completes(self, spark, tmp_path):
        import threading as _th

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10_000,
                            max_buffer_age_s=10**9, flush_workers=1)
        # gate the flush on an event the test controls: the write returning
        # while the gate is still closed PROVES the ack did not wait for
        # flush completion — no wall-clock threshold, so suite load can't
        # flake it (the old sleep(1.0)/ack<0.9 version tripped at 1.46 s
        # under a loaded box purely from scheduler jitter)
        orig_flush = svc.flush
        release = _th.Event()
        flush_done = _th.Event()

        def gated_flush():
            release.wait(30)
            try:
                return orig_flush()
            finally:
                flush_done.set()

        svc.flush = gated_flush
        try:
            svc.write_msgpack("m", self._payload(20_000))
            # the property under test: the ack returned while the flush
            # had NOT completed. If the ack path regressed to waiting out
            # the flush, the 30s gate expires first, orig_flush runs, and
            # flush_done is set before write_msgpack returns — this
            # assert then fails. (An earlier version asserted
            # `not release.is_set()`, which nothing could ever set before
            # this line — vacuously green; r10 review.)
            assert not flush_done.is_set()
            release.set()
            flushed = svc.drain()
            assert flushed + svc.stats["flushed"] >= 20_000
        finally:
            svc.flush = orig_flush
            svc.close()
        from arc_spark.catalog import MeasurementCatalog
        assert MeasurementCatalog(spark, str(tmp_path)).table("m", "cpu").count() == 20_000

    def test_wal_cut_preserves_post_snapshot_entries(self, spark, tmp_path):
        """Entries appended after a flush snapshot keep their WAL backing:
        crash after the flush loses nothing acked."""
        root, wal = str(tmp_path / "d"), str(tmp_path / "w")
        svc = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10_000,
                            max_buffer_age_s=10**9, flush_workers=1)
        try:
            svc.write_msgpack("m", self._payload(20_000))  # trips → async flush
            svc.drain()
            # post-flush write stays buffered, WAL must still hold it
            svc.write_msgpack("m", self._payload(5, base=1800000000000000))
        finally:
            svc._stop = True  # simulate crash: no drain of the tail write
        svc2 = IngestService(spark, root, wal_dir=wal, max_buffer_rows=10_000,
                             max_buffer_age_s=10**9)
        assert svc2.recover("m") == 5  # only the unflushed tail replays
        from arc_spark.catalog import MeasurementCatalog
        assert MeasurementCatalog(spark, root).table("m", "cpu").count() == 20_005

    def test_age_trigger_fires_without_traffic(self, spark, tmp_path):
        import time as _t

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=0.3, flush_workers=1)
        try:
            svc.write_msgpack("m", self._payload(10))
            deadline = _t.time() + 10
            while svc.stats["flushes"] == 0 and _t.time() < deadline:
                _t.sleep(0.05)
            assert svc.stats["flushes"] >= 1  # worker ticker flushed it
        finally:
            svc.close()


class TestDistributedBulkIngest:
    """Bulk LP runs one decode-and-write kernel on two engines behind one
    routing threshold: LOCAL THREADS for HTTP-sized payloads (≤
    local_fused_max_bytes — skips the Python-task job round-trip) and
    the staged Spark job for true backfills. Semantics are identical;
    the parametrization pins both."""

    @pytest.fixture(params=["local-threads", "spark-distributed"])
    def bulk_svc(self, request, spark, tmp_path):
        def make(**kw):
            svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                                max_buffer_age_s=10**9, **kw)
            if request.param == "spark-distributed":
                svc.local_fused_max_bytes = 0  # force the Spark engine
            return svc

        return make

    def test_large_lp_payload_routes_fused(self, bulk_svc, spark, tmp_path):
        """Payloads over the threshold decode via the fused parse+write
        path — no driver-core decode ceiling (round-1 VERDICT Wrong #4)."""
        svc = bulk_svc(distributed_decode_min_bytes=1024)
        lines = "\n".join(
            f"cpu,host=h{i % 5} usage={i % 100},active={'t' if i % 2 else 'f'} "
            f"{1700000000000000000 + i * 10**9}"
            for i in range(2000)
        )
        n = svc.write_line_protocol("metrics", lines.encode())
        assert n == 2000
        assert svc.stats["flushed"] == 2000  # written synchronously, no buffer
        df = MeasurementCatalog(spark, str(tmp_path)).table("metrics", "cpu")
        assert df.count() == 2000
        assert set(df.columns) >= {"time", "host", "usage", "active"}
        hosts = {r["host"] for r in df.select("host").distinct().collect()}
        assert hosts == {f"h{i}" for i in range(5)}

    def test_small_payload_stays_on_buffer_path(self, spark, tmp_path):
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9,
                            distributed_decode_min_bytes=10**9)
        n = svc.write_line_protocol("m", b"cpu v=1 1700000000000000000\n")
        assert n == 1 and svc.stats["flushed"] == 0  # buffered, not written

    def test_multi_measurement_bulk_splits_columns(self, bulk_svc, spark,
                                                   tmp_path):
        svc = bulk_svc(distributed_decode_min_bytes=1)
        lines = (
            "cpu,host=a usage=1.5 1700000000000000000\n"
            "mem,host=a free=100i 1700000000000000000\n"
        )
        assert svc.write_line_protocol("metrics", lines.encode()) == 2
        cat = MeasurementCatalog(spark, str(tmp_path))
        cpu, mem = cat.table("metrics", "cpu"), cat.table("metrics", "mem")
        assert "usage" in cpu.columns and "free" not in cpu.columns
        assert "free" in mem.columns and "usage" not in mem.columns

    def test_both_engines_write_identical_rowsets(self, spark, tmp_path):
        """Same payload through both bulk engines and the deferred
        distributed drain → identical rows, column types, manifests, and
        snapshot-committed visibility. A decimal_config column is
        decimal128 on every route, so a tree holding buffered and bulk
        files reads as one table (a bulk file with a double column used
        to fail the catalog read with CANNOT_MERGE_SCHEMAS)."""
        import glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        from arc_spark.sources.writer import read_manifest

        lines = "\n".join(
            f"cpu,host=h{i % 7} usage={i % 100},load={i % 7},px={i % 50}.25 "
            f"{1700000000000000000 + i * 10**9}"
            for i in range(3000)).encode()
        decimals = {"cpu": {"px": (10, 2)}}
        roots = {}
        for name in ("local", "spark", "drain"):
            root = str(tmp_path / name)
            svc = IngestService(spark, root, max_buffer_rows=10**9,
                                max_buffer_age_s=10**9,
                                distributed_decode_min_bytes=1,
                                defer_decode=name == "drain",
                                decimal_config=decimals)
            if name == "spark":
                svc.local_fused_max_bytes = 0
            if name == "drain":
                svc.distributed_flush_min_bytes = 1 << 10
            assert svc.write_line_protocol("metrics", lines) == 3000
            if name == "drain":
                assert svc.flush() == 3000
            # the write path itself committed: no read has touched (and
            # so adopted) the tree yet
            assert os.listdir(f"{root}/metrics/cpu/_arc_snapshots")
            files = glob.glob(f"{root}/metrics/cpu/**/*.parquet",
                              recursive=True)
            assert files
            for f in files:
                assert pq.read_schema(f).field("px").type \
                    == pa.decimal128(10, 2), (name, f)
            roots[name] = root
        rows = {}
        for name, root in roots.items():
            df = MeasurementCatalog(spark, root).table("metrics", "cpu")
            rows[name] = sorted(
                (r["time"], r["host"], r["usage"], r["load"], r["px"])
                for r in df.collect())
        assert rows["local"] == rows["spark"] == rows["drain"]
        for root in roots.values():
            m = read_manifest(root, "metrics", "cpu")
            assert m["tag_columns"] == ["host"]
            assert m["decimals"] == {"px": [10, 2]}
        # a buffered flush into the bulk-written tree: one readable table
        for root in (roots["local"], roots["spark"]):
            svc = IngestService(spark, root, max_buffer_rows=10**9,
                                max_buffer_age_s=10**9,
                                decimal_config=decimals)
            svc.write_line_protocol(
                "metrics",
                b"cpu,host=h0 usage=1,load=1,px=3.5 1800000000000000000\n")
            assert svc.flush() == 1
            df = MeasurementCatalog(spark, root).table("metrics", "cpu")
            assert dict(df.dtypes)["px"] == "decimal(10,2)"
            assert df.count() == 3001

    def test_invalid_measurement_name_rejects_whole_payload(
            self, bulk_svc, spark, tmp_path):
        """A bulk LP measurement name that fails validate_identifier
        answers 400 on both engines (the Spark engine used to raise it
        inside an executor: HTTP 500, counted against the breaker) and
        commits nothing — not even the payload's valid measurement."""
        import glob
        import urllib.error
        import urllib.request

        from arc_spark.auth import AuthStore
        from arc_spark.server import ArcServer

        root = str(tmp_path)
        payload = "\n".join(
            [f"cpu,host=a usage={i} {1700000000000000000 + i * 10**9}"
             for i in range(200)]
            + [f".hidden,host=a usage={i} {1700000000000000000 + i}"
               for i in range(5)]).encode()
        svc = bulk_svc(distributed_decode_min_bytes=1)
        with pytest.raises(SqlValidationError, match="invalid measurement"):
            svc.write_line_protocol("metrics", payload)
        auth = AuthStore(str(tmp_path / "auth.db"))
        admin = auth.create_token("admin")
        server = ArcServer(QueryService(spark, MeasurementCatalog(spark, root)),
                           svc, auth).start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}/api/v1/import/lp?db=metrics",
                data=payload, method="POST")
            req.add_header("Authorization", f"Bearer {admin}")
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(req, timeout=180)
            assert err.value.code == 400
        finally:
            server.stop()
        assert glob.glob(f"{root}/**/*.parquet", recursive=True) == []
        assert glob.glob(f"{root}/**/_arc_snapshots", recursive=True) == []
        assert svc.stats["flushed"] == 0


    def test_malformed_line_rejects_whole_payload(self, bulk_svc, spark,
                                                  tmp_path):
        """Bulk LP is all-or-nothing like the synchronous LP write: one
        malformed line answers 400 through POST /api/v1/import/lp and
        through an LP write at or above distributed_decode_min_bytes, on
        both engines, and leaves no parquet file and no snapshot."""
        import glob
        import urllib.error
        import urllib.request

        from arc_spark.auth import AuthStore
        from arc_spark.server import ArcServer
        from arc_spark.sources.line_protocol import LineProtocolError

        root = str(tmp_path)
        payload = (b"cpu,host=a v=1 1700000000000000000\n"
                   b"cpu,host=a v= 1700000001000000000\n"
                   b"cpu,host=a v=3 1700000002000000000\n")
        svc = bulk_svc(distributed_decode_min_bytes=len(payload))
        with pytest.raises(LineProtocolError, match="1 of 3 lines"):
            svc.write_line_protocol("metrics", payload)
        auth = AuthStore(str(tmp_path / "auth.db"))
        admin = auth.create_token("admin")
        server = ArcServer(QueryService(spark, MeasurementCatalog(spark, root)),
                           svc, auth).start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}/api/v1/import/lp?db=metrics",
                data=payload, method="POST")
            req.add_header("Authorization", f"Bearer {admin}")
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(req, timeout=180)
            assert err.value.code == 400
        finally:
            server.stop()
        assert glob.glob(f"{root}/**/*.parquet", recursive=True) == []
        assert glob.glob(f"{root}/**/_arc_snapshots", recursive=True) == []
        assert svc.stats["flushed"] == 0


def test_one_decode_write_kernel_in_api():
    """Bulk LP (both engines) and the distributed drain share one
    decode-and-write kernel: in arc_spark/api.py only ``_decode_write``
    and the buffered flush (``_write_buffers``) convert batches to Arrow
    or write Parquet, and no ingest knob reads the environment."""
    import ast
    import pathlib

    src = (pathlib.Path(__file__).resolve().parent.parent
           / "arc_spark" / "api.py").read_text()
    callers: dict[str, set[str]] = {}
    environ = []

    def visit(node, owner):
        # owner: the module-level function or method a node sits in
        # (nested closures count as their enclosing method)
        for child in ast.iter_child_nodes(node):
            inner = (child.name if owner is None
                     and isinstance(child, ast.FunctionDef) else owner)
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None)
                if name in ("columnar_to_arrow", "write_measurement_arrow"):
                    callers.setdefault(name, set()).add(inner)
            if (isinstance(child, ast.Attribute) and child.attr == "environ"
                    and getattr(child.value, "id", None) == "os"):
                environ.append(child.lineno)
            visit(child, inner)

    visit(ast.parse(src), None)
    assert callers == {"columnar_to_arrow": {"_decode_write", "_write_buffers"},
                       "write_measurement_arrow": {"_decode_write",
                                                   "_write_buffers"}}
    assert environ == []


class TestFlushFailureRetry:
    def test_failed_write_restores_buffers(self, spark, tmp_path, monkeypatch):
        """Review regression: a failed Parquet write must put the snapshot
        back so the next flush retries — not orphan acked rows in a
        swapped-out dict."""
        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9)
        svc.write_line_protocol("m", b"cpu,host=a v=1 1700000000000000000\n")
        import arc_spark.sources.writer as writer_mod

        def boom(*a, **k):
            raise OSError("disk full")

        monkeypatch.setattr(writer_mod, "write_measurement_arrow", boom)
        with pytest.raises(OSError):
            svc.flush()
        monkeypatch.undo()
        # buffers restored: the retry flushes the same row successfully
        assert svc.flush() == 1
        assert MeasurementCatalog(spark, str(tmp_path)).table("m", "cpu").count() == 1


class TestBulkLateMeasurement:
    def test_measurement_first_seen_after_first_chunk(self, spark, tmp_path):
        """Review regression: schema inference must cover EVERY chunk — a
        measurement/field appearing only late in the payload was silently
        dropped while still counted as written."""
        root = str(tmp_path)
        svc = IngestService(spark, root, max_buffer_rows=10**9,
                            max_buffer_age_s=10**9,
                            distributed_decode_min_bytes=1)
        # sorted payload: all cpu lines first, mem only at the end; chunking
        # at 4KB guarantees mem never appears in the first chunk
        lines = [f"cpu,host=h{i % 4} usage={i} {1700000000000000000 + i * 10**9}"
                 for i in range(400)]
        lines += [f"mem,host=h{i % 4} free={i}i,pressure={i / 7} "
                  f"{1700000000000000000 + i * 10**9}" for i in range(50)]
        payload = "\n".join(lines).encode()
        assert svc.write_line_protocol("metrics", payload) == 450
        cat = MeasurementCatalog(spark, root)
        assert cat.table("metrics", "cpu").count() == 400
        mem = cat.table("metrics", "mem")
        assert mem.count() == 50
        assert {"free", "pressure"} <= set(mem.columns)


def test_deferred_decode_backpressure_bounded(spark, tmp_path):
    """Deferred-decode payloads can't be row-counted before a flush, so
    the raw path carries a BYTE-based pending bound: sustained deferred
    ingest must converge to the flush rate, not ack into unbounded heap
    (regression: raw entries added 0 to the row-based pending gauge, so
    a defer lane 'acked' ~30x what was flushed)."""
    from arc_spark.api import IngestService
    from arc_spark.sources.msgpack_codec import packb

    n = 20_000
    payload = packb({"m": "cpu", "columns": {
        "time": [1700000000000000 + i for i in range(n)],
        "host": [f"h{i % 8}" for i in range(n)],
        "value": [float(i) for i in range(n)]}, "tags": ["host"]})
    svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                        max_buffer_age_s=10**9, defer_decode=True)
    svc.max_pending_raw_bytes = len(payload) * 2  # tiny bound: ~2 payloads
    for _ in range(10):
        svc.write_msgpack("bench", payload)
        # pending never exceeds bound + the payload just admitted
        assert (svc._raw_bytes + svc._flushing_raw_bytes
                <= svc.max_pending_raw_bytes + len(payload))
    svc.flush()
    assert svc.stats["flushed"] == 10 * n
    assert svc._raw_bytes == 0 and svc._flushing_raw_bytes == 0
    back = spark.read.parquet(str(tmp_path / "bench" / "cpu"))
    assert back.count() == 10 * n


class TestDistributedFlush:
    def _payload(self, n=5_000, base=0, meas="cpu"):
        from arc_spark.sources.msgpack_codec import packb

        return packb({"m": meas, "columns": {
            "time": [1700000000000000 + (base + i) * 1000 for i in range(n)],
            "host": [f"h{i % 8}" for i in range(n)],
            "value": [float(i) for i in range(n)]}, "tags": ["host"]})

    def test_large_deferred_backlog_drains_distributed(self, spark, tmp_path):
        """A deferred-msgpack backlog over the threshold decodes+writes on
        executors; rows, stats, manifest, and query visibility all match
        the in-process path."""
        from arc_spark.api import IngestService
        from arc_spark.sources.writer import read_manifest

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.distributed_flush_min_bytes = 1 << 10  # force the path
        query = QueryService(spark, MeasurementCatalog(spark, str(tmp_path)))
        for j in range(4):
            svc.write_msgpack("bench", self._payload(base=j * 5_000))
        n = svc.flush()
        assert n == 20_000
        assert svc.stats["flushed"] == 20_000 and svc.stats["acked"] == 20_000
        assert svc._raw_bytes == 0 and svc._flushing_raw_bytes == 0
        back = spark.read.parquet(str(tmp_path / "bench" / "cpu"))
        assert back.count() == 20_000
        assert read_manifest(str(tmp_path), "bench", "cpu")["tag_columns"] == ["host"]
        # the drain's commit is visible to a reader with no catalog call
        assert query.execute("SELECT COUNT(*) FROM cpu WHERE 1=1",
                             db="bench")[0][0] == 20_000

    def test_mixed_measurements_and_small_lp_coexist(self, spark, tmp_path):
        from arc_spark.api import IngestService

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.distributed_flush_min_bytes = 1 << 10
        svc.write_msgpack("bench", self._payload(meas="cpu"))
        svc.write_msgpack("bench", self._payload(meas="mem"))
        # a deferred LP payload rides the same flush through the
        # in-process decode
        svc.write_line_protocol(
            "bench", b"disk,host=z used=1 1700000000000000000\n")
        n = svc.flush()
        assert n == 10_001
        for meas, want in (("cpu", 5_000), ("mem", 5_000), ("disk", 1)):
            assert spark.read.parquet(
                str(tmp_path / "bench" / meas)).count() == want

    def test_threshold_none_disables(self, spark, tmp_path):
        from arc_spark.api import IngestService

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.distributed_flush_min_bytes = None
        svc.write_msgpack("bench", self._payload())
        assert svc.flush() == 5_000
        assert spark.read.parquet(str(tmp_path / "bench" / "cpu")).count() == 5_000

    def test_distributed_drain_merges_all_null_column(self, spark, tmp_path):
        """Issue-#337 shape on the EXECUTOR path: one deferred payload's
        column is entirely null, a sibling payload types it — the in-task
        merge must promote, not fail the whole drain job."""
        from arc_spark.api import IngestService
        from arc_spark.sources.msgpack_codec import packb

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.distributed_flush_min_bytes = 1 << 10
        # 8 payloads → 4 contiguous task groups of 2: the all-null payload
        # shares its group with a typed sibling (cross-GROUP type drift
        # remains the documented per-task schema boundary, same as the
        # reference's cross-batch rejection)
        for j in range(8):
            extra = ([None] * 50 if j == 0
                     else [float(j * 50 + i) for i in range(50)])
            svc.write_msgpack("m", packb({
                "m": "cpu",
                "columns": {
                    "time": [1700000000000000 + j * 50 + i
                             for i in range(50)],
                    "host": [f"h{i % 3}" for i in range(50)],
                    "extra": extra,
                },
                "tags": ["host"],
            }))
        assert svc.flush() == 400
        back = spark.read.parquet(str(tmp_path / "m" / "cpu"))
        assert back.count() == 400
        assert back.filter("extra IS NULL").count() == 50
        assert back.filter("extra = 51.0").count() == 1

    def test_split_drain_commits_tag_union_once(self, spark, tmp_path):
        """r15: a large backlog drains as TWO concurrent sub-jobs (guide
        §2.6 overlap), but manifest + snapshot must stay ONE commit over
        the union of both halves — a tag column appearing only in the
        second half must survive in the manifest exactly as the
        single-job drain would record it."""
        from arc_spark.api import IngestService
        from arc_spark.sources.msgpack_codec import packb
        from arc_spark.sources.writer import read_manifest

        def payload(tags, cols):
            n = 2_000
            columns = {"time": [1700000000000000 + i for i in range(n)]}
            for c in cols:
                columns[c] = [f"v{i % 3}" for i in range(n)]
            columns["value"] = [float(i) for i in range(n)]
            return packb({"m": "cpu", "columns": columns, "tags": tags})

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.distributed_flush_min_bytes = 1 << 10  # 2 payloads → 2 jobs
        svc.write_msgpack("bench", payload(["host"], ["host"]))
        svc.write_msgpack("bench", payload(["host", "region"],
                                           ["host", "region"]))
        assert svc.flush() == 4_000
        m = read_manifest(str(tmp_path), "bench", "cpu")
        assert m["tag_columns"] == ["host", "region"]
        back = spark.read.parquet(str(tmp_path / "bench" / "cpu"))
        assert back.count() == 4_000
        svc.close()

    def test_split_drain_disabled_matches(self, spark, tmp_path, monkeypatch):
        """A backlog under 2× the drain threshold drains as ONE job;
        committed rows and manifest must be identical to the split
        drain."""
        from arc_spark.api import IngestService
        from arc_spark.sources.msgpack_codec import packb
        from arc_spark.sources.writer import read_manifest

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        payloads = [packb({"m": "cpu", "columns": {
            "time": [1700000000000000 + (j * 100 + i) * 1000
                     for i in range(100)],
            "host": [f"h{i % 8}" for i in range(100)],
            "value": [float(i) for i in range(100)]},
            "tags": ["host"]}) for j in range(4)]
        # backlog == threshold: distributed, and below the 2× split gate
        svc.distributed_flush_min_bytes = sum(len(p) for p in payloads)
        jobs = []
        run_job = svc._decode_write_spark
        monkeypatch.setattr(svc, "_decode_write_spark",
                            lambda db, entries: jobs.append(len(entries))
                            or run_job(db, entries))
        for p in payloads:
            svc.write_msgpack("bench", p)
        assert svc.flush() == 400
        assert jobs == [4]
        assert read_manifest(str(tmp_path), "bench",
                             "cpu")["tag_columns"] == ["host"]
        assert spark.read.parquet(
            str(tmp_path / "bench" / "cpu")).count() == 400
        svc.close()

    def test_deferred_lp_backlog_drains_distributed(self, spark, tmp_path):
        """Deferred LINE-PROTOCOL backlogs over the threshold also drain
        on executors (parse_chunk_columnar per payload in-task)."""
        from arc_spark.api import IngestService

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9, defer_decode=True)
        svc.distributed_flush_min_bytes = 1 << 10
        for j in range(3):
            lp = "\n".join(
                f"cpu,host=h{i % 4} usage={i} "
                f"{1700000000000000000 + (j * 500 + i) * 10**9}"
                for i in range(500)).encode()
            svc.write_line_protocol("bench", lp)
        n = svc.flush()
        assert n == 1500
        back = spark.read.parquet(str(tmp_path / "bench" / "cpu"))
        assert back.count() == 1500
        assert back.select("host").distinct().count() == 4


class TestQueryHistoryRing:
    """Finished queries move to a bounded ring (reference
    queryregistry/registry.go Complete/Fail → history)."""

    def _service(self, spark, root):
        _ingest_some(spark, root)
        cat = MeasurementCatalog(spark, root)
        svc = QueryService(spark, cat)
        svc.register_measurement("metrics", "cpu", view="cpu")
        return svc

    def test_finished_moves_to_history(self, spark, tmp_path):
        svc = self._service(spark, str(tmp_path))
        svc.execute("SELECT * FROM cpu")
        assert svc.registry.active() == []
        hist = svc.registry.history()
        assert hist and hist[0].status == "done"
        # get() resolves finished ids from history
        assert svc.registry.get(hist[0].query_id) is hist[0]
        assert svc.registry.get("nope") is None

    def test_history_bounded_and_ordered(self, spark, tmp_path):
        from arc_spark.governance import QueryRegistry

        reg = QueryRegistry(spark, history_size=3)
        df = spark.range(1)
        for i in range(5):
            reg.run(df, sql=f"q{i}")
        hist = reg.history()
        assert len(hist) == 3  # capacity bound
        assert [h.sql for h in hist] == ["q4", "q3", "q2"]  # recent first
        assert len(reg.list()) == 3

    def test_error_lands_in_history(self, spark, tmp_path):
        from arc_spark.governance import QueryRegistry

        reg = QueryRegistry(spark, history_size=10)

        def _boom(df):
            raise RuntimeError("mid-collect failure")

        with pytest.raises(RuntimeError):
            reg.run(spark.range(1), sql="exploding", collect=_boom)
        assert any(i.status == "error" and i.sql == "exploding"
                   for i in reg.history())
        assert reg.active() == []

    def test_prune_ages_out_history(self, spark, tmp_path):
        from arc_spark.governance import QueryRegistry

        reg = QueryRegistry(spark, history_size=10)
        reg.run(spark.range(1), sql="old")
        reg.prune(keep_s=0.0)
        assert reg.history() == []


class TestRegistryInstantRecords:
    def test_native_paths_appear_in_history(self, spark, tmp_path):
        """Queries answered without a Spark job (metadata aggregates,
        fast scan) still land in the registry history ring — GetHistory
        completeness, matching the reference registry."""
        _ingest_some(spark, str(tmp_path))
        cat = MeasurementCatalog(spark, str(tmp_path))
        svc = QueryService(spark, cat)
        svc.register_measurement("metrics", "cpu", view="cpu")
        svc.execute("SELECT COUNT(*) FROM cpu", token="t1")
        svc.query_measurement("metrics", "cpu", limit=5, token="t1")
        hist = svc.registry.history()
        sqls = [h.sql for h in hist]
        assert any("COUNT(*)" in s for s in sqls)
        assert any(s.startswith("SELECT * FROM") for s in sqls)
        assert all(h.status == "done" for h in hist)
