"""Config loader + process entrypoint + graceful shutdown
(reference arc.toml / internal/config/config.go / cmd/arc/main.go /
internal/shutdown/)."""

from __future__ import annotations

import datetime as dt
import json
import os
import signal
import subprocess
import sys
import time
import urllib.request

import pytest

from arc_spark.config import (
    DEFAULTS,
    build_engine,
    load_config,
    parse_decimal_columns,
    shutdown,
)


class TestLoadConfig:
    def test_defaults_without_file(self):
        cfg = load_config(None, env={})
        assert cfg["server"]["port"] == 8000
        assert cfg["ingest"]["defer_decode"] is True  # default profile
        assert cfg["ingest"]["flush_workers"] == 2

    def test_file_overrides_defaults(self, tmp_path):
        p = tmp_path / "arc.toml"
        p.write_text(
            "[server]\nport = 9001\n"
            "[storage]\nlocal_path = '/data/x'\n"
            "[ingest]\ndefer_decode = false\n"
            "decimal_columns = ['sensors:value=38,10']\n"
            "[future_section]\nmystery = 1\n"
        )
        cfg = load_config(str(p), env={})
        assert cfg["server"]["port"] == 9001
        assert cfg["storage"]["local_path"] == "/data/x"
        assert cfg["ingest"]["defer_decode"] is False
        # unknown sections tolerated (forward compat)
        assert cfg["future_section"]["mystery"] == 1

    def test_env_overrides_file(self, tmp_path):
        p = tmp_path / "arc.toml"
        p.write_text("[server]\nport = 9001\n")
        cfg = load_config(str(p), env={
            "ARC_SERVER_PORT": "9002",
            "ARC_INGEST_DEFER_DECODE": "false",
            "ARC_RETENTION_DAYS": "30",
            "ARC_COMPACTION_MIN_AGE_HOURS": "0.5",
            "ARC_INGEST_DECIMAL_COLUMNS": "m:a=10,2;m:b=38,0",
        })
        assert cfg["server"]["port"] == 9002
        assert cfg["ingest"]["defer_decode"] is False
        assert cfg["retention"]["days"] == 30
        assert cfg["compaction"]["min_age_hours"] == 0.5
        assert cfg["ingest"]["decimal_columns"] == ["m:a=10,2", "m:b=38,0"]

    def test_bad_env_bool_rejected(self):
        with pytest.raises(ValueError):
            load_config(None, env={"ARC_AUTH_ENABLED": "maybe"})

    def test_file_values_type_checked(self, tmp_path):
        """File values for known keys fail at LOAD on a type mismatch
        (round-4 advice: port = "8000" or a scalar where a list is
        expected used to load silently and explode inside build_engine)."""
        # quoted scalars coerce like env overrides — common toml mistake
        p = tmp_path / "a.toml"
        p.write_text('[server]\nport = "9001"\n'
                     '[ingest]\ndefer_decode = "false"\n'
                     'decimal_columns = "m:a=10,2;m:b=38,0"\n')
        cfg = load_config(str(p), env={})
        assert cfg["server"]["port"] == 9001
        assert cfg["ingest"]["defer_decode"] is False
        assert cfg["ingest"]["decimal_columns"] == ["m:a=10,2", "m:b=38,0"]
        # genuinely wrong types raise with the section/key in the message
        for body in ('[server]\nport = [8000]\n',
                     '[server]\nport = "not-a-port"\n',
                     '[ingest]\ndefer_decode = 3\n',
                     '[ingest]\ndecimal_columns = 7\n',
                     '[compaction]\nmin_age_hours = "soon"\n'):
            (tmp_path / "b.toml").write_text(body)
            with pytest.raises(ValueError) as exc:
                load_config(str(tmp_path / "b.toml"), env={})
            assert "[" in str(exc.value)  # names the offending key

    def test_unknown_key_in_known_section_warns(self, tmp_path, caplog):
        import logging

        p = tmp_path / "a.toml"
        p.write_text("[server]\nprot = 9001\n")  # misspelled 'port'
        with caplog.at_level(logging.WARNING, logger="arc_spark.config"):
            cfg = load_config(str(p), env={})
        assert cfg["server"]["port"] == 8000  # default untouched
        assert cfg["server"]["prot"] == 9001  # kept verbatim
        assert any("prot" in r.message for r in caplog.records)

    def test_every_default_is_coercible(self):
        # the env scheme covers every key: coercion round-trips defaults
        for section, vals in DEFAULTS.items():
            for key, default in vals.items():
                assert isinstance(key, str) and section


class TestDecimalColumns:
    def test_reference_syntax(self):
        out = parse_decimal_columns(["sensors:value=38,10"])
        assert out == {"sensors": {"value": (38, 10)}}

    def test_multi_column_and_measurement(self):
        out = parse_decimal_columns(
            ["m1:a=10,2;b=20,5", "m2:c=38,0", "m1:d=5,1"])
        assert out["m1"] == {"a": (10, 2), "b": (20, 5), "d": (5, 1)}
        assert out["m2"] == {"c": (38, 0)}

    @pytest.mark.parametrize("bad", [
        "noseparator", "m:", "m:a=10", "m:a=39,0", "m:a=10,11", ":a=10,2",
    ])
    def test_invalid_rejected(self, bad):
        with pytest.raises(ValueError):
            parse_decimal_columns([bad])


class TestBuildAndServe:
    def test_engine_boots_from_config_file_alone(self, spark, tmp_path):
        """The r3 verdict's done-criterion: e2e boot from a config file —
        build, serve HTTP, ingest, query back, graceful shutdown."""
        root = tmp_path / "data"
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(
            f"[storage]\nlocal_path = '{root}'\n"
            f"[server]\nport = 0\n"
            f"[ingest]\nmax_buffer_age_ms = 100\n"
            f"wal_path = '{tmp_path / 'wal'}'\n"
            f"[compaction]\ninterval_s = 3600\n"
        )
        cfg = load_config(str(cfgfile), env={})
        engine = build_engine(cfg, spark=spark)
        # every root is local: view rebuilds list their files driver-side
        assert int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold")) > 10**6
        server = engine["server"].start()
        try:
            base = f"http://127.0.0.1:{server.port}"
            with urllib.request.urlopen(base + "/health", timeout=10) as r:
                assert json.load(r)["status"] == "ok"
            # ingest through the wire (deferred-decode default profile)
            lp = b"cpu,host=a usage=1 1700000000000000000\n"
            req = urllib.request.Request(
                base + "/api/v1/write/line?db=m", data=lp, method="POST")
            with urllib.request.urlopen(req, timeout=10) as r:
                assert r.status in (200, 204)
            engine["ingest"].drain()
            # query it back through the wire
            engine["catalog"].register("m", "cpu")
            q = json.dumps({"sql": "SELECT count(*) AS n FROM m_cpu"}).encode()
            req = urllib.request.Request(
                base + "/api/v1/query", data=q,
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req, timeout=30) as r:
                chunks = json.load(r)  # typed-JSON chunks: columns + data
            assert chunks[0]["columns"][0]["name"] == "n"
            assert chunks[1]["data"] == [[1]]
        finally:
            shutdown(engine)
        # shutdown is idempotent
        shutdown(engine)

    def test_shutdown_drains_ingest_and_seals_wal(self, spark, tmp_path):
        """Orderly close: buffered rows flush, WAL truncates to empty —
        a restart replays nothing (reference internal/shutdown/)."""
        root = tmp_path / "data"
        wal = tmp_path / "wal"
        cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": str(root),
            "ARC_INGEST_WAL_PATH": str(wal),
            "ARC_SERVER_PORT": "0",
            "ARC_INGEST_MAX_BUFFER_AGE_MS": "1000000000",
            "ARC_INGEST_MAX_BUFFER_SIZE": "1000000000",
        })
        engine = build_engine(cfg, spark=spark)
        svc = engine["ingest"]
        svc.write_line_protocol(
            "m", b"cpu,host=a usage=1 1700000000000000000\n")
        shutdown(engine)
        assert svc.stats["flushed"] >= 1
        # WAL sealed: a fresh service over the same WAL replays nothing
        from arc_spark.api import IngestService

        svc2 = IngestService(spark, str(root), wal_dir=str(wal))
        assert svc2.recover("m") == 0
        import glob as _g

        assert _g.glob(str(root / "m" / "cpu" / "**" / "*.parquet"),
                       recursive=True)


class TestSigtermSubprocess:
    def test_sigterm_orderly_shutdown(self, tmp_path):
        """Real process, real signal: `python -m arc_spark serve` exits 0
        on SIGTERM after draining (cmd/arc/main.go + internal/shutdown)."""
        root = tmp_path / "data"
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(
            f"[storage]\nlocal_path = '{root}'\n"
            "[server]\nport = 0\n"
            "[spark]\ncpus = 2\n"
            "[reconciliation]\nenabled = false\n"
        )
        env = dict(os.environ)
        env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
        proc = subprocess.Popen(
            [sys.executable, "-m", "arc_spark", "serve", "-c", str(cfgfile)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env,
            text=True, cwd=str(tmp_path),
        )
        try:
            deadline = time.time() + 120
            line = ""
            while time.time() < deadline:
                line = proc.stdout.readline()
                if "serving on" in line:
                    break
                if proc.poll() is not None:
                    raise AssertionError(
                        "server exited early:\n" + proc.stdout.read())
            assert "serving on" in line
            proc.send_signal(signal.SIGTERM)
            out, _ = proc.communicate(timeout=60)
            assert proc.returncode == 0
            assert "shutdown complete" in out
        finally:
            if proc.poll() is None:
                proc.kill()


class TestMaintainSubprocess:
    def test_out_of_process_maintenance_pass(self, spark, tmp_path):
        """`python -m arc_spark maintain` — the A24 collapse end-to-end:
        a SEPARATE process compacts + exports the tree while this process
        keeps committing; CAS snapshot commits mean neither side loses
        files (reference internal/compaction/subprocess.go)."""
        import datetime as _dt

        from pyspark.sql import functions as F

        from arc_spark import snapshots
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.sources.writer import write_measurement

        root = tmp_path / "data"
        for k in range(3):  # several DISTINCT files per partition →
            # compactable without LWW-dedup collapsing the row count
            df = spark.range(60).select(
                F.timestamp_micros(
                    F.lit(int(_dt.datetime(2020, 1, 15).timestamp()
                              * 1_000_000))
                    + F.col("id") * 10 + F.lit(k)).alias("time"),
                (F.col("id") % 3).cast("string").alias("host"),
                F.col("id").cast("double").alias("value"))
            write_measurement(df, str(root), "metrics", "cpu",
                              tag_columns=["host"])
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(
            f"[storage]\nlocal_path = '{root}'\n"
            "[spark]\ncpus = 2\n"
            "[compaction]\nmin_files = 2\nmin_age_hours = 0.0\n"
        )
        env = dict(os.environ)
        env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
        proc = subprocess.Popen(
            [sys.executable, "-m", "arc_spark", "maintain",
             "-c", str(cfgfile), "--jobs", "compaction,export"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env,
            text=True, cwd=str(tmp_path))
        try:
            # keep committing REAL files from THIS process while the
            # other process compacts/exports the same measurement
            import pyarrow as pa
            import pyarrow.parquet as pq

            meas_path = str(root / "metrics" / "cpu")
            part = (root / "metrics" / "cpu" / "year=2020" / "month=1" /
                    "day=15" / "hour=1")
            part.mkdir(parents=True, exist_ok=True)
            empty = pa.table({
                "time": pa.array([], pa.timestamp("us")),
                "host": pa.array([], pa.string()),
                "value": pa.array([], pa.float64())})
            racing = []
            for i in range(40):
                rel = f"year=2020/month=1/day=15/hour=1/race-r{i}.parquet"
                pq.write_table(empty, str(part / f"race-r{i}.parquet"))
                snapshots.commit(meas_path, add=[rel])
                racing.append(rel)
            out, _ = proc.communicate(timeout=300)
        finally:
            if proc.poll() is None:
                proc.kill()
        assert proc.returncode == 0, out
        line = json.loads(out.strip().splitlines()[-1])
        assert line["jobs"]["compaction"]["partitions"] >= 1
        assert line["jobs"]["export"]["measurements"] >= 1
        # consistency after the interleaved runs: every committed file
        # exists on disk (racing adds either survived verbatim or were
        # folded by the other process's compaction commit — never lost
        # into a dangling reference), and the data still reads exactly
        import os as _os

        _, rels = snapshots.current(meas_path)
        assert rels, racing
        for rel in rels:
            assert _os.path.exists(_os.path.join(meas_path, rel)), rel
        spark.catalog.clearCache()
        cat = MeasurementCatalog(spark, str(root))
        cat.invalidate("metrics", "cpu")
        assert cat.table("metrics", "cpu").count() == 180


class TestTls:
    @pytest.fixture()
    def certpair(self, tmp_path):
        cert, key = tmp_path / "cert.pem", tmp_path / "key.pem"
        r = subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
             "-keyout", str(key), "-out", str(cert), "-days", "1",
             "-subj", "/CN=localhost",
             "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
            capture_output=True)
        if r.returncode != 0:
            pytest.skip(f"openssl cert generation failed: {r.stderr[:200]}")
        return str(cert), str(key)

    def test_https_serving(self, spark, tmp_path, certpair):
        """TLS termination on the wire layer (reference [server]
        tls_enabled/tls_cert_file/tls_key_file): the same routes serve
        over https, and the client can pin the server cert."""
        import ssl

        cert, key = certpair
        cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": str(tmp_path / "data"),
            "ARC_SERVER_PORT": "0",
            "ARC_SERVER_TLS_ENABLED": "true",
            "ARC_SERVER_TLS_CERT_FILE": cert,
            "ARC_SERVER_TLS_KEY_FILE": key,
        })
        engine = build_engine(cfg, spark=spark)
        server = engine["server"].start()
        try:
            assert server.tls
            ctx = ssl.create_default_context(cafile=cert)
            ctx.check_hostname = False  # self-signed; cert IS the pin
            url = f"https://127.0.0.1:{server.port}/health"
            with urllib.request.urlopen(url, timeout=10, context=ctx) as r:
                assert json.load(r)["status"] == "ok"
            # plain-HTTP client against the TLS port fails the handshake
            with pytest.raises(Exception):
                urllib.request.urlopen(
                    f"http://127.0.0.1:{server.port}/health", timeout=5)
        finally:
            shutdown(engine)

    def test_tls_enabled_requires_cert(self, tmp_path):
        cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": str(tmp_path / "data"),
            "ARC_SERVER_TLS_ENABLED": "true",
        })
        with pytest.raises(ValueError):
            build_engine(cfg, spark=object())


class TestS3StorageConfig:
    def test_s3_backend_resolves_and_registers(self):
        from arc_spark import storage
        from arc_spark.config import resolve_storage_root

        st = dict(DEFAULTS["storage"])
        st.update(backend="s3", s3_bucket="mybucket", s3_prefix="arc",
                  s3_endpoint="minio.local:9000", s3_region="us-east-1",
                  s3_access_key="ak", s3_secret_key="sk")
        try:
            root = resolve_storage_root(st)
            assert root == "s3://mybucket/arc"
            bk = storage.backend_for(root)
            assert bk.scheme == "s3" and bk.spark_prefix == "s3a://"
            assert bk.spark_url(root) == "s3a://mybucket/arc"
        finally:
            storage.unregister_scheme("s3")

    def test_s3_requires_bucket(self):
        from arc_spark.config import resolve_storage_root

        st = dict(DEFAULTS["storage"])
        st["backend"] = "s3"
        with pytest.raises(ValueError):
            resolve_storage_root(st)

    def test_local_backend_passthrough(self):
        from arc_spark.config import resolve_storage_root

        st = dict(DEFAULTS["storage"])
        st["local_path"] = "/data/x"
        assert resolve_storage_root(st) == "/data/x"


class TestSortKeysConfig:
    def test_parse(self):
        from arc_spark.config import parse_sort_keys

        out = parse_sort_keys(["cpu:host,region", "mem:host"])
        assert out == {"cpu": ["host", "region"], "mem": ["host"]}
        with pytest.raises(ValueError):
            parse_sort_keys(["nocolon"])
        with pytest.raises(ValueError):
            parse_sort_keys(["m:"])

    def test_ingest_honors_configured_sort_keys(self, spark, tmp_path):
        """Reference [ingest] sort_keys 'measurement:col1,col2'
        (internal/config/sort_keys.go): flushed files sort by the
        configured keys (value DESC within a host here would break), and
        the measurement manifest records them for compaction."""
        import pyarrow.parquet as pq

        from arc_spark.api import IngestService
        from arc_spark.sources.msgpack_codec import packb
        from arc_spark.sources.writer import read_manifest

        svc = IngestService(
            spark, str(tmp_path), max_buffer_rows=10**9,
            max_buffer_age_s=10**9,
            sort_keys_config={"cpu": ["value", "host"]},
        )
        payload = packb({
            "m": "cpu",
            "columns": {
                "time": [1_700_000_000_000_000 + i for i in range(100)],
                "host": [f"h{(i * 7) % 5}" for i in range(100)],
                "value": [float((i * 13) % 17) for i in range(100)],
            },
            "tags": ["host"],
        })
        svc.write_msgpack("m", payload)
        svc.flush()
        man = read_manifest(str(tmp_path), "m", "cpu")
        assert man["sort_keys"] == ["value", "host", "time"]
        import glob as _g

        f = _g.glob(str(tmp_path / "m" / "cpu" / "**" / "*.parquet"),
                    recursive=True)[0]
        vals = pq.read_table(f, columns=["value"])["value"].to_pylist()
        assert vals == sorted(vals)  # value is the primary sort key


class TestDefaultQueryPolicy:
    def test_default_policy_caps_unknown_tokens(self, spark, tmp_path):
        from arc_spark.governance import Governor, RateLimitExceeded, TokenPolicy

        g = Governor(default_policy=TokenPolicy(
            max_queries_per_minute=2, max_rows=5, max_duration_s=9.0))
        g.admit("anon")
        g.admit("anon")
        with pytest.raises(RateLimitExceeded):
            g.admit("anon")
        df = spark.range(100)
        assert g.cap("other", df).count() == 5
        assert g.timeout_s("x") == 9.0
        # explicit per-token policy overrides the default
        g.set_policy("vip", TokenPolicy(max_rows=50))
        assert g.cap("vip", spark.range(100)).count() == 50

    def test_config_builds_default_policy(self):
        cfg = load_config(None, env={
            "ARC_QUERY_MAX_ROWS": "7",
            "ARC_QUERY_QUERIES_PER_MINUTE": "100",
        })
        assert cfg["query"]["max_rows"] == 7
        assert cfg["query"]["queries_per_minute"] == 100


class TestTimeSeriesMetrics:
    def test_collector_rings_and_types(self, spark, tmp_path):
        from arc_spark.api import IngestService
        from arc_spark.metrics import TimeSeriesCollector

        svc = IngestService(spark, str(tmp_path), max_buffer_rows=10**9,
                            max_buffer_age_s=10**9)
        col = TimeSeriesCollector(ingest=svc, interval_s=0.05,
                                  retention_minutes=1)
        col.collect_once()
        svc.write_line_protocol(
            "m", b"cpu,host=a v=1 1700000000000000000\n")
        col.collect_once()
        sysp = col.get("system", 30)
        app = col.get("application", 30)
        assert len(sysp) == 2 and sysp[-1]["values"]["threads"] >= 1
        assert app[-1]["values"]["ingest_rows_acked_total"] == 1
        assert app[0]["values"]["ingest_rows_acked_total"] == 0
        with pytest.raises(ValueError):
            col.get("bogus", 30)
        # ring is bounded: retention 1 min / interval (floored at 0.1s)
        assert col.system._points.maxlen == 600

    def test_http_route(self, spark, tmp_path):
        cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": str(tmp_path / "data"),
            "ARC_SERVER_PORT": "0",
            "ARC_METRICS_TIMESERIES_INTERVAL_S": "3600",
        })
        engine = build_engine(cfg, spark=spark)
        server = engine["server"].start()
        try:
            base = f"http://127.0.0.1:{server.port}"
            with urllib.request.urlopen(
                    base + "/api/v1/metrics/timeseries/system?"
                    "duration_minutes=5", timeout=10) as r:
                out = json.load(r)
            assert out["type"] == "system" and out["points_count"] >= 1
            assert "memory_rss_mb" in out["data"][0]["values"]
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(
                    base + "/api/v1/metrics/timeseries/nope", timeout=10)
            assert e.value.code == 400
        finally:
            shutdown(engine)


class TestSparkTempSweep:
    def test_aged_dirs_swept_young_kept(self, tmp_path):
        import time as _time

        from arc_spark.session import cleanup_orphaned_spark_temp

        aged = tmp_path / "spark-deadbeef"
        aged.mkdir()
        (aged / "x").write_text("junk")
        os.utime(aged, (1, 1))
        aged2 = tmp_path / "blockmgr-cafe"
        aged2.mkdir()
        os.utime(aged2, (1, 1))
        young = tmp_path / "spark-live"
        young.mkdir()
        other = tmp_path / "unrelated-dir"
        other.mkdir()
        os.utime(other, (1, 1))
        n = cleanup_orphaned_spark_temp(str(tmp_path), min_age_s=3600)
        assert n == 2
        assert not aged.exists() and not aged2.exists()
        assert young.exists() and other.exists()


class TestMaintainIcebergExport:
    def test_maintain_export_honors_format(self, spark, tmp_path):
        """`maintain --jobs export` follows [export] format="iceberg" —
        the out-of-process pass and the scheduler job publish the same
        surface (verified by the independent reader)."""
        import datetime as _dt
        import json as _json
        import subprocess
        import sys as _sys

        from pyspark.sql import functions as F

        from arc_spark.sources.writer import write_measurement

        root = tmp_path / "data"
        df = spark.range(40).select(
            F.timestamp_micros(
                F.lit(int(_dt.datetime(2020, 1, 15).timestamp()
                          * 1_000_000)) + F.col("id") * 10).alias("time"),
            (F.col("id") % 3).cast("string").alias("host"),
            F.col("id").cast("double").alias("value"))
        write_measurement(df, str(root), "metrics", "cpu",
                          tag_columns=["host"])
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(
            f"[storage]\nlocal_path = '{root}'\n"
            "[spark]\ncpus = 2\n"
            "[export]\nformat = 'iceberg'\n")
        env = dict(os.environ)
        env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
        out = subprocess.run(
            [_sys.executable, "-m", "arc_spark", "maintain",
             "-c", str(cfgfile), "--jobs", "export"],
            capture_output=True, text=True, env=env, cwd=str(tmp_path),
            timeout=300)
        assert out.returncode == 0, out.stdout + out.stderr
        line = _json.loads(out.stdout.strip().splitlines()[-1])
        assert line["jobs"]["export"]["format"] == "iceberg"
        assert line["jobs"]["export"]["commits"] == 1
        from arc_spark import snapshots
        from tests._iceberg_reader import read_table

        mp = str(root / "metrics" / "cpu")
        state = read_table(mp)
        committed = {os.path.relpath(f, mp)
                     for f in snapshots.data_files(mp)}
        assert {os.path.relpath(f["path"], mp)
                for f in state["files"]} == committed


class TestExportSubcommand:
    def _write_cpu(self, spark, root):
        import datetime as _dt

        from pyspark.sql import functions as F

        from arc_spark.sources.writer import write_measurement

        df = spark.range(40).select(
            F.timestamp_micros(
                F.lit(int(_dt.datetime(2020, 1, 15).timestamp()
                          * 1_000_000)) + F.col("id") * 10).alias("time"),
            (F.col("id") % 3).cast("string").alias("host"),
            F.col("id").cast("double").alias("value"))
        write_measurement(df, str(root), "metrics", "cpu",
                          tag_columns=["host"])

    def _run(self, tmp_path, *argv, timeout=300):
        import subprocess
        import sys as _sys

        env = dict(os.environ)
        env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
        return subprocess.run(
            [_sys.executable, "-m", "arc_spark", "export", *argv],
            capture_output=True, text=True, env=env, cwd=str(tmp_path),
            timeout=timeout)

    def test_one_shot_export_both_formats(self, spark, tmp_path):
        """`python -m arc_spark export --format both` publishes a Delta
        log AND Iceberg v2 metadata over the committed set, no Spark
        session, scoped to one measurement (CLI twin of the
        POST /api/v1/export route)."""
        import json as _json

        root = tmp_path / "data"
        self._write_cpu(spark, root)
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(f"[storage]\nlocal_path = '{root}'\n")
        out = self._run(tmp_path, "-c", str(cfgfile), "--format", "both",
                        "--db", "metrics", "--measurement", "cpu")
        assert out.returncode == 0, out.stdout + out.stderr
        line = _json.loads(out.stdout.strip().splitlines()[-1])
        assert line["format"] == "both"
        assert [(r["db"], r["measurement"]) for r in line["exported"]] == [
            ("metrics", "cpu")]
        from arc_spark import snapshots
        from tests._delta_reader import read_state
        from tests._iceberg_reader import read_table

        mp = str(root / "metrics" / "cpu")
        committed = {os.path.relpath(f, mp)
                     for f in snapshots.data_files(mp)}
        assert set(read_state(mp)["files"]) == committed
        assert {os.path.relpath(f["path"], mp)
                for f in read_table(mp)["files"]} == committed

    def test_scope_miss_and_bad_tree_dest_are_errors(self, spark, tmp_path):
        root = tmp_path / "data"
        self._write_cpu(spark, root)
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(f"[storage]\nlocal_path = '{root}'\n")
        out = self._run(tmp_path, "-c", str(cfgfile), "--db", "nosuch")
        assert out.returncode == 2
        assert "no measurement matches" in out.stderr
        out = self._run(tmp_path, "-c", str(cfgfile), "--format", "tree")
        assert out.returncode == 2
        assert "needs --dest" in out.stderr

    def test_two_process_export_race_is_safe(self, spark, tmp_path):
        """Two `export --format both` processes racing on the same
        measurement: both must exit 0 (CAS losers reread+retry) and the
        final Delta log and Iceberg metadata must resolve exactly the
        committed set with no tmp residue."""
        import threading

        root = tmp_path / "data"
        self._write_cpu(spark, root)
        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(f"[storage]\nlocal_path = '{root}'\n")
        outs = [None, None]

        def run(i):
            outs[i] = self._run(tmp_path, "-c", str(cfgfile),
                                "--format", "both")

        ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        for out in outs:
            assert out.returncode == 0, out.stdout + out.stderr
        from arc_spark import snapshots
        from tests._delta_reader import read_state
        from tests._iceberg_reader import read_table

        mp = str(root / "metrics" / "cpu")
        committed = {os.path.relpath(f, mp)
                     for f in snapshots.data_files(mp)}
        assert set(read_state(mp)["files"]) == committed
        assert {os.path.relpath(f["path"], mp)
                for f in read_table(mp)["files"]} == committed
        for sub in ("_delta_log", "metadata"):
            assert not [f for f in os.listdir(os.path.join(mp, sub))
                        if ".tmp" in f]


class TestEnumValidation:
    """Enum-valued keys fail at LOAD (check-config catches typos) instead
    of silently selecting a default behavior at runtime — notably
    storage.backend, where a typo used to fall back to LOCAL storage."""

    def _load(self, tmp_path, body):
        from arc_spark.config import load_config

        f = tmp_path / "arc.toml"
        f.write_text(body)
        return load_config(str(f))

    def test_backend_typo_rejected(self, tmp_path):
        with pytest.raises(ValueError, match=r"\[storage\] backend"):
            self._load(tmp_path, "[storage]\nbackend = 'S3'\n")

    def test_export_format_typo_rejected(self, tmp_path):
        with pytest.raises(ValueError, match=r"\[export\] format"):
            self._load(tmp_path, "[export]\nformat = 'icberg'\n")

    def test_wal_sync_typo_rejected(self, tmp_path):
        with pytest.raises(ValueError, match=r"\[ingest\] wal_sync"):
            self._load(tmp_path, "[ingest]\nwal_sync = 'fsycn'\n")

    def test_valid_enums_pass(self, tmp_path):
        cfg = self._load(
            tmp_path,
            "[export]\nformat = 'both'\n[ingest]\nwal_sync = 'batch'\n")
        assert cfg["export"]["format"] == "both"
        assert cfg["ingest"]["wal_sync"] == "batch"

    def test_env_override_also_checked(self, tmp_path, monkeypatch):
        from arc_spark.config import load_config

        monkeypatch.setenv("ARC_EXPORT_FORMAT", "parquetish")
        with pytest.raises(ValueError, match=r"\[export\] format"):
            load_config(None)


class TestScanCacheConfig:
    def test_build_engine_sizes_decoded_file_cache(self, spark, tmp_path):
        """[query] scan_cache_mb / scan_cache_file_kb size the native
        serving decoded-file cache (r9)."""
        from arc_spark.config import build_engine, load_config

        import arc_spark.catalog as cat

        cfgfile = tmp_path / "arc.toml"
        cfgfile.write_text(
            f"[storage]\nlocal_path = '{tmp_path / 'data'}'\n"
            "[server]\nport = 0\n"
            "[query]\nscan_cache_mb = 7\nscan_cache_file_kb = 33\n"
        )
        engine = build_engine(load_config(str(cfgfile), env={}),
                              spark=spark)
        try:
            assert cat._scan_cache.max_bytes == 7 << 20
            assert cat._scan_cache.max_file_bytes == 33 << 10
        finally:
            engine["server"].stop()


def test_every_env_knob_is_documented():
    """Every ``ARC_*`` variable the package reads from ``os.environ`` is
    named in README.md or arc.toml.example (the ``ARC_<SECTION>_<KEY>``
    config overlay is built from DEFAULTS, not read by name)."""
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    read = re.compile(
        r"environ(?:\.get\(|\[|\.setdefault\()\s*[\"'](ARC_[A-Z0-9_]+)[\"']")
    names = {m.group(1) for p in (repo / "arc_spark").rglob("*.py")
             for m in read.finditer(p.read_text())}
    assert "ARC_SPARK_SCAN_CACHE_MB" in names  # the grep sees split calls
    docs = ((repo / "README.md").read_text()
            + (repo / "arc.toml.example").read_text())
    assert sorted(n for n in names if n not in docs) == []
