"""File-level edge→hub replication (reference internal/edgesync/:
ledger, agent, receiver, reconcile, hub index — the file-unit sync that
replaced the payload spool as the reference's edge architecture)."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from arc_spark import snapshots
from arc_spark.catalog import MeasurementCatalog
from arc_spark.sources.edgesync import (
    HubIndex,
    HubReceiver,
    MemoryTransport,
    ReconcileTooLarge,
    SpokeAgent,
    SyncConflict,
    SyncLedger,
    validate_sync_path,
)
from arc_spark.sources.writer import write_measurement, write_measurement_arrow


def _df(spark, n=60, day=15, t_off=0):
    return spark.range(n).select(
        F.timestamp_micros(
            F.lit(int(dt.datetime(2024, 1, day).timestamp() * 1_000_000))
            + (F.col("id") % 3) * 3_600_000_000 + F.col("id") + F.lit(t_off)
        ).alias("time"),
        (F.col("id") % 3).cast("string").alias("host"),
        F.col("id").cast("double").alias("value"),
    )


def _spoke(spark, tmp_path, n_batches=2):
    root = str(tmp_path / "spoke")
    for i in range(n_batches):
        write_measurement(_df(spark, t_off=i * 7), root, "metrics", "cpu",
                          tag_columns=["host"])
    return root


class TestPathValidation:
    @pytest.mark.parametrize("ok", [
        "db/cpu/year=2024/month=1/day=1/hour=0/a.parquet",
        "db/cpu/a.parquet",
    ])
    def test_valid(self, ok):
        validate_sync_path(ok)

    @pytest.mark.parametrize("bad", [
        "/abs/db/cpu/a.parquet", "db/cpu/../../etc/passwd.parquet",
        ".hidden/cpu/a.parquet", "db/.sync-staging/a.parquet",
        "db/cpu/a.txt", "short.parquet", "db//cpu/a.parquet",
        # in-flight compaction/delete artifacts use a SUFFIX marker, so
        # the dot-prefix rule alone does not catch them (round-4 advice)
        "db/cpu/hour=03.compact-tmp-ab12/a.parquet",
        "db/cpu/x.delete-tmp-99.parquet",
    ])
    def test_invalid(self, bad):
        with pytest.raises(ValueError):
            validate_sync_path(bad)


class TestLedger:
    def test_track_states_and_stats(self, tmp_path):
        led = SyncLedger(str(tmp_path / "l.db"))
        assert led.track("hub", "db/m/a.parquet", "aa", 10)
        assert not led.track("hub", "db/m/a.parquet", "aa", 10)  # idempotent
        led.track("hub", "db/m/b.parquet", "bb", 20)
        assert len(led.pending("hub")) == 2
        led.mark_inflight("hub", "db/m/a.parquet")
        assert len(led.pending("hub")) == 1
        # crash: in-flight goes back to pending
        assert led.recover_inflight() == 1
        assert len(led.pending("hub")) == 2
        led.mark_synced("hub", "db/m/a.parquet")
        st = led.stats("hub")
        assert st["synced"]["files"] == 1 and st["pending"]["files"] == 1

    def test_mark_failed_retries_then_terminal(self, tmp_path):
        led = SyncLedger(str(tmp_path / "l.db"))
        led.track("hub", "db/m/a.parquet", "aa", 10)
        for _ in range(3):
            led.mark_inflight("hub", "db/m/a.parquet")
            led.mark_failed("hub", "db/m/a.parquet", "boom", max_attempts=3)
        st = led.stats("hub")
        assert st.get("failed", {}).get("files") == 1
        assert led.pending("hub") == []


class TestEndToEnd:
    def test_full_sync_and_idempotent_rerun(self, spark, tmp_path):
        spoke_root = _spoke(spark, tmp_path)
        hub_root = str(tmp_path / "hub")
        recv = HubReceiver(hub_root)
        agent = SpokeAgent(spoke_root, SyncLedger(), MemoryTransport(recv),
                           hub_id="hub-1")
        n = agent.discover()
        assert n > 0
        out = agent.run()
        assert out["sent"] == n and out["failed"] == 0
        # hub holds identical bytes, committed into its snapshots
        hub = MeasurementCatalog(spark, hub_root)
        spoke = MeasurementCatalog(spark, spoke_root)
        assert (hub.table("metrics", "cpu").count()
                == spoke.table("metrics", "cpu").count() == 120)
        assert snapshots.data_files(f"{hub_root}/metrics/cpu") is not None
        # re-run: discovery finds nothing new, reconcile says all present
        assert agent.discover() == 0
        out2 = agent.run()
        assert out2["sent"] == 0 and out2["already_present"] == 0

    def test_only_committed_files_replicate(self, spark, tmp_path):
        """A crash-leaked orphan (written, never committed) must not be
        shipped — discovery reads the spoke snapshot, like readers do."""
        import pyarrow as pa

        spoke_root = _spoke(spark, tmp_path, n_batches=1)
        table = pa.table({
            "time": pa.array([1_705_300_000_000_000], pa.timestamp("us")),
            "host": pa.array(["h0"]), "value": pa.array([1.0]),
        })
        write_measurement_arrow(table, spoke_root, "metrics", "cpu",
                                tag_columns=["host"], manifest=False)
        recv = HubReceiver(str(tmp_path / "hub"))
        agent = SpokeAgent(spoke_root, SyncLedger(), MemoryTransport(recv))
        agent.discover()
        agent.run()
        committed = len(snapshots.data_files(f"{spoke_root}/metrics/cpu"))
        assert recv.index.count() == committed  # orphan not shipped

    def test_interrupted_transfer_resumes(self, spark, tmp_path):
        spoke_root = _spoke(spark, tmp_path)
        recv = HubReceiver(str(tmp_path / "hub"))

        class FlakyTransport(MemoryTransport):
            def __init__(self, r):
                super().__init__(r)
                self.calls = 0

            def upload(self, path, sha256, data):
                self.calls += 1
                if self.calls == 1:
                    raise OSError("network blip")
                return super().upload(path, sha256, data)

        tr = FlakyTransport(recv)
        led = SyncLedger(str(tmp_path / "ledger.db"))
        agent = SpokeAgent(spoke_root, led, tr, hub_id="hub-1")
        n = agent.discover()
        # the failure requeues as pending and the SAME run's loop retries
        # it — one run converges despite the blip
        out1 = agent.run()
        assert out1["failed"] == 1 and out1["sent"] == n
        out2 = agent.run()
        assert out2["sent"] == 0 and out2["failed"] == 0
        assert led.stats("hub-1")["synced"]["files"] == n

    def test_conflict_never_overwrites(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"))
        path = "db/cpu/year=2024/month=1/day=1/hour=0/a.parquet"
        data1, data2 = b"PARQUET-ONE", b"PARQUET-TWO"
        recv.receive(path, hashlib.sha256(data1).hexdigest(), data1)
        with pytest.raises(SyncConflict):
            recv.receive(path, hashlib.sha256(data2).hexdigest(), data2)
        # reconcile reports the conflict, not "missing"
        out = recv.reconcile(
            [{"path": path, "sha256": hashlib.sha256(data2).hexdigest()}])
        assert out["conflicts"] == [path] and out["missing"] == []

    def test_concurrent_same_path_receive_is_serialized(self, tmp_path):
        """Two concurrent uploads of the same path with DIFFERENT bytes:
        exactly one promotes; the loser gets SyncConflict (or sees
        already_present for identical bytes) and the file on disk always
        matches the indexed sha (round-4 advice: check-then-act race under
        ThreadingHTTPServer)."""
        import concurrent.futures as cf

        recv = HubReceiver(str(tmp_path / "hub"))
        path = "db/cpu/year=2024/month=1/day=1/hour=0/a.parquet"
        payloads = [b"PARQUET-%d" % i for i in range(8)]

        def send(data):
            try:
                return recv.receive(
                    path, hashlib.sha256(data).hexdigest(), data), data
            except SyncConflict:
                return None, data

        with cf.ThreadPoolExecutor(8) as ex:
            results = list(ex.map(send, payloads))
        winners = [d for r, d in results if r is not None]
        assert len(winners) == 1
        on_disk = (tmp_path / "hub" / path).read_bytes()
        assert on_disk == winners[0]
        indexed = recv.index.lookup([path])[path]
        assert indexed == hashlib.sha256(on_disk).hexdigest()

    def test_unmanaged_glob_skips_compaction_tmp(self, spark, tmp_path):
        """On a snapshot-less tree the discovery fallback must apply the
        same tmp exclusions as committed reads — an in-flight compaction
        output ('hour=X.compact-tmp-<id>/') is never hashed or shipped
        (round-4 advice)."""
        spoke_root = str(tmp_path / "spoke")
        base = tmp_path / "spoke" / "metrics" / "cpu"
        good = base / "year=2024" / "month=1" / "day=1" / "hour=0"
        good.mkdir(parents=True)
        (good / "data.parquet").write_bytes(b"GOOD")
        tmpdir = base / "year=2024" / "month=1" / "day=1" / \
            "hour=0.compact-tmp-abc123"
        tmpdir.mkdir(parents=True)
        (tmpdir / "partial.parquet").write_bytes(b"MID-WRITE")
        assert not (base / snapshots.SNAP_DIR).exists()  # never committed
        agent = SpokeAgent(spoke_root, SyncLedger(),
                           MemoryTransport(HubReceiver(str(tmp_path / "hub"))))
        rels = agent._committed_files()
        assert rels == ["metrics/cpu/year=2024/month=1/day=1/hour=0/"
                        "data.parquet"]
        # discovery adopted the tree: its snapshot excludes the tmp output
        assert snapshots.data_files(str(base)) == [str(good / "data.parquet")]

    def test_digest_mismatch_rejected_nothing_visible(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"))
        path = "db/cpu/year=2024/month=1/day=1/hour=0/a.parquet"
        with pytest.raises(ValueError):
            recv.receive(path, "0" * 64, b"payload")
        assert recv.index.count() == 0
        import glob as _g

        assert _g.glob(str(tmp_path / "hub" / "db" / "**" / "*.parquet"),
                       recursive=True) == []

    def test_reconcile_batch_cap(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"), max_reconcile=5)
        entries = [{"path": f"db/m/f{i}.parquet", "sha256": "a" * 64}
                   for i in range(6)]
        with pytest.raises(ReconcileTooLarge):
            recv.reconcile(entries)
        # the agent pages under the cap instead
        out = recv.reconcile(entries[:5])
        assert len(out["missing"]) == 5

    def test_hub_index_lookup_batching(self, tmp_path):
        idx = HubIndex()
        for i in range(1200):
            idx.record(f"db/m/f{i}.parquet", f"{i:064d}", 1)
        got = idx.lookup([f"db/m/f{i}.parquet" for i in range(1200)])
        assert len(got) == 1200 and got["db/m/f7.parquet"] == f"{7:064d}"


class TestHttpTransport:
    def test_routes_end_to_end(self, spark, tmp_path):
        from arc_spark.api import QueryService
        from arc_spark.server import ArcServer
        from arc_spark.sources.edgesync import HttpTransport

        spoke_root = _spoke(spark, tmp_path, n_batches=1)
        hub_root = str(tmp_path / "hub")
        cat = MeasurementCatalog(spark, hub_root)
        srv = ArcServer(QueryService(spark, cat), port=0)
        srv.edge_receiver = HubReceiver(hub_root)
        srv.start()
        try:
            base = f"http://127.0.0.1:{srv.port}"
            tr = HttpTransport(base, spoke_id="edge-7")
            agent = SpokeAgent(spoke_root, SyncLedger(), tr, hub_id="hub")
            agent.discover()
            out = agent.run()
            assert out["sent"] > 0 and out["failed"] == 0
            # status route reflects the transfer, attributed to the spoke
            with urllib.request.urlopen(base + "/api/v1/edge/status",
                                        timeout=10) as r:
                st = json.load(r)
            assert st["indexed_files"] == out["sent"]
            assert st["spokes"]["edge-7"]["files"] == out["sent"]
            # hub data queryable
            assert cat.table("metrics", "cpu").count() == 60
            # oversized reconcile → 413
            srv.edge_receiver.max_reconcile = 1
            req = urllib.request.Request(
                base + "/api/v1/edge/reconcile",
                data=json.dumps({"entries": [
                    {"path": "db/m/a.parquet", "sha256": "a" * 64},
                    {"path": "db/m/b.parquet", "sha256": "b" * 64},
                ]}).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(req, timeout=10)
            assert e.value.code == 413
        finally:
            srv.stop()


class TestChunkedTransfer:
    """Chunked upload (r4 verdict item 6): files larger than the server's
    single-request cap ship in bounded parts with a rolling sha256;
    mismatch still never promotes; interrupted transfers resume from the
    hub's byte offset."""

    def _payload(self, n=1 << 20):
        import os as _os

        return _os.urandom(n)

    def test_memory_transport_chunked_roundtrip(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"))
        tr = MemoryTransport(recv, spoke_id="s1")
        data = self._payload()
        path = "db/cpu/year=2024/month=1/day=1/hour=0/big.parquet"
        sha = hashlib.sha256(data).hexdigest()

        def open_at(off, chunk=64 << 10):
            for i in range(off, len(data), chunk):
                yield data[i:i + chunk]

        out = tr.upload_stream(path, sha, len(data), open_at)
        assert out["status"] == "received" and out["bytes"] == len(data)
        assert (tmp_path / "hub" / path).read_bytes() == data
        assert recv.index.lookup([path])[path] == sha
        # idempotent: second stream short-circuits to already_present
        assert tr.upload_stream(path, sha, len(data), open_at)[
            "status"] == "already_present"

    def test_rolling_digest_mismatch_never_promotes(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"))
        data = self._payload(256 << 10)
        path = "db/cpu/year=2024/month=1/day=1/hour=0/bad.parquet"
        sha = hashlib.sha256(data).hexdigest()
        st = recv.begin(path, sha, len(data))
        off = 0
        corrupted = data[:100] + b"X" + data[101:]  # one flipped byte
        for i in range(0, len(corrupted), 64 << 10):
            off = recv.append(st["upload_id"], off,
                              corrupted[i:i + (64 << 10)])["offset"]
        with pytest.raises(ValueError, match="sha256 mismatch"):
            recv.finish(st["upload_id"])
        assert recv.index.count() == 0
        assert not (tmp_path / "hub" / path).exists()
        # staged bytes removed too
        staging = tmp_path / "hub" / ".sync-staging"
        assert not staging.exists() or not any(staging.iterdir())

    def test_incomplete_upload_rejected(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"))
        data = self._payload(128 << 10)
        path = "db/cpu/year=2024/month=1/day=1/hour=0/short.parquet"
        st = recv.begin(path, hashlib.sha256(data).hexdigest(), len(data))
        recv.append(st["upload_id"], 0, data[:1000])
        with pytest.raises(ValueError, match="incomplete"):
            recv.finish(st["upload_id"])
        assert recv.index.count() == 0

    def test_resume_from_hub_offset(self, tmp_path):
        """begin() on an in-flight (path, sha) returns the staged offset;
        the spoke continues from there and the rolling digest still
        verifies over the stitched byte stream."""
        recv = HubReceiver(str(tmp_path / "hub"))
        data = self._payload(300 << 10)
        path = "db/cpu/year=2024/month=1/day=1/hour=0/resume.parquet"
        sha = hashlib.sha256(data).hexdigest()
        st1 = recv.begin(path, sha, len(data))
        off = recv.append(st1["upload_id"], 0, data[:100_000])["offset"]
        # connection drops; spoke re-begins
        st2 = recv.begin(path, sha, len(data))
        assert st2["status"] == "resume" \
            and st2["upload_id"] == st1["upload_id"]
        assert st2["offset"] == off == 100_000
        while off < len(data):
            off = recv.append(st2["upload_id"], off,
                              data[off:off + (64 << 10)])["offset"]
        out = recv.finish(st2["upload_id"])
        assert out["status"] == "received"
        assert (tmp_path / "hub" / path).read_bytes() == data

    def test_offset_mismatch_rejected(self, tmp_path):
        recv = HubReceiver(str(tmp_path / "hub"))
        data = self._payload(64 << 10)
        st = recv.begin("db/m/x.parquet", hashlib.sha256(data).hexdigest(),
                        len(data))
        recv.append(st["upload_id"], 0, data[:1000])
        with pytest.raises(ValueError, match="offset mismatch"):
            recv.append(st["upload_id"], 500, data[500:1500])

    def test_http_file_larger_than_request_cap(self, spark, tmp_path):
        """THE e2e acceptance: the server's single-shot route 413s the
        file, and the same file ships through the chunked routes."""
        from arc_spark.api import QueryService
        from arc_spark.server import ArcServer
        from arc_spark.sources.edgesync import HttpTransport

        hub_root = str(tmp_path / "hub")
        cat = MeasurementCatalog(spark, hub_root)
        srv = ArcServer(QueryService(spark, cat), port=0)
        srv.edge_receiver = HubReceiver(hub_root)
        srv.max_upload_bytes = 64 << 10  # tiny cap to force chunking
        srv.start()
        try:
            tr = HttpTransport(f"http://127.0.0.1:{srv.port}",
                               spoke_id="edge-9")
            data = self._payload(512 << 10)  # 8x the cap
            path = "db/cpu/year=2024/month=1/day=1/hour=0/huge.parquet"
            sha = hashlib.sha256(data).hexdigest()
            with pytest.raises(urllib.error.HTTPError) as e:
                tr.upload(path, sha, data)
            assert e.value.code == 413

            def open_at(off, chunk=32 << 10):
                for i in range(off, len(data), chunk):
                    yield data[i:i + chunk]

            out = tr.upload_stream(path, sha, len(data), open_at)
            assert out["status"] == "received" and out["bytes"] == len(data)
            assert (tmp_path / "hub" / path).read_bytes() == data
        finally:
            srv.stop()

    def test_spoke_agent_auto_chunks_large_files(self, tmp_path):
        """run() routes files above chunk_bytes through upload_stream —
        verified by a transport that records which path was taken."""
        spoke_root = str(tmp_path / "spoke")
        small = b"S" * 1000
        big = self._payload(200 << 10)
        for name, payload in (("small.parquet", small),
                              ("big.parquet", big)):
            p = (tmp_path / "spoke" / "db" / "cpu" /
                 "year=2024" / "month=1" / "day=1" / "hour=0" / name)
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(payload)
        recv = HubReceiver(str(tmp_path / "hub"))

        class RecordingTransport(MemoryTransport):
            def __init__(self, r):
                super().__init__(r)
                self.single, self.streamed = [], []

            def upload(self, path, sha256, data):
                self.single.append(path)
                return super().upload(path, sha256, data)

            def upload_stream(self, path, sha256, size, open_at):
                self.streamed.append(path)
                return super().upload_stream(path, sha256, size, open_at)

        tr = RecordingTransport(recv)
        agent = SpokeAgent(spoke_root, SyncLedger(), tr,
                           chunk_bytes=64 << 10)
        agent.discover()
        out = agent.run()
        assert out["sent"] == 2 and out["failed"] == 0
        assert any("big" in p for p in tr.streamed)
        assert any("small" in p for p in tr.single)
        assert (tmp_path / "hub" / "db" / "cpu" / "year=2024" / "month=1" /
                "day=1" / "hour=0" / "big.parquet").read_bytes() == big


class TestConfigWiring:
    def test_hub_and_spoke_from_config(self, spark, tmp_path):
        """Two engines from config alone: a hub serving /api/v1/edge/*
        and a spoke whose scheduler job replicates into it."""
        from arc_spark.config import build_engine, load_config, shutdown

        hub_cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": str(tmp_path / "hub"),
            "ARC_SERVER_PORT": "0",
            "ARC_EDGE_SYNC_HUB_ENABLED": "true",
            "ARC_METRICS_TIMESERIES_ENABLED": "false",
        })
        hub = build_engine(hub_cfg, spark=spark)
        hub["server"].start()
        spoke_root = str(tmp_path / "spoke")
        write_measurement(_df(spark), spoke_root, "metrics", "cpu",
                          tag_columns=["host"])
        spoke_cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": spoke_root,
            "ARC_SERVER_PORT": "0",
            "ARC_EDGE_SYNC_SPOKE_ENABLED": "true",
            "ARC_EDGE_SYNC_SPOKE_HUB_URL":
                f"http://127.0.0.1:{hub['server'].port}",
            "ARC_EDGE_SYNC_SPOKE_LEDGER_DB": str(tmp_path / "ledger.db"),
            "ARC_METRICS_TIMESERIES_ENABLED": "false",
        })
        spoke = build_engine(spoke_cfg, spark=spark)
        try:
            # fire the scheduler job synchronously (TriggerNow semantics)
            jobs = {j["name"]: j for j in spoke["scheduler"].status()}
            assert "edge_sync" in jobs
            out = spoke["scheduler"].trigger_now("edge_sync")
            assert out["sent"] > 0 and out["failed"] == 0
            hub_cat = hub["catalog"]
            assert hub_cat.table("metrics", "cpu").count() == 60
        finally:
            shutdown(spoke)
            shutdown(hub)
