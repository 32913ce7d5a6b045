"""Day-in-the-life integration: config boot → ingest (WAL) → hard crash
→ restart → WAL replay + snapshot consistency → compaction → retention →
queries correct at every step. Each piece has its own unit suite; this
locks the seams between them (reference: scripts/ smoke flows)."""

from __future__ import annotations

import datetime as dt
import glob

from arc_spark import snapshots
from arc_spark.api import IngestService
from arc_spark.catalog import MeasurementCatalog
from arc_spark.config import build_engine, load_config, shutdown
from arc_spark.sources.msgpack_codec import packb


def _payload(n=200, t0=1_705_300_000_000_000, hosts=4):
    return packb({
        "m": "cpu",
        "columns": {
            "time": [t0 + i * 1_000_000 for i in range(n)],
            "host": [f"h{i % hosts}" for i in range(n)],
            "value": [float(i) for i in range(n)],
        },
        "tags": ["host"],
    })


def test_crash_restart_compact_retain_query(spark, tmp_path):
    root, wal = str(tmp_path / "data"), str(tmp_path / "wal")
    env = {
        "ARC_STORAGE_LOCAL_PATH": root,
        "ARC_INGEST_WAL_PATH": wal,
        "ARC_SERVER_PORT": "0",
        "ARC_INGEST_MAX_BUFFER_AGE_MS": "1000000000",
        "ARC_INGEST_MAX_BUFFER_SIZE": "1000000000",
        "ARC_INGEST_FLUSH_WORKERS": "0",
        "ARC_METRICS_TIMESERIES_ENABLED": "false",
    }

    # ---- epoch 1: serve, ingest, flush some — then CRASH mid-stream ----
    engine = build_engine(load_config(None, env=env), spark=spark)
    svc: IngestService = engine["ingest"]
    assert svc.defer_decode  # the default profile
    svc.write_msgpack("m", _payload(n=300))
    svc.flush()
    # more rows acked (WAL) but never flushed — the crash loses the
    # buffers, not the log. Same hour as the first payload so the replay
    # file lands NEXT TO the flushed one (compaction then has work).
    svc.write_msgpack("m", _payload(n=150, t0=1_705_300_600_000_000))
    # "crash": no drain/close/shutdown — just drop the engine
    engine["server"].stop()

    cat = MeasurementCatalog(spark, root)
    assert cat.table("m", "cpu").count() == 300  # unflushed rows invisible

    # ---- epoch 2: restart from the same config; WAL replays ----
    engine2 = build_engine(load_config(None, env=env), spark=spark)
    svc2: IngestService = engine2["ingest"]
    recovered = svc2.recover("m")
    # replay covers BOTH payloads (the first flush truncated only the
    # segments it covered... or the replay re-lands them and LWW dedup
    # collapses); either way, after recovery all 450 distinct keys exist
    assert recovered >= 150
    cat.invalidate("m", "cpu")
    assert (cat.table("m", "cpu")
            .select("host", "time").distinct().count()) == 450
    # fresh traffic on a LATER day (what retention must keep)
    svc2.write_msgpack("m", _payload(n=200, t0=1_705_600_000_000_000))
    svc2.flush()
    cat.invalidate("m", "cpu")

    # ---- compaction converges the tree; queries stable throughout ----
    from arc_spark.operators.compaction import compact_measurement

    before = cat.table("m", "cpu").select("host", "time").distinct().count()
    results = compact_measurement(spark, root, "m", "cpu", min_files=2,
                                  min_age_seconds=0)
    assert any(not r["skipped"] for r in results)
    assert cat.table("m", "cpu").count() == before  # LWW keeps distinct keys
    # snapshot matches physical state exactly (no orphans after prompt
    # deletion, nothing missing)
    meas = f"{root}/m/cpu"
    committed = set(snapshots.data_files(meas))
    physical = set(glob.glob(f"{meas}/year=*/**/*.parquet", recursive=True))
    assert committed == physical

    # ---- retention drops the old day atomically ----
    from arc_spark.operators.lifecycle import apply_retention

    removed = apply_retention(root, "m", "cpu", retention_days=1,
                              buffer_days=0,
                              now=dt.datetime(2024, 1, 19))
    assert removed
    cat.invalidate("m", "cpu")
    n_after = cat.table("m", "cpu").count()
    assert n_after == 200  # the later day survives, the old day is gone

    # ---- reconciler finds a clean tree ----
    from arc_spark.operators.reconciliation import Reconciler

    out = Reconciler(root, grace_window_s=0).reconcile(dry_run=False)
    assert out["found"].get("orphan_data", 0) == 0
    assert out["found"].get("missing_data", 0) == 0

    shutdown(engine2)
