"""Snapshot-manifest commit layer: atomic data-file visibility
(arc_spark.snapshots; reference internal/iceberg/exporter.go
ReplaceDataFiles + internal/compaction/manifest.go semantics).

The contract under test: readers resolve the COMMITTED file list, so a
crash between "files written" and "commit" can only leave invisible
stray files — never a partial flush, partial compaction, partial delete,
or partial retention a query can see."""

from __future__ import annotations

import datetime as dt
import glob
import importlib
import os
import threading

import pytest
from pyspark.sql import functions as F

from arc_spark import snapshots
from arc_spark.catalog import MeasurementCatalog
from arc_spark.sources.writer import write_measurement, write_measurement_arrow
from arc_spark.storage import backend_for


def _df(spark, n=60, day=15, value0=0, t_off=0):
    return spark.range(n).select(
        F.timestamp_micros(
            F.lit(int(dt.datetime(2024, 1, day).timestamp() * 1_000_000))
            + (F.col("id") % 3) * 3_600_000_000 + F.col("id")
            + F.lit(t_off)
        ).alias("time"),
        (F.col("id") % 3).cast("string").alias("host"),
        (F.col("id") + value0).cast("double").alias("value"),
    )


def _arrow(spark, n=10, hour=0, t0=1_705_300_000_000_000):
    import pyarrow as pa

    return pa.table({
        "time": pa.array([t0 + hour * 3_600_000_000 + i for i in range(n)],
                         pa.timestamp("us")),
        "host": pa.array([f"h{i % 2}" for i in range(n)]),
        "value": pa.array([float(i) for i in range(n)]),
    })


class TestSnapshotPrimitives:
    def test_bootstrap_adopts_live_tree(self, tmp_path):
        root = str(tmp_path)
        os.makedirs(f"{root}/year=2024/month=1/day=1/hour=0")
        open(f"{root}/year=2024/month=1/day=1/hour=0/a.parquet", "w").close()
        # the first read adopts the never-committed tree: one full
        # bootstrap version listing exactly the live glob
        files = snapshots.data_files(root)
        assert files == [f"{root}/year=2024/month=1/day=1/hour=0/a.parquet"]
        assert [v for v, _ in snapshots._versions(backend_for(root), root)] \
            == [1]
        assert "files" in backend_for(root).read_json(
            f"{root}/_arc_snapshots/v{1:012d}.json")
        assert snapshots.commit(root) == 2
        assert snapshots.data_files(root) == files

    def test_add_remove_and_versions(self, tmp_path):
        root = str(tmp_path)
        snapshots.commit(root, add=["p1/a.parquet", "p1/b.parquet"])
        v = snapshots.commit(root, add=["p2/c.parquet"],
                             remove=["p1/a.parquet"])
        assert v == 2
        _, rels = snapshots.current(root)
        assert rels == ["p1/b.parquet", "p2/c.parquet"]

    def test_history_pruned(self, tmp_path, monkeypatch):
        monkeypatch.setattr(snapshots, "PRUNE_MIN_AGE_S", 0.0)
        root = str(tmp_path)
        for i in range(snapshots.KEEP_VERSIONS + 5):
            snapshots.commit(root, add=[f"f{i}.parquet"])
        vers = [v for v, _ in snapshots._versions(backend_for(root), root)]
        assert len(vers) == snapshots.KEEP_VERSIONS
        assert max(vers) == snapshots.KEEP_VERSIONS + 5

    def test_young_versions_never_pruned(self, tmp_path):
        """The prune age floor: a version file younger than
        PRUNE_MIN_AGE_S survives even past KEEP_VERSIONS, so a racing
        committer's just-read current version cannot vanish mid-CAS."""
        root = str(tmp_path)
        for i in range(snapshots.KEEP_VERSIONS + 5):
            snapshots.commit(root, add=[f"f{i}.parquet"])
        vers = [v for v, _ in snapshots._versions(backend_for(root), root)]
        assert len(vers) == snapshots.KEEP_VERSIONS + 5

    def test_staging_and_tmp_dirs_never_adopted(self, tmp_path):
        root = str(tmp_path)
        for rel in ("year=2024/month=1/day=1/hour=0/ok.parquet",
                    "year=2024/month=1/day=1/hour=0.compact-tmp-x/t.parquet",
                    ".lp-staging/x.parquet",
                    "_spark_metadata/y.parquet"):
            p = os.path.join(root, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            open(p, "w").close()
        snapshots.commit(root)
        assert snapshots.data_files(root) == [
            f"{root}/year=2024/month=1/day=1/hour=0/ok.parquet"]

    def test_concurrent_commits_serialize(self, tmp_path):
        root = str(tmp_path)
        errs = []

        def add(i):
            try:
                snapshots.commit(root, add=[f"f{i}.parquet"])
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=add, args=(i,)) for i in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert errs == []
        _, rels = snapshots.current(root)
        assert len(rels) == 16  # no lost update


class TestIncrementalCommits:
    """Delta-log-style commits (r4 verdict item 9): a commit appends only
    its add/remove sets; every FOLD_EVERY-th version folds to a full
    snapshot. Read = newest full + bounded delta chain."""

    def test_delta_then_fold_cycle(self, tmp_path):
        root = str(tmp_path)
        bk = backend_for(root)
        for i in range(snapshots.FOLD_EVERY + 3):
            snapshots.commit(root, add=[f"f{i}.parquet"])
        vers = snapshots._versions(bk, root)
        objs = [bk.read_json(p) for _, p in vers]
        fulls = [o for o in objs if not o.get("delta")]
        deltas = [o for o in objs if o.get("delta")]
        assert fulls and deltas  # both kinds present
        # v1 bootstrap is full; the FOLD_EVERY-th after it folds again
        assert not objs[0].get("delta")
        assert len(fulls) == 2
        # the folded state is complete and correct
        _, rels = snapshots.current(root)
        assert rels == sorted(f"f{i}.parquet"
                              for i in range(snapshots.FOLD_EVERY + 3))

    def test_remove_through_delta_chain(self, tmp_path):
        root = str(tmp_path)
        snapshots.commit(root, add=["a.parquet", "b.parquet"])
        snapshots.commit(root, add=["c.parquet"], remove=["a.parquet"])
        snapshots.commit(root, remove=["b.parquet"])
        _, rels = snapshots.current(root)
        assert rels == ["c.parquet"]

    def test_commit_cost_flat_vs_file_count(self, tmp_path):
        """THE micro-bench: a delta commit's written bytes are O(changes),
        not O(live files) — the r4-noted full-list rewrite is gone."""
        root = str(tmp_path)
        bk = backend_for(root)
        many = [f"p{i // 1000}/f{i}.parquet" for i in range(20_000)]
        snapshots.commit(root, add=many)  # bootstrap: full snapshot
        full_size = bk.size(snapshots._versions(bk, root)[-1][1])
        v = snapshots.commit(root, add=["one_more.parquet"])
        delta_path = snapshots._versions(bk, root)[-1][1]
        obj = bk.read_json(delta_path)
        assert obj["delta"] is True and obj["add"] == ["one_more.parquet"]
        delta_size = bk.size(delta_path)
        assert delta_size < 200  # O(changes) bytes
        assert full_size > 100_000  # vs the O(files) full snapshot
        # and the folded read still carries everything
        _, rels = snapshots.current(root)
        assert len(rels) == 20_001 and v == 2

    def test_malformed_but_parseable_version_falls_back(self, tmp_path):
        """Valid JSON with the wrong shape (hand-edited / foreign writer)
        must take the unreadable-file path — consistent prefix below it —
        not crash the fold with a KeyError."""
        root = str(tmp_path)
        bk = backend_for(root)
        snapshots.commit(root, add=["a.parquet"])   # v1 full
        snapshots.commit(root, add=["b.parquet"])   # v2 delta
        v2 = snapshots._versions(bk, root)[1][1]
        bk.write_bytes(v2, b'{"version": 2, "note": "no files key"}')
        ver, rels = snapshots.current(root)
        assert ver == 1 and rels == ["a.parquet"]
        # commit retries past it via CAS (v3 may or may not collide)
        snapshots.commit(root, add=["c.parquet"])
        _, rels = snapshots.current(root)
        assert "c.parquet" in rels and "a.parquet" in rels

    def test_unreadable_middle_delta_truncates_chain(self, tmp_path):
        """A reader that cannot parse a delta must fall back to the
        consistent prefix BELOW it, never skip-and-continue."""
        root = str(tmp_path)
        bk = backend_for(root)
        snapshots.commit(root, add=["a.parquet"])   # v1 full
        snapshots.commit(root, add=["b.parquet"])   # v2 delta
        snapshots.commit(root, add=["c.parquet"])   # v3 delta
        v2 = snapshots._versions(bk, root)[1][1]
        bk.write_bytes(v2, b"{torn")
        ver, rels = snapshots.current(root)
        assert ver == 1 and rels == ["a.parquet"]  # prefix below the tear


class TestIncrementalModelCheck:
    def test_random_commit_sequences_match_model(self, tmp_path):
        """Randomized differential: any interleaving of add/remove
        commits (delta + fold + prune machinery underneath) must read
        back exactly like a plain Python set."""
        import random

        rng = random.Random(1234)
        for trial in range(5):
            root = str(tmp_path / f"t{trial}")
            os.makedirs(root)
            model: set[str] = set()
            pool = [f"d{trial}/f{i}.parquet" for i in range(40)]
            for step in range(30):
                adds = rng.sample(pool, rng.randint(0, 4))
                # removes drawn from the model (live files) + sometimes a
                # file that was never committed (must be a no-op)
                removes = rng.sample(sorted(model),
                                     min(len(model), rng.randint(0, 2)))
                if rng.random() < 0.2:
                    removes.append("never/was.parquet")
                snapshots.commit(root, add=adds, remove=removes)
                model |= set(adds)
                model -= set(removes)
                if rng.random() < 0.3:
                    got = snapshots.current(root)
                    assert got is not None
                    assert set(got[1]) == model, f"step {step}"
            _, rels = snapshots.current(root)
            assert set(rels) == model

    def test_threaded_random_commits_lose_nothing(self, tmp_path):
        """4 threads × random adds with fold boundaries crossing — the
        union of all adds must survive (no lost update through the
        delta/fold/CAS interplay)."""
        import threading

        root = str(tmp_path)
        errs = []

        def worker(k):
            try:
                for i in range(25):
                    snapshots.commit(root, add=[f"w{k}/f{i}.parquet"])
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=worker, args=(k,)) for k in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert errs == []
        _, rels = snapshots.current(root)
        assert set(rels) == {f"w{k}/f{i}.parquet"
                             for k in range(4) for i in range(25)}


class TestMultiProcessCommit:
    """The A24 collapse's correctness precondition (r4 verdict item 1):
    compaction/retention as a SEPARATE process must not race `serve`'s
    commits into lost updates. commit() publishes vN+1 with a
    fail-if-exists CAS (hard-link EEXIST) and losers reread + retry."""

    def test_two_processes_committing_lose_nothing(self, tmp_path):
        import subprocess
        import sys
        import textwrap
        import time as _time

        root = str(tmp_path / "meas")
        os.makedirs(root)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        n = 30
        ready = str(tmp_path / "ready")
        script = textwrap.dedent(f"""
            import os, sys, time
            sys.path.insert(0, {repo!r})
            from arc_spark import snapshots
            open({ready!r}, "w").close()
            for i in range({n}):
                snapshots.commit({root!r}, add=[f"sub/b{{i}}.parquet"])
        """)
        proc = subprocess.Popen([sys.executable, "-c", script])
        try:
            deadline = _time.time() + 60
            while not os.path.exists(ready):
                assert _time.time() < deadline, "subprocess never started"
                assert proc.poll() is None, "subprocess died early"
                _time.sleep(0.01)
            for i in range(n):
                snapshots.commit(root, add=[f"main/a{i}.parquet"])
            assert proc.wait(timeout=120) == 0
        finally:
            if proc.poll() is None:
                proc.kill()
        _, rels = snapshots.current(root)
        got = set(rels)
        assert {f"main/a{i}.parquet" for i in range(n)} <= got
        assert {f"sub/b{i}.parquet" for i in range(n)} <= got

    def test_cas_loser_retries_and_merges(self, tmp_path, monkeypatch):
        """Deterministic interleaving: another 'process' steals vN+1
        between our read and our publish — the commit must retry and the
        final snapshot must contain BOTH sides' files."""
        root = str(tmp_path)
        bk = backend_for(root)
        snapshots.commit(root, add=["base.parquet"])
        real_excl = type(bk).move_file_excl
        stolen = {"done": False}

        def stealing_excl(self, src, dst):
            if not stolen["done"]:
                stolen["done"] = True
                # an out-of-process committer wins vN+1 first
                d = snapshots._snap_dir(bk, root)
                bk.write_json(bk.join(d, ".steal.tmp"), {
                    "version": 2, "files": ["base.parquet",
                                            "other/x.parquet"]})
                real_excl(self, bk.join(d, ".steal.tmp"),
                          bk.join(d, "v000000000002.json"))
            return real_excl(self, src, dst)

        monkeypatch.setattr(type(bk), "move_file_excl", stealing_excl)
        v = snapshots.commit(root, add=["mine/y.parquet"])
        assert v == 3  # retried past the stolen version
        _, rels = snapshots.current(root)
        assert set(rels) == {"base.parquet", "other/x.parquet",
                             "mine/y.parquet"}

    def test_contention_exhaustion_raises(self, tmp_path, monkeypatch):
        root = str(tmp_path)
        bk = backend_for(root)
        snapshots.commit(root, add=["a.parquet"])
        monkeypatch.setattr(type(bk), "move_file_excl",
                            lambda self, s, d: (bk.remove_file(s), False)[1])
        with pytest.raises(snapshots.CommitContention):
            snapshots.commit(root, add=["b.parquet"], max_retries=3)


class TestCrashInjection:
    """Kill between 'data files written' and 'commit': readers never see
    the partial state (VERDICT r3 item 1's done-criterion)."""

    def test_uncommitted_flush_is_invisible(self, spark, tmp_path):
        root = str(tmp_path)
        write_measurement(_df(spark), root, "m", "cpu", tag_columns=["host"])
        cat = MeasurementCatalog(spark, root)
        assert cat.table("m", "cpu").count() == 60
        # a crashed flush: files land, commit never runs
        write_measurement_arrow(_arrow(spark, n=25), root, "m", "cpu",
                                tag_columns=["host"], manifest=False)
        assert cat.table("m", "cpu").count() == 60  # invisible
        # the same write, committed, becomes visible atomically
        write_measurement_arrow(_arrow(spark, n=25, hour=1), root, "m", "cpu",
                                tag_columns=["host"])
        assert cat.table("m", "cpu").count() == 85

    def test_ingest_flush_crash_then_retry_no_duplicates(self, spark, tmp_path,
                                                         monkeypatch):
        """Crash INSIDE the flush commit: rows were acked (WAL), chunk
        files were written, the commit raised. The snapshot still shows
        the old state; the retry re-writes and commits — the crashed
        chunk files stay invisible forever (no duplicate rows), exactly
        the atomicity the glob world could not give."""
        from arc_spark.api import IngestService
        from arc_spark.sources.msgpack_codec import packb

        root = str(tmp_path / "data")
        svc = IngestService(spark, root, wal_dir=str(tmp_path / "wal"),
                            max_buffer_rows=10**9, max_buffer_age_s=10**9)
        payload = packb({
            "m": "cpu",
            "columns": {
                "time": [1_705_300_000_000_000 + i for i in range(500)],
                "host": [f"h{i % 3}" for i in range(500)],
                "v": [float(i) for i in range(500)],
            },
            "tags": ["host"],
        })
        svc.write_msgpack("m", payload)
        svc.flush()
        cat = MeasurementCatalog(spark, root)
        assert cat.table("m", "cpu").count() == 500

        svc.write_msgpack("m", payload)  # LWW-duplicate rows, new batch
        real_commit = snapshots.commit
        calls = {"n": 0}

        def boom(*a, **k):
            calls["n"] += 1
            raise OSError("simulated crash during commit")

        monkeypatch.setattr(snapshots, "commit", boom)
        with pytest.raises(OSError):
            svc.flush()
        monkeypatch.setattr(snapshots, "commit", real_commit)
        assert calls["n"] == 1
        # reader still sees EXACTLY the old state
        assert cat.table("m", "cpu").count() == 500
        # retry: buffers were restored; now it lands atomically
        svc.flush()
        assert cat.table("m", "cpu").count() == 1000
        # the crashed chunk's files exist on disk but are orphans
        all_files = glob.glob(f"{root}/m/cpu/year=*/**/*.parquet",
                              recursive=True)
        committed = set(snapshots.data_files(f"{root}/m/cpu"))
        assert len(all_files) > len(committed)

    def test_compaction_crash_before_commit_rolls_back(self, spark, tmp_path,
                                                       monkeypatch):
        from arc_spark.operators.compaction import (
            compact_partition_dir,
            recover_incomplete,
        )

        root = str(tmp_path)
        for i in range(3):
            write_measurement(_df(spark, n=20, value0=i * 100), root, "m",
                              "cpu", tag_columns=["host"])
        meas = f"{root}/m/cpu"
        cat = MeasurementCatalog(spark, root)
        before = sorted(r["value"] for r in cat.table("m", "cpu").collect())
        hour_dir = glob.glob(f"{meas}/year=*/month=*/day=*/hour=*")[0]

        def boom(*a, **k):
            raise OSError("crash before snapshot commit")

        monkeypatch.setattr(snapshots, "commit", boom)
        with pytest.raises(OSError):
            compact_partition_dir(spark, root, "m", "cpu", hour_dir)
        monkeypatch.undo()
        # reader state unchanged (outputs were never committed)
        assert sorted(r["value"]
                      for r in cat.table("m", "cpu").collect()) == before
        # recovery rolls BACK: outputs deleted, inputs intact
        recover_incomplete(meas)
        assert glob.glob(f"{meas}/**/*compact*", recursive=True) == []
        assert sorted(r["value"]
                      for r in cat.table("m", "cpu").collect()) == before

    def test_compaction_crash_after_commit_rolls_forward(self, spark, tmp_path,
                                                         monkeypatch):
        from arc_spark.operators import compaction
        from arc_spark.operators.compaction import (
            compact_partition_dir,
            recover_incomplete,
        )
        from arc_spark.storage import StorageBackend

        root = str(tmp_path)
        for i in range(3):
            # disjoint (host, time) keys: dedup keeps every row, so row
            # count is invariant across the swap
            write_measurement(_df(spark, n=20, value0=i * 100, t_off=i * 7),
                              root, "m", "cpu", tag_columns=["host"])
        meas = f"{root}/m/cpu"
        cat = MeasurementCatalog(spark, root)
        before = cat.table("m", "cpu").count()
        hour_dir = glob.glob(f"{meas}/year=*/month=*/day=*/hour=*")[0]

        # crash DURING input removal (after the snapshot commit)
        real_remove = StorageBackend.remove_file

        def boom(self, path):
            if path.endswith(".parquet") and "_compacted_" not in path:
                raise OSError("crash mid input removal")
            return real_remove(self, path)

        monkeypatch.setattr(StorageBackend, "remove_file", boom)
        with pytest.raises(OSError):
            compact_partition_dir(spark, root, "m", "cpu", hour_dir)
        monkeypatch.undo()
        # the commit happened: readers already see the compacted state
        assert cat.table("m", "cpu").count() == before
        committed_here = [f for f in snapshots.data_files(meas)
                          if f.startswith(hour_dir)]
        assert len(committed_here) == 1
        # recovery rolls FORWARD: surviving inputs removed, data intact
        recover_incomplete(meas)
        assert glob.glob(f"{meas}/**/*compact-manifest*", recursive=True) == []
        leftovers = [f for f in glob.glob(f"{hour_dir}/*.parquet")
                     if "_compacted_" not in f]
        assert leftovers == []
        assert cat.table("m", "cpu").count() == before

    def test_delete_where_crash_before_commit_keeps_rows(self, spark, tmp_path,
                                                         monkeypatch):
        from arc_spark.operators.lifecycle import delete_where

        root = str(tmp_path)
        write_measurement(_df(spark), root, "m", "cpu", tag_columns=["host"])
        cat = MeasurementCatalog(spark, root)
        assert cat.table("m", "cpu").count() == 60

        def boom(*a, **k):
            raise OSError("crash before delete commit")

        monkeypatch.setattr(snapshots, "commit", boom)
        with pytest.raises(OSError):
            delete_where(spark, root, "m", "cpu", "value < 30")
        monkeypatch.undo()
        # nothing deleted from the visible state; rewrites are orphans
        assert cat.table("m", "cpu").count() == 60
        # and the same delete, retried, applies atomically
        out = delete_where(spark, root, "m", "cpu", "value < 30")
        assert out["deleted_rows"] == 30
        spark.catalog.clearCache()
        assert cat.table("m", "cpu").count() == 30

    def test_retention_commit_precedes_physical_delete(self, spark, tmp_path,
                                                       monkeypatch):
        from arc_spark.operators.lifecycle import apply_retention

        root = str(tmp_path)
        write_measurement(_df(spark, day=1), root, "m", "cpu",
                          tag_columns=["host"])
        write_measurement(_df(spark, day=20), root, "m", "cpu",
                          tag_columns=["host"])
        cat = MeasurementCatalog(spark, root)
        assert cat.table("m", "cpu").count() == 120

        # crash right after the snapshot commit, before physical deletes
        # (retire unlinks each file through remove_file)
        from arc_spark.storage import StorageBackend

        def boom(self, path):
            raise OSError("crash before physical delete")

        monkeypatch.setattr(StorageBackend, "remove_file", boom)
        with pytest.raises(OSError):
            apply_retention(root, "m", "cpu", retention_days=5,
                            buffer_days=0,
                            now=dt.datetime(2024, 1, 21))
        monkeypatch.undo()
        # day=1 is already invisible (commit-first), files still on disk
        assert cat.table("m", "cpu").count() == 60
        day1 = glob.glob(f"{root}/m/cpu/year=2024/month=1/day=1/**/*.parquet",
                         recursive=True)
        assert day1  # orphaned, reconciler's to sweep


class TestOrphanReconciliation:
    def test_orphans_classified_and_swept(self, spark, tmp_path):
        import time as _time

        from arc_spark.operators.reconciliation import Reconciler

        root = str(tmp_path)
        write_measurement(_df(spark), root, "m", "cpu", tag_columns=["host"])
        # crashed flush: uncommitted files
        write_measurement_arrow(_arrow(spark), root, "m", "cpu",
                                tag_columns=["host"], manifest=False)
        rec = Reconciler(root, grace_window_s=3600)
        out = rec.reconcile(dry_run=False)
        assert out["found"]["orphan_data"] >= 1
        assert out["deleted"] == 0  # aged + opt-in required
        # age them out and opt in
        old = _time.time() - 7200
        for kind, paths in out["samples"].items():
            if kind == "orphan_data":
                for p in paths:
                    os.utime(p, (old, old))
        out2 = Reconciler(root, grace_window_s=3600,
                          delete_stray_data=True).reconcile(dry_run=False)
        assert out2["deleted"] >= 1
        cat = MeasurementCatalog(spark, root)
        assert cat.table("m", "cpu").count() == 60

    def test_missing_committed_files_healed(self, spark, tmp_path):
        from arc_spark.operators.reconciliation import Reconciler

        root = str(tmp_path)
        write_measurement(_df(spark, day=1), root, "m", "cpu",
                          tag_columns=["host"])
        write_measurement(_df(spark, day=2), root, "m", "cpu",
                          tag_columns=["host"])
        bk = backend_for(root)
        day1 = [d for d in bk.partition_dirs(
            f"{root}/m/cpu", ["year=", "month=", "day="]) if "day=1" in d
            and "day=2" not in d]
        bk.remove_tree(day1[0])  # out-of-band loss
        cat = MeasurementCatalog(spark, root)
        with pytest.raises(Exception):
            cat.table("m", "cpu").count()  # loss is loud
        out = Reconciler(root).reconcile(dry_run=False)
        assert out["found"]["missing_data"] >= 1
        cat.invalidate("m", "cpu")
        assert cat.table("m", "cpu").count() == 60  # healed: day=2 only


class TestCompactionQueryIsolation:
    def test_queries_stable_during_compaction(self, spark, tmp_path):
        """VERDICT item 10: a query workload running WHILE compaction
        rewrites the same measurement must never see wrong or partial
        results. Each read runs inside snapshots.reading(), so the old
        snapshot's files outlive the swap until every read that may have
        resolved them is done, and every resolve-then-read races safely."""
        from arc_spark.operators.compaction import compact_measurement

        root = str(tmp_path)
        for i in range(8):
            write_measurement(_df(spark, n=30, value0=0), root, "m", "cpu",
                              tag_columns=["host"])
        cat = MeasurementCatalog(spark, root)
        # 8 identical batches, 10 rows per hour dir × 3 hour dirs. The
        # atomic unit is one partition-dir swap (the reference's
        # compaction granularity), so each hour contributes either 80
        # (uncompacted) or 10 (compacted, LWW-deduped) rows — any mix is
        # a consistent state; anything else is a torn read.
        valid = {a + b + c
                 for a in (80, 10) for b in (80, 10) for c in (80, 10)}
        errors: list = []
        stop = threading.Event()

        def reader():
            try:
                while not stop.is_set():
                    with snapshots.reading():
                        n = cat.table("m", "cpu").count()
                    if n not in valid:
                        errors.append(f"torn read: {n}")
                        return
            except Exception as e:
                errors.append(repr(e))

        threads = [threading.Thread(target=reader) for _ in range(3)]
        for t in threads:
            t.start()
        try:
            compact_measurement(spark, root, "m", "cpu", min_files=2,
                                min_age_seconds=0)
        finally:
            stop.set()
            for t in threads:
                t.join()
        assert errors == []
        assert cat.table("m", "cpu").count() == 30
        # every replaced input is gone once the readers finished
        assert len(glob.glob(f"{root}/m/cpu/**/*.parquet",
                             recursive=True)) == 3


class TestTimeTravel:
    def test_files_at_walks_history(self, tmp_path):
        root = str(tmp_path)
        snapshots.commit(root, add=["a.parquet", "b.parquet"])     # v1
        snapshots.commit(root, add=["c.parquet"],
                         remove=["a.parquet"])                      # v2
        snapshots.commit(root, add=["d.parquet"])                   # v3
        at = lambda v: sorted(
            os.path.relpath(f, root) for f in snapshots.files_at(root, v))
        assert at(1) == ["a.parquet", "b.parquet"]
        assert at(2) == ["b.parquet", "c.parquet"]
        assert at(3) == ["b.parquet", "c.parquet", "d.parquet"]
        # current agrees with files_at(latest)
        _, rels = snapshots.current(root)
        assert at(3) == rels
        with pytest.raises(ValueError, match="not available"):
            snapshots.files_at(root, 99)

    def test_files_at_across_fold_boundary(self, tmp_path):
        """Pins BELOW a later full-fold version still resolve (the fold
        rewrites state at its version; earlier pins walk the older
        chain)."""
        root = str(tmp_path)
        for i in range(12):  # every 8th version folds to a full snapshot
            snapshots.commit(root, add=[f"f{i}.parquet"])
        at5 = {os.path.relpath(f, root)
               for f in snapshots.files_at(root, 5)}
        assert at5 == {f"f{i}.parquet" for i in range(5)}
        at12 = {os.path.relpath(f, root)
                for f in snapshots.files_at(root, 12)}
        assert at12 == {f"f{i}.parquet" for i in range(12)}

    def test_table_at_reads_old_version(self, spark, tmp_path):
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.sources.writer import write_measurement_arrow

        root = str(tmp_path / "eng")
        write_measurement_arrow(_arrow(spark, n=10, hour=0), root, "m", "cpu",
                                tag_columns=["host"])
        mp = f"{root}/m/cpu"
        v1, _ = snapshots.current(mp)
        write_measurement_arrow(_arrow(spark, n=7, hour=1), root, "m", "cpu",
                                tag_columns=["host"])
        cat = MeasurementCatalog(spark, root)
        assert cat.table("m", "cpu").count() == 17
        assert cat.table_at("m", "cpu", v1).count() == 10
        # pinned arrow scan agrees
        assert cat.scan_arrow("m", "cpu", snapshot=v1).num_rows == 10
        assert cat.scan_arrow("m", "cpu").num_rows == 17

    def test_time_travel_across_compaction_with_deferred_deletion(
            self, spark, tmp_path):
        """A ``table_at(v_pre)`` read held open across a compaction
        (``snapshots.reading()``) returns the pre-compaction rows: the
        replaced inputs are deleted only when the read is released, and
        then they are gone."""
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.operators.compaction import compact_measurement
        from arc_spark.sources.writer import write_measurement_arrow

        root = str(tmp_path / "eng")
        for k in range(3):
            write_measurement_arrow(_arrow(spark, n=5, hour=0), root, "m", "cpu",
                                    tag_columns=["host"])
        mp = f"{root}/m/cpu"
        v_pre, rels_pre = snapshots.current(mp)
        cat = MeasurementCatalog(spark, root)
        with snapshots.reading():
            pinned = cat.table_at("m", "cpu", v_pre)
            compact_measurement(spark, root, "m", "cpu", min_files=2,
                                min_age_seconds=0)
            assert sorted(
                os.path.relpath(f, mp)
                for f in snapshots.files_at(mp, v_pre)) == rels_pre
            # LWW dedup collapsed replays in the compacted head; the
            # pinned read sees the pre-compaction file set (3 identical
            # writes)
            assert pinned.count() == 15
            assert cat.table("m", "cpu").count() == 5
        # released: v_pre's replaced files are gone, the head still reads
        assert not any(os.path.exists(os.path.join(mp, r)) for r in rels_pre)
        assert cat.table("m", "cpu").count() == 5


    def test_rest_snapshot_param(self, spark, tmp_path):
        """GET /api/v1/query/:m?snapshot=N pins the fast scan; bad
        versions are 400s (never breaker trips); where+snapshot is 400."""
        import json as _json
        import urllib.error
        import urllib.request

        from arc_spark.api import IngestService, QueryService
        from arc_spark.auth import AuthStore
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.server import ArcServer

        root = str(tmp_path / "eng")
        ing = IngestService(spark, root, max_buffer_rows=10**9,
                            max_buffer_age_s=10**9)
        ing.write_line_protocol(
            "metrics", b"cpu,host=a u=1 1700000000000000000\n")
        ing.flush()
        mp = f"{root}/metrics/cpu"
        v1, _ = snapshots.current(mp)
        ing.write_line_protocol(
            "metrics", b"cpu,host=b u=2 1700000060000000000\n")
        ing.flush()
        cat = MeasurementCatalog(spark, root)
        auth = AuthStore(str(tmp_path / "a.db"))
        admin = auth.create_token("admin")
        server = ArcServer(QueryService(spark, cat), ing, auth).start()
        try:
            def _get(path):
                req = urllib.request.Request(
                    f"http://127.0.0.1:{server.port}{path}")
                req.add_header("Authorization", f"Bearer {admin}")
                with urllib.request.urlopen(req, timeout=60) as r:
                    return _json.loads(r.read())

            assert len(_get("/api/v1/query/cpu?db=metrics")["rows"]) == 2
            assert len(_get(f"/api/v1/query/cpu?db=metrics&snapshot={v1}")
                       ["rows"]) == 1
            for bad in (f"/api/v1/query/cpu?db=metrics&snapshot=99",
                        "/api/v1/query/cpu?db=metrics&snapshot=x",
                        f"/api/v1/query/cpu?db=metrics&snapshot={v1}"
                        "&where=u%3E0"):
                try:
                    _get(bad)
                    raise AssertionError(f"{bad} should 400")
                except urllib.error.HTTPError as e:
                    assert e.code == 400, bad
        finally:
            server.stop()

    def test_snapshots_listing_route(self, spark, tmp_path):
        """GET /api/v1/snapshots?db&measurement lists pinnable versions
        (kind, counts, commit time) — the discovery side of ?snapshot=N."""
        import json as _json
        import urllib.request

        from arc_spark.api import IngestService, QueryService
        from arc_spark.auth import AuthStore
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.server import ArcServer

        root = str(tmp_path / "eng")
        ing = IngestService(spark, root, max_buffer_rows=10**9,
                            max_buffer_age_s=10**9)
        for k in range(3):
            ing.write_line_protocol(
                "metrics",
                f"cpu,host=h{k} u={k} 170000000{k}000000000\n".encode())
            ing.flush()
        auth = AuthStore(str(tmp_path / "a.db"))
        admin = auth.create_token("admin")
        server = ArcServer(
            QueryService(spark, MeasurementCatalog(spark, root)),
            ing, auth).start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}/api/v1/snapshots"
                "?db=metrics&measurement=cpu")
            req.add_header("Authorization", f"Bearer {admin}")
            with urllib.request.urlopen(req, timeout=60) as r:
                snaps = _json.loads(r.read())["snapshots"]
            assert len(snaps) == 3
            assert snaps[0]["kind"] == "full"
            assert all(s["kind"] in ("full", "delta") for s in snaps)
            assert [s["version"] for s in snaps] == sorted(
                s["version"] for s in snaps)
        finally:
            server.stop()


_T0 = 1_705_276_800_000_000  # 2024-01-15T00:00Z in µs


def _hand_tree(root: str, hours=(0, 1, 2), n: int = 10) -> str:
    """A never-committed measurement tree, written straight with pyarrow
    (no engine write path, so no ``_arc_snapshots``): ``n`` rows per
    hour file under ``<root>/m/cpu``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.join(root, "m", "cpu")
    for h in hours:
        d = os.path.join(base, "year=2024", "month=1", "day=15", f"hour={h}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({
            "time": pa.array([_T0 + h * 3_600_000_000 + i for i in range(n)],
                             pa.timestamp("us", tz="UTC")),
            "host": pa.array([f"h{i % 2}" for i in range(n)]),
            "value": pa.array([float(h * 100 + i) for i in range(n)]),
        }), os.path.join(d, f"part-{h}.parquet"))
    return base


def _version_files(meas: str) -> list[tuple[int, dict]]:
    bk = backend_for(meas)
    return [(v, bk.read_json(p)) for v, p in snapshots._versions(bk, meas)]


def _reconcile_dry(spark, root):
    from arc_spark.operators.reconciliation import Reconciler

    out = Reconciler(root).reconcile(dry_run=True)
    return {k: out[k] for k in ("found", "samples", "deleted",
                                "recovered_jobs", "skipped_grace", "error")}


def _spoke_files(spark, root):
    from arc_spark.sources.edgesync import (
        HubReceiver,
        MemoryTransport,
        SpokeAgent,
        SyncLedger,
    )

    agent = SpokeAgent(root, SyncLedger(), MemoryTransport(
        HubReceiver(os.path.join(root, "..", "hub"))))
    return agent._committed_files()


def _export_rels(module):
    def read(spark, root):
        mod = importlib.import_module(f"arc_spark.operators.{module}")
        meas = os.path.join(root, "m", "cpu")
        return mod._committed_rels(meas, backend_for(meas))
    return read


def _count_matching(spark, root):
    from arc_spark.operators.lifecycle import count_matching

    return count_matching(spark, os.path.join(root, "m", "cpu"),
                          "value >= 100")


_HOUR_RELS = [f"year=2024/month=1/day=15/hour={h}/part-{h}.parquet"
              for h in range(3)]

# every reader path, with what it must return on the three-hour tree
_READERS = {
    "table": (lambda s, r: MeasurementCatalog(s, r).table("m", "cpu")
              .count(), 30),
    "count_rows": (lambda s, r: MeasurementCatalog(s, r).count_rows(
        "m", "cpu"), 30),
    "column_stats": (lambda s, r: MeasurementCatalog(s, r).column_stats(
        "m", "cpu", "value"), None),  # float stats never answer
    "column_stats_time": (lambda s, r: MeasurementCatalog(s, r).column_stats(
        "m", "cpu", "time")[:2], (
            dt.datetime(2024, 1, 15, tzinfo=dt.timezone.utc),
            dt.datetime(2024, 1, 15, 2, 0, 0, 9, tzinfo=dt.timezone.utc))),
    "scan_arrow": (lambda s, r: MeasurementCatalog(s, r).scan_arrow(
        "m", "cpu").num_rows, 30),
    "count_matching": (_count_matching, 20),
    "delta_export": (_export_rels("export"), _HOUR_RELS),
    "iceberg_export": (_export_rels("iceberg_export"), _HOUR_RELS),
    "spoke_agent": (_spoke_files, [f"m/cpu/{r}" for r in _HOUR_RELS]),
    # the dry-run report a never-committed tree got before adoption
    # existed: the tmp dir and the debris file, nothing else
    "reconciler": (_reconcile_dry, {
        "found": {"job_state": 1, "debris": 1}, "deleted": 0,
        "recovered_jobs": 0, "skipped_grace": 1, "error": None,
        "samples": {
            "job_state": ["<root>/m/cpu/year=2024/month=1/day=15/"
                          "hour=1.compact-tmp-abc"],
            "debris": ["<root>/m/cpu/year=2024/month=1/day=15/"
                       "hour=0/_SUCCESS"]}}),
}


class TestAdoption:
    """Every tree is snapshot-managed: the first touch of a tree that was
    never committed publishes one full bootstrap snapshot of its live
    files, and every reader resolves that snapshot."""

    @pytest.mark.parametrize("reader", sorted(_READERS))
    def test_reader_adopts_hand_built_tree(self, spark, tmp_path, reader):
        root = str(tmp_path / "data")
        meas = _hand_tree(root)
        # debris and a tmp dir: never part of the adopted file list
        open(os.path.join(meas, "year=2024/month=1/day=15/hour=0/_SUCCESS"),
             "w").close()
        tmpd = os.path.join(meas, "year=2024/month=1/day=15/"
                                  "hour=1.compact-tmp-abc")
        os.makedirs(tmpd)
        open(os.path.join(tmpd, "partial.parquet"), "w").close()
        fn, expected = _READERS[reader]
        got = fn(spark, root)
        if reader == "reconciler":
            expected = {**expected, "samples": {
                k: [p.replace("<root>", root) for p in v]
                for k, v in expected["samples"].items()}}
        assert got == expected
        vers = _version_files(meas)
        if reader == "reconciler":
            assert vers == []  # a dry run resolves without adopting
        else:
            assert [v for v, _ in vers] == [1]  # one bootstrap version
            assert vers[0][1]["files"] == _HOUR_RELS  # full = the glob

    def test_hand_edits_invisible_until_invalidate(self, spark, tmp_path):
        root = str(tmp_path)
        meas = _hand_tree(root)
        cat = MeasurementCatalog(spark, root)
        assert cat.count_rows("m", "cpu") == 30  # adopts
        # dropped in by hand after adoption: invisible
        _hand_tree(root, hours=(3,), n=5)
        assert cat.count_rows("m", "cpu") == 30
        assert cat.scan_arrow("m", "cpu").num_rows == 30
        assert cat.table("m", "cpu").count() == 30
        cat.invalidate("m", "cpu")
        assert cat.count_rows("m", "cpu") == 35
        assert cat.scan_arrow("m", "cpu").num_rows == 35
        assert cat.table("m", "cpu").count() == 35
        # deleted by hand: reads fail loudly until invalidate re-adopts
        os.remove(os.path.join(meas, _HOUR_RELS[0]))
        with pytest.raises(Exception):
            cat.scan_arrow("m", "cpu")
        cat.invalidate("m", "cpu")
        assert _HOUR_RELS[0] not in snapshots.current(meas)[1]
        assert cat.count_rows("m", "cpu") == 25
        assert cat.table("m", "cpu").count() == 25
        # nothing changed since: a further invalidate commits nothing
        v = snapshots.latest_version(meas)
        cat.invalidate("m", "cpu")
        assert snapshots.latest_version(meas) == v

    def test_invalidate_leaves_engine_files_uncommitted(
            self, spark, tmp_path, monkeypatch):
        """Re-adoption commits files dropped in by hand, never the
        engine's own uncommitted files: compaction inputs whose retire
        is queued behind a running read, and the output of a compaction
        that crashed between its move and its commit, stay invisible
        through ``invalidate``."""
        from arc_spark.operators.compaction import (
            compact_partition_dir,
            recover_incomplete,
        )

        root = str(tmp_path)
        for i in range(3):
            write_measurement(_df(spark, n=20, value0=i * 100, t_off=i),
                              root, "m", "cpu", tag_columns=["host"])
        meas = f"{root}/m/cpu"
        cat = MeasurementCatalog(spark, root)

        def served():
            return sorted(r["value"]
                          for r in cat.table("m", "cpu").collect())

        before = served()
        assert len(before) == 60
        hours = sorted(glob.glob(f"{meas}/year=*/month=*/day=*/hour=*"))
        with snapshots.reading():
            compact_partition_dir(spark, root, "m", "cpu", hours[0])
            # 3 queued + 1
            assert len(glob.glob(f"{hours[0]}/*.parquet")) == 4
            cat.invalidate("m", "cpu")
            assert served() == before
            assert cat.count_rows("m", "cpu") == 60
        assert len(glob.glob(f"{hours[0]}/*.parquet")) == 1

        def boom(*a, **k):
            raise OSError("crash before snapshot commit")

        monkeypatch.setattr(snapshots, "commit", boom)
        with pytest.raises(OSError):
            compact_partition_dir(spark, root, "m", "cpu", hours[1])
        monkeypatch.undo()
        cat.invalidate("m", "cpu")
        assert served() == before
        recover_incomplete(meas)
        cat.invalidate("m", "cpu")
        assert served() == before
        assert cat.count_rows("m", "cpu") == 60

    def test_second_count_reads_no_footer(self, spark, tmp_path,
                                          monkeypatch):
        from arc_spark.storage import StorageBackend

        root = str(tmp_path)
        _hand_tree(root)
        cat = MeasurementCatalog(spark, root)
        assert cat.count_rows("m", "cpu") == 30
        reads = []
        real_footer = MeasurementCatalog._footer
        real_md = StorageBackend.parquet_metadata
        monkeypatch.setattr(
            MeasurementCatalog, "_footer",
            lambda self, bk, p: reads.append(p) or real_footer(self, bk, p))
        monkeypatch.setattr(
            StorageBackend, "parquet_metadata",
            lambda self, p: reads.append(p) or real_md(self, p))
        assert cat.count_rows("m", "cpu") == 30
        assert reads == []  # served from the per-state count cache

    def test_daily_crash_after_move_into_fresh_tree(self, spark, tmp_path,
                                                    monkeypatch):
        """Crash after the daily output is moved into a FRESH daily tree,
        before the first commit into it: a catalog read (which adopts any
        tree it touches) and then recovery must serve each of the day's
        rows exactly once, and no snapshot may list a missing file."""
        from arc_spark.operators.compaction import (
            compact_day,
            recover_incomplete,
        )
        from arc_spark.storage import StorageBackend

        root, daily = str(tmp_path / "hot"), str(tmp_path / "daily")
        for h in range(3):
            write_measurement_arrow(_arrow(spark, n=10, hour=h), root, "m",
                                    "cpu", tag_columns=["host"])
        cat = MeasurementCatalog(spark, root, daily_root=daily)
        before = sorted(r["value"] for r in cat.table("m", "cpu").collect())
        assert len(before) == 30
        day_dir = glob.glob(f"{root}/m/cpu/year=*/month=*/day=*")[0]
        real_move = StorageBackend.move_file

        def crash_after_output_move(self, src, dst):
            real_move(self, src, dst)
            if "_daily_" in dst:
                raise OSError("crash after the output move")

        monkeypatch.setattr(StorageBackend, "move_file",
                            crash_after_output_move)
        with pytest.raises(OSError):
            compact_day(spark, root, "m", "cpu", day_dir, daily)
        monkeypatch.undo()
        assert glob.glob(f"{daily}/m/cpu/**/*_daily_*.parquet",
                         recursive=True)  # the output is on disk

        def served():
            return sorted(r["value"]
                          for r in cat.table("m", "cpu").collect())

        assert served() == before  # the read adopts: rows exactly once
        recover_incomplete(f"{daily}/m/cpu")
        assert served() == before
        assert cat.scan_arrow("m", "cpu").num_rows == 30
        for tree in (f"{root}/m/cpu", f"{daily}/m/cpu"):
            for f in snapshots.data_files(tree):
                assert os.path.exists(f), f

    def test_concurrent_first_reads_agree(self, spark, tmp_path):
        root = str(tmp_path)
        meas = _hand_tree(root, hours=range(6))
        cat = MeasurementCatalog(spark, root)
        gate = threading.Barrier(8)
        results, errs = [], []

        def first_read():
            try:
                gate.wait()
                t = cat.scan_arrow("m", "cpu")
                results.append(sorted(t.column("value").to_pylist()))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        import sys

        ts = [threading.Thread(target=first_read) for _ in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)  # interleave the check-then-commit
        try:
            for t in ts:
                t.start()
            for t in ts:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in ts)
        assert errs == []
        assert len(results) == 8
        assert all(r == results[0] for r in results)
        assert len(results[0]) == 60
        assert [v for v, _ in _version_files(meas)] == [1]

    def test_missing_directory_writes_nothing(self, tmp_path):
        meas = str(tmp_path / "nope" / "m" / "cpu")
        assert snapshots.current(meas) == (0, [])
        assert snapshots.data_files(meas) == []
        assert snapshots.latest_version(meas) == 0
        assert not os.path.exists(str(tmp_path / "nope"))
        # an explicit adopt (compaction's fresh daily tree) does commit
        # the empty snapshot, whatever the backend's directory semantics
        assert snapshots.adopt(meas) == 1
        assert snapshots.current(meas) == (1, [])


def test_no_tree_kind_checks_outside_snapshots():
    """Whether a tree has been committed yet is snapshots.py's concern
    alone: no other module asks, and only the Spark writer's before/after
    diff (Spark does not report the files it wrote) globs a tree."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "arc_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "snapshots.py":
            continue
        src = path.read_text()
        for word in ("is_managed", "unmanaged"):
            if re.search(word, src, re.IGNORECASE):
                offenders.append(f"{rel}: {word}")
        globs = src.count("live_glob(")
        if globs and not (rel == "sources/writer.py" and globs == 2):
            offenders.append(f"{rel}: live_glob x{globs}")
    assert offenders == []


def _calls_by_function(src: str):
    """(innermost enclosing function name, ast.Call) for every call."""
    import ast

    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                out.append((fn, child))
            visit(child, fn)

    visit(ast.parse(src), "<module>")
    return out


# direct single-file deletes in arc_spark/operators/ — none of them takes
# a committed data file: (module, function, argument) → what it deletes
_DIRECT_DELETES = {
    ("compaction.py", "_compact_file_batch", "job_manifest"): "job manifest",
    ("compaction.py", "compact_day", "job_manifest"): "job manifest",
    ("compaction.py", "recover_incomplete", "f"):
        "roll-back of never-committed outputs",
    ("compaction.py", "recover_incomplete", "m"): "job manifest",
    ("export.py", "_write_commit", "tmp"): "export log tmp file",
    ("export.py", "_write_checkpoint", "tmp"): "export checkpoint tmp file",
    ("export.py", "export_tree", "dbk.join(dest, rel)"):
        "export copy outside the engine's trees",
    ("iceberg_export.py", "_export_iceberg_attempt", "tmp"):
        "metadata tmp file",
    ("iceberg_export.py", "_export_iceberg_attempt", "manifest_path"):
        "losing exporter's manifest",
    ("iceberg_export.py", "_export_iceberg_attempt", "mlist_path"):
        "losing exporter's manifest list",
    ("iceberg_export.py", "_sweep_orphan_avros", "f"): "orphan metadata",
    ("iceberg_export.py", "_expire_cleanup",
     "bk.join(md_dir, f'{commit_uuid}-m0.avro')"): "expired metadata",
    ("iceberg_export.py", "_expire_cleanup", "bk.join(md_dir, base)"):
        "expired metadata",
    ("iceberg_export.py", "_expire_cleanup", "f"): "expired metadata",
    ("reconciliation.py", "_delete", "path"): "the reconciler",
}


def test_one_delete_site_for_committed_data():
    """Committed data files are deleted in one place: snapshots.retire
    (through its ``_unlink``) is the only caller of
    ``StorageBackend.remove_data_files``, every other single-file delete
    in arc_spark/operators/ is a named non-data exception, and the
    removed ``defer_input_deletion`` knob is gone from the code and the
    docs."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    pkg = repo / "arc_spark"
    callers, direct = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for fn, call in _calls_by_function(path.read_text()):
            name = getattr(call.func, "attr", None)
            if name == "remove_data_files":
                callers.append(f"{rel}:{fn}")
            elif name in ("remove_file", "remove_file_if_exists") and \
                    rel.startswith("operators/"):
                direct.add((rel[len("operators/"):], fn,
                            ast.unparse(call.args[0])))
    assert callers == ["snapshots.py:_unlink"]
    assert direct == set(_DIRECT_DELETES)
    knob = "defer_input_" + "deletion"
    for path in [*pkg.rglob("*.py"), repo / "arc.toml.example",
                 repo / "README.md"]:
        assert knob not in path.read_text(), path
