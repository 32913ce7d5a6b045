"""Compaction, dedup, retention, predicate-delete tests over the hive layout
(reference semantics: dedup.go last-writer-wins, retention.go prefix deletes,
delete.go rewrite-with-negated-predicate)."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from arc_spark.operators.compaction import (
    compact_measurement,
    compaction_candidates,
    heal_time_column,
    recover_incomplete,
)
from arc_spark.operators.lifecycle import apply_retention, delete_where
from arc_spark.sources.ingest import columnar_to_dataframe, rows_to_columnar
from arc_spark.sources.writer import write_measurement


def _write_batches(spark, root, n_batches=12, with_dups=True):
    """n_batches small files into one hour partition, with duplicate
    (host, time) rows across batches (last writer wins)."""
    base = dt.datetime(2024, 3, 1, 10, 0)
    for i in range(n_batches):
        rows = [
            {"m": "cpu", "t": int((base + dt.timedelta(seconds=i)).timestamp() * 1e6),
             "tags": {"host": "h1"}, "fields": {"value": float(i)}},
        ]
        if with_dups:
            # same (host, time) in every batch — compaction must keep ONE
            rows.append({"m": "cpu", "t": int(base.timestamp() * 1e6),
                         "tags": {"host": "dup"}, "fields": {"value": float(i)}})
        df = columnar_to_dataframe(spark, rows_to_columnar(rows))
        write_measurement(df, root, "metrics", "cpu", tag_columns=["host"])
    return os.path.join(root, "metrics", "cpu")


def test_compaction_merges_and_dedups(spark, tmp_path):
    root = str(tmp_path)
    meas = _write_batches(spark, root, n_batches=12)
    hour_dir = glob.glob(os.path.join(meas, "year=*/month=*/day=*/hour=*"))[0]
    n_before = len(glob.glob(os.path.join(hour_dir, "*.parquet")))
    assert n_before >= 12

    results = compact_measurement(spark, root, "metrics", "cpu", min_files=10,
                                  min_age_seconds=0)
    assert len(results) == 1 and not results[0]["skipped"]
    n_after = len(glob.glob(os.path.join(hour_dir, "*.parquet")))
    assert n_after == 1  # 12+ files → 1 (reference: 43 → 1)

    back = spark.read.parquet(meas)
    dups = back.filter(F.col("host") == "dup").collect()
    assert len(dups) == 1  # last-writer-wins on (host, time)
    assert back.filter(F.col("host") == "h1").count() == 12  # distinct times kept


def test_compaction_age_and_minfiles_policy(spark, tmp_path):
    root = str(tmp_path)
    meas = _write_batches(spark, root, n_batches=5, with_dups=False)
    # below min_files → no candidates
    assert compaction_candidates(meas, min_files=10, min_age_seconds=0) == []
    # fresh files, age gate → no candidates
    assert compaction_candidates(meas, min_files=3, min_age_seconds=3600) == []
    assert len(compaction_candidates(meas, min_files=3, min_age_seconds=0)) == 1


def test_crash_recovery_sweeps_tmp_state(spark, tmp_path):
    root = str(tmp_path)
    meas = _write_batches(spark, root, n_batches=3, with_dups=False)
    hour_dir = glob.glob(os.path.join(meas, "year=*/month=*/day=*/hour=*"))[0]
    # simulate a crash: stale tmp dir + manifest
    tmp = hour_dir + ".compact-tmp-deadbeef"
    os.makedirs(tmp)
    with open(hour_dir + ".compact-manifest.json", "w") as f:
        f.write('{"inputs": [], "tmp_dir": "%s", "partition": "%s"}' % (tmp, hour_dir))
    n = recover_incomplete(meas)
    assert n >= 1
    assert not os.path.exists(tmp)
    assert spark.read.parquet(meas).count() == 3  # data intact


def test_heal_time_column_string_and_epoch(spark):
    df = spark.createDataFrame(
        [("2024-03-01 10:00:00",), ("1709287200000000",), ("1709287200",)],
        "time string",
    )
    healed = heal_time_column(df).collect()
    assert healed[0]["time"] == dt.datetime(2024, 3, 1, 10, 0)
    assert healed[1]["time"] == dt.datetime(2024, 3, 1, 10, 0)
    assert healed[2]["time"] == dt.datetime(2024, 3, 1, 10, 0)


def test_retention_prefix_delete(spark, tmp_path):
    root = str(tmp_path)
    rows = []
    for day in (1, 5, 20):
        rows.append({"m": "cpu", "t": int(dt.datetime(2024, 3, day).timestamp() * 1e6),
                     "tags": {"host": "a"}, "fields": {"value": 1.0}})
    df = columnar_to_dataframe(spark, rows_to_columnar(rows))
    write_measurement(df, root, "metrics", "cpu", tag_columns=["host"])
    # cutoff = Mar 21 − (10+1) days = Mar 10 → day 1 and day 5 drop, day 20 stays
    removed = apply_retention(root, "metrics", "cpu", retention_days=10,
                              buffer_days=1,
                              now=dt.datetime(2024, 3, 21))
    assert len(removed) == 2
    assert any("day=1" in r for r in removed) and any("day=5" in r for r in removed)
    left = spark.read.parquet(os.path.join(root, "metrics", "cpu"))
    assert sorted(r["day"] for r in left.select("day").collect()) == [20]


def test_delete_where_rewrites_only_affected_files(spark, tmp_path):
    root = str(tmp_path)
    rows = [
        {"m": "ev", "t": int(dt.datetime(2024, 3, 1, h).timestamp() * 1e6),
         "tags": {"user": u}, "fields": {"v": 1.0}}
        for h, u in [(1, "alice"), (1, "bob"), (2, "bob"), (3, "carol")]
    ]
    df = columnar_to_dataframe(spark, rows_to_columnar(rows))
    write_measurement(df, root, "app", "ev", tag_columns=["user"])
    meas = os.path.join(root, "app", "ev")

    dry = delete_where(spark, root, "app", "ev", "user = 'bob'", dry_run=True)
    assert dry["deleted_rows"] == 2
    assert spark.read.parquet(meas).count() == 4  # dry run: untouched

    res = delete_where(spark, root, "app", "ev", "user = 'bob'")
    assert res["deleted_rows"] == 2
    back = spark.read.parquet(meas)
    assert back.count() == 2
    assert back.filter("user = 'bob'").count() == 0


class TestPublishCrashRecovery:
    """Regression (ADVICE medium): a crash between publishing the compacted
    file and removing inputs left BOTH copies with no way to roll back.
    The scaffold is the state a crashed ``_compact_file_batch`` leaves: the
    tree adopted before the job manifest, the manifest recording the swap
    commit, the output moved in."""

    def _scaffold(self, tmp_path):
        from arc_spark import snapshots

        meas = tmp_path / "metrics" / "cpu"
        part = meas / "year=2024" / "month=03" / "day=01" / "hour=10"
        part.mkdir(parents=True)
        i1, i2 = part / "a.parquet", part / "b.parquet"
        i1.write_bytes(b"input-a")
        i2.write_bytes(b"input-b")
        snapshots.current(str(meas))  # compaction adopts before the manifest
        pub = part / "cpu_compacted_1_0.parquet"
        manifest = part.parent / (part.name + ".compact-manifest.json")
        import json as _json
        manifest.write_text(_json.dumps({
            "inputs": [str(i1), str(i2)],
            "tmp_dir": str(part) + ".compact-tmp-dead",
            "partition": str(part),
            "published": [str(pub)],
            "commits": [{"tree": str(meas), "add": [str(pub)],
                         "remove": [str(i1), str(i2)]}],
        }))
        pub.write_bytes(b"compacted")
        return part, i1, i2, pub

    def test_rolls_back_when_inputs_survive(self, tmp_path):
        # crash after the output move but before the swap commit
        part, i1, i2, pub = self._scaffold(tmp_path)
        meas = str(tmp_path / "metrics" / "cpu")
        assert recover_incomplete(meas) >= 1
        assert i1.exists() and i2.exists()        # pre-compaction view intact
        assert not pub.exists()                   # duplicate copy removed

    def test_rolls_forward_when_input_removal_started(self, tmp_path):
        # crash mid input-removal: the swap was committed before it began
        from arc_spark import snapshots

        part, i1, i2, pub = self._scaffold(tmp_path)
        meas = str(tmp_path / "metrics" / "cpu")
        snapshots.commit(meas, add=[str(pub)], remove=[str(i1), str(i2)])
        i1.unlink()
        assert recover_incomplete(meas) >= 1
        assert pub.exists()                       # published output kept
        assert not i2.exists()                    # swap completed
        assert snapshots.data_files(meas) == [str(pub)]


class TestDailyTier:
    """Daily compaction (reference daily.go:14-52): a ≥24h-old day holding
    ≥12 hourly files merges into ONE day-level file in the daily-tier root
    (year=/month=/day= layout, hour as an in-file column)."""

    def _write_day_of_hours(self, spark, root, day=dt.datetime(2024, 3, 1)):
        for h in range(12):
            rows = [
                {"m": "cpu",
                 "t": int((day + dt.timedelta(hours=h, minutes=i)).timestamp() * 1e6),
                 "tags": {"host": f"h{i}"}, "fields": {"value": float(h * 10 + i)}}
                for i in range(3)
            ]
            df = columnar_to_dataframe(spark, rows_to_columnar(rows))
            write_measurement(df, root, "metrics", "cpu", tag_columns=["host"])
        return os.path.join(root, "metrics", "cpu")

    def test_day_merges_into_daily_tier(self, spark, tmp_path):
        import time as _time

        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.operators.compaction import compact_measurement_daily

        root, daily = str(tmp_path / "hot"), str(tmp_path / "daily")
        meas = self._write_day_of_hours(spark, root)
        n_before = spark.read.parquet(meas).count()
        assert n_before == 36

        results = compact_measurement_daily(
            spark, root, "metrics", "cpu", daily_root=daily,
            min_files=12, min_age_seconds=0, now=_time.time() + 90000,
        )
        assert len(results) == 1 and not results[0]["skipped"]
        # one file for the whole day, in the day-partitioned tier
        day_files = glob.glob(os.path.join(
            daily, "metrics", "cpu", "year=2024", "month=3", "day=1", "*.parquet"))
        assert len(day_files) == 1
        # hot day dir is gone
        assert not os.path.exists(os.path.join(
            root, "metrics", "cpu", "year=2024", "month=3", "day=1"))

        # catalog unions tiers transparently; hour survives as a column
        cat = MeasurementCatalog(spark, root, daily_root=daily)
        df = cat.table("metrics", "cpu")
        assert df.count() == 36
        hours = {r["hour"] for r in df.select("hour").distinct().collect()}
        assert hours == set(range(12))

    def test_late_commit_during_daily_compaction_survives(
            self, spark, tmp_path, monkeypatch):
        """A flush that commits into the day while the daily job runs:
        the job deletes exactly its inputs, so the late file stays on
        disk and in the hot snapshot, and its row stays readable (a
        whole-day delete used to unlink it while the snapshot still
        listed it)."""
        import time as _time

        import pyarrow as pa

        from arc_spark import snapshots
        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.operators.compaction import compact_measurement_daily
        from arc_spark.sources.writer import write_measurement_arrow

        root, daily = str(tmp_path / "hot"), str(tmp_path / "daily")
        self._write_day_of_hours(spark, root)
        real_commit = snapshots.commit
        late = []

        def commit(meas_path, *a, **k):
            # the daily tree's add commit runs before the hot tree's
            # remove: land the late flush right there
            if not late and meas_path.startswith(daily) and k.get("add"):
                late.append(1)
                write_measurement_arrow(pa.table({
                    "time": pa.array([dt.datetime(2024, 3, 1, 5, 30)],
                                     pa.timestamp("us")),
                    "host": ["late"], "value": [999.0]}),
                    root, "metrics", "cpu", tag_columns=["host"])
            return real_commit(meas_path, *a, **k)

        monkeypatch.setattr(snapshots, "commit", commit)
        results = compact_measurement_daily(
            spark, root, "metrics", "cpu", daily_root=daily,
            min_files=12, min_age_seconds=0, now=_time.time() + 90000,
        )
        monkeypatch.undo()
        assert late and len(results) == 1 and results[0]["inputs"] == 12
        hot_files = snapshots.data_files(os.path.join(root, "metrics", "cpu"))
        assert len(hot_files) == 1 and os.path.exists(hot_files[0])
        df = MeasurementCatalog(spark, root, daily_root=daily).table(
            "metrics", "cpu")
        assert df.count() == 37
        assert df.filter("host = 'late'").count() == 1

    def test_young_or_small_days_not_touched(self, spark, tmp_path):
        import time as _time

        from arc_spark.operators.compaction import daily_candidates

        root = str(tmp_path / "hot")
        meas = self._write_day_of_hours(spark, root)
        # too young
        assert daily_candidates(meas, min_files=12,
                                min_age_seconds=86400, now=_time.time()) == []
        # too few files
        assert daily_candidates(meas, min_files=50,
                                min_age_seconds=0, now=_time.time() + 90000) == []

    def test_sql_pruning_covers_daily_tier(self, spark, tmp_path):
        import time as _time

        from arc_spark.catalog import MeasurementCatalog
        from arc_spark.operators.compaction import compact_measurement_daily
        from arc_spark.plans.time_pruning import prune_sql

        root, daily = str(tmp_path / "hot"), str(tmp_path / "daily")
        self._write_day_of_hours(spark, root, day=dt.datetime(2024, 3, 1))
        self._write_day_of_hours(spark, root, day=dt.datetime(2024, 3, 2))
        compact_measurement_daily(spark, root, "metrics", "cpu",
                                  daily_root=daily, min_files=12,
                                  min_age_seconds=0, now=_time.time() + 90000)
        cat = MeasurementCatalog(spark, root, daily_root=daily)
        cat.register("metrics", "cpu", view="cpu_tiers")
        df = prune_sql(
            spark,
            "SELECT count(*) AS n FROM cpu_tiers "
            "WHERE time >= TIMESTAMP '2024-03-02 00:00:00'",
            cat,
        )
        assert df.collect()[0]["n"] == 36


def test_retention_keeps_a_file_a_late_flush_commits(spark, tmp_path,
                                                      monkeypatch):
    """A flush that commits into an expired day while retention runs:
    retention deletes exactly the files it listed, so the late file stays
    on disk and in the snapshot, and its rows stay readable (a whole-day
    delete used to unlink it while the snapshot still listed it)."""
    import pyarrow as pa

    from arc_spark import snapshots
    from arc_spark.catalog import MeasurementCatalog
    from arc_spark.sources.writer import write_measurement_arrow

    def rows(n, v0):
        return pa.table({
            "time": pa.array([dt.datetime(2024, 3, 1, 5, i)
                              for i in range(n)], pa.timestamp("us")),
            "host": ["a"] * n, "value": [v0 + i for i in range(n)]})

    root = str(tmp_path)
    write_measurement_arrow(rows(10, 0.0), root, "metrics", "cpu",
                            tag_columns=["host"])
    real_commit = snapshots.commit
    late = []

    def commit(meas_path, *a, **k):
        # land the late flush right before retention's commit
        if not late and k.get("remove"):
            late.append(1)
            write_measurement_arrow(rows(5, 100.0), root, "metrics", "cpu",
                                    tag_columns=["host"])
        return real_commit(meas_path, *a, **k)

    monkeypatch.setattr(snapshots, "commit", commit)
    removed = apply_retention(root, "metrics", "cpu", retention_days=1,
                              buffer_days=0, now=dt.datetime(2024, 3, 5))
    monkeypatch.undo()
    assert late and len(removed) == 1
    files = snapshots.data_files(os.path.join(root, "metrics", "cpu"))
    assert len(files) == 1 and os.path.exists(files[0])
    df = MeasurementCatalog(spark, root).table("metrics", "cpu")
    assert sorted(r["value"] for r in df.collect()) == \
        [100.0 + i for i in range(5)]


class TestPerFileRetention:
    def test_boundary_day_files_dropped_individually(self, spark, tmp_path):
        """Reference retention.go:791-900: a partly-expired day drops its
        expired files by footer max(time), keeping the rest."""
        root = str(tmp_path)
        day = dt.datetime(2024, 3, 10)
        for h in (0, 6, 12, 18):
            rows = [{"m": "cpu",
                     "t": int((day + dt.timedelta(hours=h)).timestamp() * 1e6),
                     "tags": {"host": "a"}, "fields": {"value": float(h)}}]
            df = columnar_to_dataframe(spark, rows_to_columnar(rows))
            write_measurement(df, root, "metrics", "cpu", tag_columns=["host"])
        meas = os.path.join(root, "metrics", "cpu")

        # cutoff at 10:00 on the day itself: hours 0 and 6 expire, 12/18 stay
        removed = apply_retention(
            root, "metrics", "cpu", retention_days=0, buffer_days=0,
            now=day + dt.timedelta(hours=10),
        )
        files_removed = [r for r in removed if r.endswith(".parquet")]
        assert len(files_removed) == 2
        left = spark.read.parquet(meas)
        assert sorted(r["value"] for r in left.collect()) == [12.0, 18.0]
        # empty hour dirs were cleaned
        assert not glob.glob(os.path.join(meas, "**", "hour=0"), recursive=True)

    def test_per_file_off_keeps_boundary_day(self, spark, tmp_path):
        root = str(tmp_path)
        day = dt.datetime(2024, 3, 10)
        rows = [{"m": "cpu", "t": int(day.timestamp() * 1e6),
                 "tags": {"host": "a"}, "fields": {"value": 1.0}}]
        df = columnar_to_dataframe(spark, rows_to_columnar(rows))
        write_measurement(df, root, "metrics", "cpu", tag_columns=["host"])
        removed = apply_retention(
            root, "metrics", "cpu", retention_days=0, buffer_days=0,
            now=day + dt.timedelta(hours=10), per_file=False,
        )
        assert removed == []


def test_compaction_batched(spark, tmp_path):
    """max_files_per_batch (reference 2026.09.1 tunable): a partition with
    more files than the batch cap compacts as bounded jobs in SUCCESSIVE
    passes until one file remains — no single job touches more than
    `batch` files, but the partition still converges fully."""
    from arc_spark.operators.compaction import compact_partition_dir

    root = str(tmp_path)
    meas = _write_batches(spark, root, n_batches=7, with_dups=False)
    hour_dir = glob.glob(os.path.join(meas, "year=*/month=*/day=*/hour=*"))[0]
    assert len(glob.glob(os.path.join(hour_dir, "*.parquet"))) == 7

    out = compact_partition_dir(spark, root, "metrics", "cpu", hour_dir,
                                max_files_per_batch=3)
    # pass 1: [3, 3, 1] → 2 outputs + 1 carried; pass 2 merges those 3 → 1
    assert out["inputs"] == 7 and out["outputs"] == 1
    assert len(glob.glob(os.path.join(hour_dir, "*.parquet"))) == 1
    back = spark.read.parquet(meas)
    assert back.count() == 7  # every distinct row survived
    # no leftover job state
    assert glob.glob(os.path.join(meas, "**/*compact-manifest*"),
                     recursive=True) == []
    assert glob.glob(os.path.join(meas, "**/*compact-tmp*"),
                     recursive=True) == []


def test_compaction_batch_clamped(spark, tmp_path):
    """A degenerate batch size clamps to 2 rather than crashing (the
    reference validates range [2, 500])."""
    from arc_spark.operators.compaction import compact_partition_dir

    root = str(tmp_path)
    meas = _write_batches(spark, root, n_batches=4, with_dups=False)
    hour_dir = glob.glob(os.path.join(meas, "year=*/month=*/day=*/hour=*"))[0]
    out = compact_partition_dir(spark, root, "metrics", "cpu", hour_dir,
                                max_files_per_batch=0)
    assert out["outputs"] == 1  # pairs of 2, then the pair of outputs
    assert spark.read.parquet(meas).count() == 4


def test_compaction_cross_batch_dedup(spark, tmp_path):
    """Duplicates that land in DIFFERENT batches must still collapse in
    one compaction call (r3 advice: a single batched pass could leave a
    partition below min_files with replay duplicates surviving forever —
    the distributed drain's at-least-once retry safety relies on LWW
    dedup eventually meeting every duplicate pair)."""
    from arc_spark.operators.compaction import compact_partition_dir

    root = str(tmp_path)
    # 7 batches, each carrying the SAME duplicate (host=dup, time=base) row
    meas = _write_batches(spark, root, n_batches=7, with_dups=True)
    hour_dir = glob.glob(os.path.join(meas, "year=*/month=*/day=*/hour=*"))[0]
    out = compact_partition_dir(spark, root, "metrics", "cpu", hour_dir,
                                max_files_per_batch=3)
    assert out["outputs"] == 1
    back = spark.read.parquet(meas)
    # 7 distinct (h1, t_i) rows + exactly ONE surviving dup row
    assert back.count() == 8
    assert back.filter(F.col("host") == "dup").count() == 1
