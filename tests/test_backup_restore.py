"""Backup/restore round trips (reference internal/backup/: CreateBackup,
RestoreBackup, Manifest) — full, scoped, partial-day, and cross-backend."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pyarrow.fs as pafs
import pytest
from pyspark.sql import functions as F

from arc_spark import storage
from arc_spark.catalog import MeasurementCatalog
from arc_spark.operators.backup import (
    create_backup,
    list_backups,
    restore_backup,
    verify_backup,
)
from arc_spark.sources.writer import write_measurement


def _df(spark, n=120, day=15, hours=3):
    return spark.range(n).select(
        F.timestamp_micros(
            F.lit(int(dt.datetime(2024, 1, day).timestamp() * 1_000_000))
            + (F.col("id") % hours) * 3_600_000_000 + F.col("id")
        ).alias("time"),
        (F.col("id") % 3).cast("string").alias("host"),
        F.col("id").cast("double").alias("value"),
    )


@pytest.fixture()
def tree(spark, tmp_path):
    root = str(tmp_path / "live")
    write_measurement(_df(spark, day=15), root, "db0", "cpu", tag_columns=["host"])
    write_measurement(_df(spark, day=16), root, "db0", "cpu", tag_columns=["host"])
    write_measurement(_df(spark, day=15), root, "db0", "mem", tag_columns=["host"])
    write_measurement(_df(spark, day=15), root, "db1", "cpu", tag_columns=["host"])
    return root


class TestBackupRestore:
    def test_full_roundtrip(self, spark, tree, tmp_path):
        bdir = str(tmp_path / "backups")
        man = create_backup(tree, bdir, now_ms=1700000000000)
        assert man["total_files"] > 0
        assert set(man["databases"]) == {"db0", "db1"}
        assert verify_backup(bdir, man["backup_id"])["ok"]
        assert [m["backup_id"] for m in list_backups(bdir)] == [man["backup_id"]]

        # wipe the live tree, restore, query back
        shutil.rmtree(tree)
        res = restore_backup(bdir, man["backup_id"], tree)
        assert res["restored_files"] == man["total_files"]
        cat = MeasurementCatalog(spark, tree)
        assert cat.databases() == ["db0", "db1"]
        assert cat.table("db0", "cpu").count() == 240
        assert cat.table("db0", "mem").count() == 120

    def test_whole_restore_keeps_uncommitted_files_invisible(
            self, spark, tmp_path):
        """A whole-measurement copy carries the backed-up snapshot chain:
        a file the source never committed (a crashed flush) stays
        invisible in the restored tree."""
        import pyarrow as pa

        from arc_spark.sources.writer import write_measurement_arrow

        def batch(n, v0):
            return pa.table({
                "time": pa.array([1_705_300_000_000_000 + v0 + i
                                  for i in range(n)], pa.timestamp("us")),
                "host": pa.array([f"h{i % 2}" for i in range(n)]),
                "value": pa.array([float(v0 + i) for i in range(n)]),
            })

        root = str(tmp_path / "live")
        write_measurement_arrow(batch(10, 0), root, "db0", "cpu",
                                tag_columns=["host"])
        write_measurement_arrow(batch(5, 100), root, "db0", "cpu",
                                tag_columns=["host"], manifest=False)
        src_rows = MeasurementCatalog(spark, root).count_rows("db0", "cpu")
        assert src_rows == 10
        bdir = str(tmp_path / "backups")
        man = create_backup(root, bdir, now_ms=1700000000000)
        dst = str(tmp_path / "restored")
        restore_backup(bdir, man["backup_id"], dst)
        cat = MeasurementCatalog(spark, dst)
        assert cat.count_rows("db0", "cpu") == src_rows
        assert cat.table("db0", "cpu").count() == src_rows

    def test_partial_day_restore(self, spark, tree, tmp_path):
        bdir = str(tmp_path / "backups")
        man = create_backup(tree, bdir, db="db0", measurement="cpu")
        bk = storage.backend_for(tree)
        # lose day=16 only — OUT OF BAND (disk loss, not an engine op)
        day16 = [d for d in bk.partition_dirs(
            bk.join(tree, "db0", "cpu"), ["year=", "month=", "day="])
            if "day=16" in d]
        assert day16
        bk.remove_tree(day16[0])
        cat = MeasurementCatalog(spark, tree)
        # the tree is snapshot-managed: losing committed files out of band
        # is LOUD (the snapshot still lists them), not silently absent —
        # restore (below) or a reconciler repair is the recovery path
        with pytest.raises(Exception):
            cat.table("db0", "cpu").count()

        res = restore_backup(bdir, man["backup_id"], tree,
                             prefix="year=2024/month=1/day=16")
        assert res["restored_files"] > 0
        assert cat.table("db0", "cpu").count() == 240
        # day-15 data files excluded by prefix; only the measurement's
        # _arc_manifest.json (always in scope, already live) was skipped
        # (backup-time snapshot versions are never merged into a live tree)
        assert res["skipped_files"] == 1

    def test_restore_is_idempotent_and_nonclobbering(self, spark, tree, tmp_path):
        bdir = str(tmp_path / "backups")
        man = create_backup(tree, bdir)
        res1 = restore_backup(bdir, man["backup_id"], tree)
        # everything already present → all skipped, nothing restored
        assert res1["restored_files"] == 0
        assert res1["skipped_files"] == man["total_files"]

    def test_scoped_backup(self, tree, tmp_path):
        bdir = str(tmp_path / "backups")
        man = create_backup(tree, bdir, db="db1")
        assert set(man["databases"]) == {"db1"}

    def test_verify_detects_corruption(self, tree, tmp_path):
        bdir = str(tmp_path / "backups")
        man = create_backup(tree, bdir, db="db0", measurement="mem")
        bk = storage.backend_for(bdir)
        victim = bk.find_files(bk.join(bdir, man["backup_id"]),
                               suffix=".parquet")[0]
        bk.write_bytes(victim, b"truncated")
        rep = verify_backup(bdir, man["backup_id"])
        assert not rep["ok"] and rep["size_mismatch"]

    def test_backup_to_mock_object_store(self, spark, tree):
        """Cross-backend: live tree on local disk, backups on an
        object-store root (the reference's S3 backup destination)."""
        sub = tempfile.mkdtemp(prefix="arc-bk-mock-")
        storage.register_scheme("mockbk", storage.StorageBackend(
            pafs.SubTreeFileSystem(sub, pafs.LocalFileSystem()),
            scheme="mockbk", spark_prefix="file:" + sub + "/"))
        try:
            man = create_backup(tree, "mockbk://bucket/backups", db="db0")
            assert verify_backup("mockbk://bucket/backups", man["backup_id"])["ok"]
            shutil.rmtree(tree)
            res = restore_backup("mockbk://bucket/backups", man["backup_id"], tree)
            assert res["restored_files"] == man["total_files"]
            cat = MeasurementCatalog(spark, tree)
            assert cat.table("db0", "cpu").count() == 240
        finally:
            storage.unregister_scheme("mockbk")
            shutil.rmtree(sub, ignore_errors=True)
