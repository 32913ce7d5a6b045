"""One deletion rule for replaced files (``snapshots.retire``).

A file a commit removed is unlinked before ``retire`` returns when no
read is in flight, and otherwise only once every read that began before
the retire (``snapshots.reading``) has finished. So a query bound before
a compaction, retention pass, predicate delete or tier move still reads
the files it bound, and the files are gone as soon as it is done."""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import os

import pyarrow as pa
import pytest

from arc_spark import snapshots
from arc_spark.api import QueryService
from arc_spark.catalog import MeasurementCatalog
from arc_spark.sources.writer import write_measurement_arrow


def _tree(tmp_path, hours=(0, 0, 1)):
    """A committed tree of tiny files (contents irrelevant), each with a
    Hadoop crc sidecar; returns (tree, files)."""
    tree = str(tmp_path / "db" / "m")
    files = []
    for i, h in enumerate(hours):
        d = os.path.join(tree, "year=2024", "month=1", "day=15", f"hour={h}")
        os.makedirs(d, exist_ok=True)
        f = os.path.join(d, f"f{i}.parquet")
        open(f, "wb").close()
        open(os.path.join(d, f".f{i}.parquet.crc"), "wb").close()
        files.append(f)
    snapshots.commit(tree, add=files)
    return tree, files


def _on_disk(files):
    return [os.path.exists(f) for f in files]


class TestRule:
    def test_no_read_in_flight_unlinks_before_return(self, tmp_path):
        tree, files = _tree(tmp_path)
        snapshots.commit(tree, remove=files)
        snapshots.retire(tree, files)
        assert _on_disk(files) == [False] * 3
        # sidecars and the emptied partition dirs go; the tree and its
        # snapshot history stay
        assert not os.path.exists(os.path.join(tree, "year=2024"))
        assert os.path.isdir(os.path.join(tree, snapshots.SNAP_DIR))

    def test_a_file_left_in_the_partition_keeps_its_dirs(self, tmp_path):
        tree, files = _tree(tmp_path)
        snapshots.commit(tree, remove=files[:1])
        snapshots.retire(tree, files[:1])
        assert _on_disk(files) == [False, True, True]
        assert not os.path.exists(os.path.join(
            os.path.dirname(files[0]), ".f0.parquet.crc"))
        assert snapshots.data_files(tree) == files[1:]

    def test_read_in_flight_defers_until_it_exits(self, tmp_path):
        tree, files = _tree(tmp_path)
        with snapshots.reading():
            snapshots.commit(tree, remove=files)
            snapshots.retire(tree, files)
            assert _on_disk(files) == [True] * 3
        assert _on_disk(files) == [False] * 3

    def test_last_earlier_read_unlinks(self, tmp_path):
        tree, files = _tree(tmp_path)
        with contextlib.ExitStack() as first, \
                contextlib.ExitStack() as second:
            first.enter_context(snapshots.reading())
            second.enter_context(snapshots.reading())
            snapshots.retire(tree, files)
            first.close()
            assert _on_disk(files) == [True] * 3  # second may hold them
            second.close()
            assert _on_disk(files) == [False] * 3

    def test_read_begun_after_the_retire_does_not_hold_it(self, tmp_path):
        tree, files = _tree(tmp_path)
        with contextlib.ExitStack() as earlier, \
                contextlib.ExitStack() as later:
            earlier.enter_context(snapshots.reading())
            snapshots.retire(tree, files)
            later.enter_context(snapshots.reading())
            earlier.close()
            assert _on_disk(files) == [False] * 3
            later.close()

    def test_reconciler_leaves_files_a_read_holds(self, tmp_path):
        """A replaced file queued behind a running read is not an
        orphan, however old: a sweep with no grace window keeps it, and
        the read's exit deletes it."""
        from arc_spark.operators.reconciliation import Reconciler

        tree, files = _tree(tmp_path)
        rec = Reconciler(str(tmp_path), grace_window_s=0,
                         delete_stray_data=True)
        with snapshots.reading():
            snapshots.commit(tree, remove=files[:1])
            snapshots.retire(tree, files[:1])
            assert snapshots.held(None, tree) == {
                os.path.relpath(files[0], tree)}
            rec.reconcile(dry_run=False)
            assert _on_disk(files) == [True] * 3
        assert _on_disk(files) == [False, True, True]
        assert snapshots.held(None, tree) == set()


def _hour(spark, n=10, day=15, v0=0.0):
    return pa.table({
        "time": pa.array([dt.datetime(2024, 1, day) + dt.timedelta(
            microseconds=i) for i in range(n)], pa.timestamp("us")),
        "host": pa.array([f"h{i % 2}" for i in range(n)]),
        "value": pa.array([v0 + i for i in range(n)], pa.float64()),
    })


@pytest.fixture()
def replayed(spark, tmp_path):
    """Three replays of one hour on 2024-01-15 (compaction dedups them
    to one) plus one hour on 2024-01-20: 40 rows in four files."""
    root = str(tmp_path / "hot")
    for _ in range(3):
        write_measurement_arrow(_hour(spark), root, "m", "cpu",
                                tag_columns=["host"])
    write_measurement_arrow(_hour(spark, day=20, v0=100.0), root, "m", "cpu",
                            tag_columns=["host"])
    return root, f"{root}/m/cpu"


def _compact(spark, root, tmp_path):
    from arc_spark.operators.compaction import compact_partition_dir

    hour = glob.glob(f"{root}/m/cpu/year=*/month=*/day=15/hour=*")[0]
    compact_partition_dir(spark, root, "m", "cpu", hour)


def _retention(spark, root, tmp_path):
    from arc_spark.operators.lifecycle import apply_retention

    apply_retention(root, "m", "cpu", retention_days=1, buffer_days=0,
                    now=dt.datetime(2024, 1, 19))


def _delete_where(spark, root, tmp_path):
    from arc_spark.operators.lifecycle import delete_where

    delete_where(spark, root, "m", "cpu", "host = 'h0'")


def _migrate(spark, root, tmp_path):
    from arc_spark.operators.tiering import migrate_to_cold

    migrate_to_cold(root, str(tmp_path / "cold"), "m", "cpu",
                    older_than_days=3, now=dt.datetime(2024, 1, 19))


# writer → the hot tier's rows a fresh query sees afterwards
_WRITERS = {
    "compaction": (_compact, 20),
    "retention": (_retention, 10),
    "delete_where": (_delete_where, 20),
    "migrate_to_cold": (_migrate, 10),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_bound_spark_query_outlives_the_swap(spark, tmp_path, replayed,
                                             writer):
    """Bind a Spark-route query, let a writer commit and retire the files
    it bound, then execute it: it returns the pre-swap rows, the
    replaced files exist until the read exits and are gone after."""
    root, tree = replayed
    run, rows_after = _WRITERS[writer]
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    sql = "SELECT value FROM cpu WHERE value >= 0"
    before = set(snapshots.data_files(tree))
    expected = sorted(r.value for r in svc.plan(sql, "m").collect())
    assert len(expected) == 40
    with snapshots.reading():
        df = svc.plan(sql, "m")
        run(spark, root, tmp_path)
        replaced = before - set(snapshots.data_files(tree))
        assert replaced and all(_on_disk(replaced))
        assert sorted(r.value for r in df.collect()) == expected
    assert not any(_on_disk(replaced))
    assert svc.plan(sql, "m").count() == rows_after


def test_native_scan_outlives_a_compaction_mid_read(spark, tmp_path,
                                                     replayed, monkeypatch):
    """A native ``scan_arrow`` read that resolved its files before a
    compaction committed and retired them still reads all of them."""
    from arc_spark import catalog as C

    root, tree = replayed
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    before = snapshots.data_files(tree)
    real_read = C._read_small_files_cached
    swapped = []

    def swap_then_read(*a, **kw):
        if not swapped:  # between file resolution and the first read
            swapped.append(_compact(spark, root, tmp_path))
        return real_read(*a, **kw)

    monkeypatch.setattr(C, "_read_small_files_cached", swap_then_read)
    rows = svc.query_measurement("m", "cpu", limit=1000)
    assert swapped and len(rows) == 40
    gone = set(before) - set(snapshots.data_files(tree))
    assert len(gone) == 3 and not any(_on_disk(gone))


def test_execute_holds_its_files_from_bind_through_encode(
        spark, tmp_path, replayed, monkeypatch):
    """``QueryService.execute`` on the Spark route: a compaction that
    commits and retires between the bind and the job does not take the
    bound files away before the answer is encoded."""
    root, tree = replayed
    svc = QueryService(spark, MeasurementCatalog(spark, root))
    before = snapshots.data_files(tree)
    real_run = svc.registry.run

    def swap_then_run(df, **kw):
        _compact(spark, root, tmp_path)
        return real_run(df, **kw)

    monkeypatch.setattr(svc.registry, "run", swap_then_run)
    blob = svc.execute("SELECT value FROM cpu WHERE value >= 0", db="m",
                       fmt="arrow")
    assert pa.ipc.open_stream(blob).read_all().num_rows == 40
    gone = set(before) - set(snapshots.data_files(tree))
    assert len(gone) == 3 and not any(_on_disk(gone))
