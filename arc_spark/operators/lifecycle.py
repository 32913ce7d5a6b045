"""Data lifecycle: retention (file/partition TTL) and predicate delete (GDPR).

Reference:
- retention (A27, /root/reference/internal/api/retention.go:407-900): cutoff
  = now − (retention_days + buffer); files whose max(time) < cutoff are
  removed. With hive partitioning whole expired days go by their path —
  no file content ever read.
- predicate delete (A26, /root/reference/internal/api/delete.go:531-870):
  find files containing matches, rewrite each keeping NOT(pred), swap.

All file operations flow through :mod:`arc_spark.storage` backends
(reference internal/storage/backend.go) so retention and delete run
unchanged against an object-store measurement root: listings are prefix
LISTs, footer probes are ranged GETs through ``pyarrow.fs``.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from arc_spark import snapshots
from arc_spark.storage import backend_for


def _partition_day(day_dir: str) -> dt.datetime:
    parts = {}
    for seg in day_dir.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            parts[k] = int(v)
    return dt.datetime(parts["year"], parts["month"], parts["day"])


def _file_max_time(bk, path: str, time_col: str = "time"):
    """max(time) from parquet footer statistics — no data pages read
    (the reference's per-file retention reads footers the same way,
    internal/api/retention.go:791-900). None when stats are absent."""
    try:
        md = bk.parquet_metadata(path)
    except Exception:
        return None
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == time_col:
            idx = i
            break
    if idx is None:
        return None
    mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None  # any stats gap → keep the file (conservative)
        v = st.max
        mx = v if mx is None else max(mx, v)
    if hasattr(mx, "tzinfo") and mx.tzinfo is not None:
        mx = mx.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return mx


def apply_retention(
    root: str,
    db: str,
    measurement: str,
    retention_days: float,
    buffer_days: float = 1.0,
    now: dt.datetime | None = None,
    per_file: bool = True,
) -> list[str]:
    """Drop committed data older than the cutoff. Returns removed paths.

    Two passes, both O(metadata) — the 100 TB path, no data read:
    1. whole day partitions entirely before the cutoff.
    2. (``per_file``) inside the boundary day that straddles the cutoff:
       individual files whose footer max(time) < cutoff are removed
       (reference retention.go:791-900) — without this, a partly-expired
       day retains every file until the whole day ages out.

    ONE snapshot commit, then ``snapshots.retire`` of exactly those
    files: one a late flush commits into an expired day meanwhile stays.
    """
    bk = backend_for(root)
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    cutoff = now - dt.timedelta(days=retention_days + buffer_days)
    removed = []
    doomed: list[str] = []
    meas = bk.join(root, db, measurement)
    committed = set(snapshots.data_files(meas, bk=bk))
    for day_dir in bk.partition_dirs(meas, ["year=", "month=", "day="]):
        day = _partition_day(day_dir)
        # a whole day is droppable only if its last instant is before cutoff
        whole = day + dt.timedelta(days=1) <= cutoff
        if not whole and not (per_file and day <= cutoff):
            continue
        files = [f for f in bk.find_files(day_dir, suffix=".parquet")
                 if f in committed]
        if whole:
            if files:
                doomed.extend(files)
                removed.append(day_dir)
        else:
            # boundary day: per-file footer max(time) check
            for f in files:
                mx = _file_max_time(bk, f)
                if mx is not None and mx < cutoff:
                    doomed.append(f)
                    removed.append(f)
    if doomed:
        snapshots.commit(meas, remove=doomed, bk=bk)
        snapshots.retire(meas, doomed)
    return removed


def _read_live(spark: SparkSession, bk, meas_path: str):
    """Scan the measurement's LIVE file set: the committed snapshot
    (orphans invisible, exactly what readers see). Returns None when
    there is nothing to read."""
    files = snapshots.data_files(meas_path, bk=bk)
    if not files:
        return None
    return spark.read.option("mergeSchema", "true").parquet(
        *[bk.spark_url(f) for f in files])


def count_matching(spark: SparkSession, meas_path: str, predicate_sql: str) -> int:
    """DELETE dry-run: how many rows would go (reference estimate step,
    delete.go:635)."""
    df = _read_live(spark, backend_for(meas_path), meas_path)
    if df is None:
        return 0
    return df.filter(F.expr(predicate_sql)).count()


def delete_where(
    spark: SparkSession,
    root: str,
    db: str,
    measurement: str,
    predicate_sql: str,
    dry_run: bool = False,
) -> dict:
    """Predicate delete: rewrite only the files that contain matches, keeping
    rows where NOT(pred).

    Plan shape: one scan with `input_file_name()` finds affected files
    (predicate pushed to parquet), then each affected file is rewritten
    independently — untouched files are never rewritten, so cost scales with
    the match footprint, not table size (same contract as the reference).
    """
    bk = backend_for(root)
    meas_path = bk.join(root, db, measurement)
    df = _read_live(spark, bk, meas_path)
    if df is None:
        return {"files": 0, "deleted_rows": 0, "dry_run": dry_run}
    affected = [
        bk.from_spark_url(r[0])
        for r in df.filter(F.expr(predicate_sql))
        .select(F.input_file_name()).distinct().collect()
    ]
    matched = df.filter(F.expr(predicate_sql)).count()
    if dry_run or not affected:
        return {"files": len(affected), "deleted_rows": matched, "dry_run": dry_run}

    def _rewrite(fpath: str) -> tuple[str, str | None]:
        """Rewrite keep-rows to a NEW sibling file; old file untouched.
        Returns (old, new-or-None). The visibility swap happens in ONE
        snapshot commit after every rewrite lands — the whole predicate
        delete becomes visible atomically (crash before the commit leaves
        only invisible orphan rewrites)."""
        keep = spark.read.parquet(bk.spark_url(fpath)).filter(~F.expr(predicate_sql))
        tmp = fpath + f".delete-tmp-{uuid.uuid4().hex[:8]}"
        (
            keep.coalesce(1).write.mode("overwrite")
            .option("compression", "zstd").parquet(bk.spark_url(tmp))
        )
        outs = bk.list_files(tmp, suffix=".parquet")
        new_path = None
        if outs:
            stem = fpath[:-len(".parquet")] if fpath.endswith(".parquet") else fpath
            new_path = f"{stem}_del{uuid.uuid4().hex[:8]}.parquet"
            bk.move_file(outs[0], new_path)
        bk.remove_tree(tmp, ignore_errors=True)
        return fpath, new_path

    # affected files are independent single-file rewrites — run them as
    # concurrent Spark jobs (FIFO scheduler interleaves fine) instead of
    # one job per file serially; a wide GDPR delete is bounded by the
    # slowest few files, not the file count
    if len(affected) == 1:
        swaps = [_rewrite(affected[0])]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(len(affected), 8)) as ex:
            swaps = list(ex.map(_rewrite, affected))
    snapshots.commit(
        meas_path,
        add=[n for _, n in swaps if n],
        remove=[o for o, _ in swaps],
        bk=bk,
    )
    snapshots.retire(meas_path, [o for o, _ in swaps])
    spark.catalog.refreshByPath(bk.spark_url(meas_path))
    return {"files": len(affected), "deleted_rows": matched, "dry_run": False}
