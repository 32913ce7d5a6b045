"""Compaction: merge small partition files, dedup last-writer-wins.

Reference (A20-A25, /root/reference/internal/compaction/):
- hourly tier: partitions ≥1h old with ≥10 files; daily: ≥24h old, ≥12 files
  (hourly.go:16-62, daily.go:14-52)
- merge = sorted rewrite, ZSTD, fixed row-group (dedup.go:145-163)
- dedup = ROW_NUMBER() OVER (PARTITION BY tags..., time ORDER BY time DESC)=1
  (dedup.go:166-236); CQ outputs dedup on time alone (`arc:dedup_time`)
- time-type healing: VARCHAR/INT time → TIMESTAMP (dedup.go:238-259)
- crash safety via manifest: write-audit-publish (manifest.go)

Spark translation: one job per partition-dir candidate — read files, heal,
dedup with a window, sort, coalesce(1), write to a temp dir, rename into
place, commit the swap, then ``snapshots.retire`` the sources. No fsync
runs before the rename or the delete; that durability barrier (ROADMAP
item 2) belongs inside ``retire``. The window shuffle is per-partition-dir
(hour or day of one measurement), so memory is bounded by partition size
regardless of total table size.

All file operations flow through :mod:`arc_spark.storage` backends
(reference internal/storage/backend.go): the measurement root — and the
daily tier's root independently — may be local or an object-store prefix.
On stores without rename, publish moves degrade to copy+delete inside the
same write-audit-publish manifest protocol, which is what makes the swap
crash-safe there too.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arc_spark import snapshots
from arc_spark.sources.writer import read_manifest
from arc_spark.storage import backend_for


def _run_jobs(thunks: list) -> list:
    """Run independent per-partition compaction jobs concurrently (each is
    one small Spark job over one partition dir + its own manifest/swap;
    nothing shared). A backlogged measurement's compaction pass is bounded
    by its slowest partitions, not the partition count. Order of results
    matches the input order."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as ex:
        return list(ex.map(lambda t: t(), thunks))


def heal_time_column(df: DataFrame, col: str = "time") -> DataFrame:
    """COALESCE(TRY_CAST(time AS TIMESTAMP), epoch-int interpretation) —
    heals string/int time columns (reference dedup.go:238-259)."""
    t = df.schema[col].dataType.simpleString() if col in df.columns else None
    if t in ("timestamp", "timestamp_ntz"):
        return df
    healed = F.coalesce(
        F.expr(f"try_cast(`{col}` AS TIMESTAMP)"),
        F.timestamp_micros(F.expr(
            f"CASE WHEN try_cast(`{col}` AS BIGINT) >= 100000000000000000 THEN try_cast(`{col}` AS BIGINT) div 1000 "
            f"WHEN try_cast(`{col}` AS BIGINT) >= 100000000000000 THEN try_cast(`{col}` AS BIGINT) "
            f"WHEN try_cast(`{col}` AS BIGINT) >= 100000000000 THEN try_cast(`{col}` AS BIGINT) * 1000 "
            f"ELSE try_cast(`{col}` AS BIGINT) * 1000000 END"
        )),
    )
    return df.withColumn(col, healed)


def dedup_window(df: DataFrame, tag_columns: list[str], dedup_time_only: bool = False) -> DataFrame:
    """Last-writer-wins per (tags..., time) — or (time) for CQ outputs."""
    keys = (["time"] if dedup_time_only else list(tag_columns) + ["time"])
    keys = [k for k in keys if k in df.columns]
    if not keys:
        return df
    w = Window.partitionBy(*keys).orderBy(F.desc("time"))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _due_dirs(meas_path: str, segments: list[str], min_files: int,
              min_age_seconds: float, now: float | None) -> list[str]:
    """Partition dirs at ``segments`` depth holding ≥ ``min_files``
    COMMITTED files, the newest at least ``min_age_seconds`` old. Replaced
    files still waiting for their retire must not keep a compacted
    partition eligible."""
    bk = backend_for(meas_path)
    now = now if now is not None else time.time()
    committed = set(snapshots.data_files(meas_path, bk=bk))
    out = []
    for d in bk.partition_dirs(meas_path, segments):
        files = [f for f in bk.find_files(d, suffix=".parquet")
                 if f in committed]
        if files and len(files) >= min_files and \
                now - max(bk.mtime(f) for f in files) >= min_age_seconds:
            out.append(d)
    return out


def compaction_candidates(
    meas_path: str, min_files: int = 10, min_age_seconds: float = 3600,
    now: float | None = None,
) -> list[str]:
    """Hour dirs eligible for compaction (reference tier policy)."""
    return _due_dirs(meas_path, ["year=", "month=", "day=", "hour="],
                     min_files, min_age_seconds, now)


def compact_partition_dir(
    spark: SparkSession,
    root: str,
    db: str,
    measurement: str,
    part_dir: str,
    dedup: bool = True,
    max_files_per_batch: int = 30,
) -> dict:
    """Compact one hive partition dir: N files → ⌈N/batch⌉, sorted + deduped.

    Crash safety (reference manifest.go): a manifest naming inputs+output is
    written BEFORE any replace; output goes to a `.compact-tmp` sibling and
    is renamed in last. On restart, stale tmp dirs / manifests are swept by
    :func:`recover_incomplete`.

    ``max_files_per_batch`` (reference 2026.09.1 tunable, clamped to
    [2, 500]) bounds the files merged by one job: a partition with
    thousands of small files compacts as independent batches, each with
    its own manifest + tmp dir + output file, so per-job memory stays
    bounded and a crash loses at most one batch. Batches run as
    SUCCESSIVE PASSES until one file remains: a single pass leaves
    ⌈N/batch⌉ outputs, and if that lands below the scheduler's
    ``min_files`` the partition is never revisited — cross-batch
    duplicates (e.g. at-least-once ingest replays, whose collapse relies
    on this LWW dedup) would survive forever. Each follow-up pass merges
    the previous pass's outputs, so duplicates meet within
    log_batch(N) passes while every individual job still touches at
    most ``batch`` files.
    """
    bk = backend_for(root)
    meas_path = bk.join(root, db, measurement)
    manifest = read_manifest(root, db, measurement)
    tags = manifest.get("tag_columns", [])
    sort_keys = [c for c in manifest.get("sort_keys", []) if c != "time"] + ["time"]

    # compact only COMMITTED files: an orphan (crash-leaked,
    # reader-invisible) merged in would resurrect rows the visible state
    # never had — orphans are the reconciler's to sweep. Resolving the
    # snapshot also adopts a never-committed tree BEFORE any job manifest
    # is written, so the recorded commit is recovery's only pivot.
    committed = set(snapshots.data_files(meas_path, bk=bk))
    inputs = [f for f in bk.list_files(part_dir, suffix=".parquet")
              if f in committed]
    if len(inputs) <= 1:
        return {"partition": part_dir, "inputs": len(inputs), "skipped": True}

    batch = max(2, min(int(max_files_per_batch), 500))
    current = inputs
    rows = 0
    while len(current) > 1:
        nxt: list[str] = []
        rows = 0
        for bi in range(0, len(current), batch):
            group = current[bi:bi + batch]
            if len(group) == 1:
                nxt.extend(group)  # odd tail file: carried to next pass
                continue
            r, outs = _compact_file_batch(
                spark, bk, part_dir, measurement, group,
                tags, sort_keys, manifest.get("dedup_time", False), dedup,
                meas_path=meas_path,
            )
            rows += r
            nxt.extend(outs)
        if len(nxt) >= len(current):
            break  # defensive: no progress
        current = nxt
    return {
        "partition": part_dir,
        "inputs": len(inputs),
        "outputs": len(current),
        "rows": rows,
        "skipped": False,
    }


def _compact_file_batch(
    spark: SparkSession,
    bk,
    part_dir: str,
    measurement: str,
    inputs: list[str],
    tags: list,
    sort_keys: list,
    dedup_time_only: bool,
    dedup: bool,
    meas_path: str,
) -> tuple[int, list[str]]:
    """One crash-safe merge of ``inputs`` → one output file (manifest →
    write tmp → audit → publish → snapshot commit → retire inputs).
    Returns (rows, published file paths) so a follow-up pass can merge
    batch outputs.

    The snapshot commit (arc_spark.snapshots) swaps inputs for outputs in
    ONE atomic publish — the reference's ReplaceDataFiles
    (internal/iceberg/exporter.go): a reader resolves either the
    pre-compaction or post-compaction file set, never both or neither.
    Crash before the commit → recover_incomplete rolls BACK (outputs were
    never visible); crash after → rolls FORWARD (inputs already invisible)."""
    job_id = uuid.uuid4().hex[:8]
    tmp_dir = part_dir + f".compact-tmp-{job_id}"
    # per-batch manifest; the name keeps the .compact-manifest.json suffix
    # recover_incomplete() sweeps on
    job_manifest = part_dir + f".{job_id}.compact-manifest.json"
    bk.write_json(job_manifest,
                  {"inputs": inputs, "tmp_dir": tmp_dir, "partition": part_dir})

    df = spark.read.option("mergeSchema", "true").parquet(
        *[bk.spark_url(f) for f in inputs]
    )
    df = heal_time_column(df)
    if dedup:
        df = dedup_window(df, tags, dedup_time_only=dedup_time_only)
    (
        df.sortWithinPartitions(*[k for k in sort_keys if k in df.columns])
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.block.size", str(122880 * 1024))
        .parquet(bk.spark_url(tmp_dir))
    )
    out_rows = spark.read.parquet(bk.spark_url(tmp_dir)).count()  # audit before publish

    # publish: the planned names and the swap commit are recorded BEFORE
    # any move, so recover_incomplete() rolls a crashed job back (outputs
    # not committed) or forward (committed: retire the inputs).
    compacted = bk.list_files(tmp_dir, suffix=".parquet")
    ts = int(time.time() * 1000)
    published = [
        bk.join(part_dir, f"{measurement}_compacted_{ts}_{job_id}_{i}.parquet")
        for i in range(len(compacted))
    ]
    commits = [{"tree": meas_path, "add": published, "remove": inputs}]
    bk.write_json(job_manifest,
                  {"inputs": inputs, "tmp_dir": tmp_dir, "partition": part_dir,
                   "published": published, "commits": commits})
    for src, dst in zip(compacted, published):
        bk.move_file(src, dst)
    snapshots.commit(meas_path, add=published, remove=inputs, bk=bk)
    snapshots.retire(meas_path, inputs)
    bk.remove_tree(tmp_dir, ignore_errors=True)
    bk.remove_file(job_manifest)
    return out_rows, published


def recover_incomplete(meas_path: str) -> int:
    """Sweep partial compactions after a crash.

    Decision per leftover job manifest (reference manifest.go recovery):
    the recorded commit is the pivot. Outputs present in the destination
    tree's current snapshot → the swap became visible, ROLL FORWARD
    (apply the recorded commits — cross-tree jobs like the daily tier
    record two — and retire what each removed); otherwise (no outputs
    published yet, or not in the snapshot) readers never saw them, ROLL
    BACK by deleting them. Every compaction adopts its trees before it
    writes a job manifest, so the snapshot is authoritative here. Tmp
    dirs and manifests are dropped either way."""
    bk = backend_for(meas_path)
    n = 0
    for m in bk.find_files(meas_path, suffix=".compact-manifest.json"):
        job = bk.read_json(m)
        published = job.get("published", [])
        commits = job.get("commits") or []
        forward = bool(commits and published) and snapshots.contains(
            commits[0]["tree"], published[0])
        if forward:
            # outputs are visible: finish the swap — re-apply commits
            # (idempotent set ops on the snapshot; inputs may live on
            # another tree/backend for daily-tier jobs) and retire what
            # each one removed
            for c in commits:
                snapshots.commit(c["tree"], add=c.get("add", []),
                                 remove=c.get("remove", []))
                snapshots.retire(c["tree"], c.get("remove", []))
        else:
            # roll back: delete any outputs that were already moved in
            for f in published:
                bk.remove_file_if_exists(f)
        tmp = job.get("tmp_dir", "")
        if tmp:
            bk.remove_tree(tmp, ignore_errors=True)
        bk.remove_file(m)
        n += 1
    for d in bk.find_dirs(meas_path, ".compact-tmp-"):
        bk.remove_tree(d, ignore_errors=True)
        n += 1
    return n


def daily_candidates(
    meas_path: str, min_files: int = 12, min_age_seconds: float = 86400,
    now: float | None = None,
) -> list[str]:
    """Day dirs eligible for the daily tier (reference daily.go:14-52:
    days ≥24 h old holding ≥12 files — i.e. hourly compaction has already
    run and the day still has many per-hour files)."""
    return _due_dirs(meas_path, ["year=", "month=", "day="],
                     min_files, min_age_seconds, now)


def compact_day(
    spark: SparkSession,
    root: str,
    db: str,
    measurement: str,
    day_dir: str,
    daily_root: str,
    dedup: bool = True,
) -> dict:
    """Merge one day's hour files into ONE day-level file in the daily tier.

    Reference: internal/compaction/daily.go:14-52 merges a day's hourly
    files into a single day file. The hive translation: the daily tier is a
    separate root partitioned ``year=/month=/day=`` — uniform depth per
    tier — and ``hour`` travels INSIDE the file as a data column (parquet
    row-group stats still prune on it). `MeasurementCatalog` unions tiers
    by name, so reads and the SQL-surface partition pruner keep working:
    year/month/day prune on the path, hour prunes via row-group stats.

    The hot root and the daily root may live on DIFFERENT backends (e.g.
    hot local disk, daily tier on S3) — the rewrite reads from one and
    publishes to the other through Spark; only metadata ops touch each
    side's own filesystem.

    Crash safety: same manifest protocol as the hourly tier — manifest
    (inputs + planned output) before any move; recover via
    :func:`recover_incomplete` on the DAILY tier path rolls back or forward.
    """
    src_bk = backend_for(root)
    dst_bk = backend_for(daily_root)
    manifest = read_manifest(root, db, measurement)
    tags = manifest.get("tag_columns", [])
    sort_keys = [c for c in manifest.get("sort_keys", []) if c != "time"] + ["time"]

    src_meas_path = src_bk.join(root, db, measurement)
    committed = set(snapshots.data_files(src_meas_path, bk=src_bk))
    inputs = [f for f in src_bk.find_files(day_dir, suffix=".parquet")
              if f in committed]
    if not inputs:
        return {"day": day_dir, "inputs": 0, "skipped": True}

    rel = src_bk.relpath(day_dir, src_bk.join(root, db, measurement))
    out_day_dir = dst_bk.join(daily_root, db, measurement, rel)
    tmp_dir = out_day_dir + f".compact-tmp-{uuid.uuid4().hex[:8]}"
    job_manifest = out_day_dir + ".compact-manifest.json"
    dst_bk.mkdirs(dst_bk.dirname(out_day_dir))

    # read the COMMITTED input files explicitly (never a dir glob that
    # could merge in reader-invisible orphans), with basePath so hour
    # arrives as a column; keep it as data
    df = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", src_bk.spark_url(src_meas_path))
        .parquet(*[src_bk.spark_url(f) for f in inputs])
        .drop("year", "month", "day")
    )
    df = heal_time_column(df)
    if dedup:
        df = dedup_window(df, tags, dedup_time_only=manifest.get("dedup_time", False))
    ts = int(time.time() * 1000)
    published = [dst_bk.join(out_day_dir, f"{measurement}_daily_{ts}_0.parquet")]
    dst_meas = dst_bk.join(daily_root, db, measurement)
    src_meas = src_meas_path
    # adopt the daily tree (a fresh one, even an object-store prefix that
    # is no directory yet, commits its empty snapshot) before the job
    # manifest exists: an output moved in by a job that crashes before
    # its commit then stays invisible, and recovery rolls it back
    snapshots.adopt(dst_meas, bk=dst_bk)
    # two trees change: the daily tier gains the merged file, the hot tier
    # loses the day's files. Recorded in the job manifest so
    # recover_incomplete can re-apply BOTH on roll-forward — otherwise a
    # crash between the two commits would leave the hot snapshot pointing
    # at deleted files.
    commits = [
        {"tree": dst_meas, "add": published, "remove": []},
        {"tree": src_meas, "add": [], "remove": inputs},
    ]
    dst_bk.write_json(job_manifest,
                      {"inputs": inputs, "tmp_dir": tmp_dir,
                       "partition": out_day_dir, "published": published,
                       "commits": commits})
    (
        df.sortWithinPartitions(*[k for k in sort_keys if k in df.columns])
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.block.size", str(122880 * 1024))
        .parquet(dst_bk.spark_url(tmp_dir))
    )
    out_rows = spark.read.parquet(dst_bk.spark_url(tmp_dir)).count()  # audit before publish
    compacted = dst_bk.list_files(tmp_dir, suffix=".parquet")
    dst_bk.mkdirs(out_day_dir)
    published = published[: len(compacted)]
    for src, dst in zip(compacted, published):
        dst_bk.move_file(src, dst)
    # snapshot swap: daily gains the merged file, hot drops the day —
    # committed in that order so the worst crash window shows the day
    # twice (union read, transient, healed by recovery) rather than not
    # at all. Inputs retired only after both commits (recover rolls
    # forward past here); exactly the inputs, so a file a late flush
    # committed into this day while the job ran stays.
    snapshots.commit(dst_meas, add=published, bk=dst_bk)
    snapshots.commit(src_meas, remove=inputs, bk=src_bk)
    snapshots.retire(src_meas, inputs)
    dst_bk.remove_tree(tmp_dir, ignore_errors=True)
    dst_bk.remove_file(job_manifest)
    return {"day": day_dir, "output": published[0] if published else None,
            "inputs": len(inputs), "rows": out_rows, "skipped": False}


def compact_measurement_daily(
    spark: SparkSession,
    root: str,
    db: str,
    measurement: str,
    daily_root: str,
    min_files: int = 12,
    min_age_seconds: float = 86400,
    now: float | None = None,
) -> list[dict]:
    """Daily-tier pass: merge eligible days into single day files under
    ``daily_root`` (see :func:`compact_day` for the layout contract)."""
    src_bk = backend_for(root)
    dst_bk = backend_for(daily_root)
    meas_path = src_bk.join(root, db, measurement)
    recover_incomplete(dst_bk.join(daily_root, db, measurement))
    cands = daily_candidates(meas_path, min_files, min_age_seconds, now)
    results = _run_jobs(
        [lambda d=d: compact_day(spark, root, db, measurement, d, daily_root)
         for d in cands]
    )
    if results:
        spark.catalog.refreshByPath(src_bk.spark_url(meas_path))
    return results


def compact_measurement(
    spark: SparkSession,
    root: str,
    db: str,
    measurement: str,
    min_files: int = 10,
    min_age_seconds: float = 3600,
    now: float | None = None,
    max_files_per_batch: int = 30,
) -> list[dict]:
    """Hourly-tier compaction pass over one measurement. Each swap
    commits a snapshot; catalog views pick it up on their next read
    (MeasurementCatalog.register)."""
    bk = backend_for(root)
    meas_path = bk.join(root, db, measurement)
    recover_incomplete(meas_path)
    cands = compaction_candidates(meas_path, min_files, min_age_seconds, now)
    results = _run_jobs(
        [lambda d=d: compact_partition_dir(
            spark, root, db, measurement, d,
            max_files_per_batch=max_files_per_batch)
         for d in cands]
    )
    if results:
        spark.catalog.refreshByPath(bk.spark_url(meas_path))
    return results
