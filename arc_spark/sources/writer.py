"""Measurement writer: hour-partitioned, sorted Parquet (the ingest sink).

Reference behavior (A19, /root/reference/internal/ingest/arrow_writer.go:2440-2639):
batches are split by the *data* hour, sorted by per-measurement sort keys
(`time` always last, config/sort_keys.go:9-60), and written under
``db/measurement/YYYY/MM/DD/HH/``.

Spark-first translation: hive partition columns ``year=/month=/day=/hour=``
derived from `time`, ``repartition`` by those columns (each output partition
written by one task → bounded small-file count), ``sortWithinPartitions`` for
the sort keys, zstd Parquet. Catalyst then prunes partitions from time
predicates natively — replacing the reference's 1205-line string pruner (A2).

Tag metadata (`arc:tags`, `arc:dedup_time` parquet-footer KV in the
reference, arrow_writer.go:505-543) lives in a per-measurement JSON manifest
(`_arc_manifest.json`) — compaction reads it for the dedup key.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arc_spark.storage import backend_for

MANIFEST_NAME = "_arc_manifest.json"


def measurement_path(root: str, db: str, measurement: str) -> str:
    """The single write-side resolution of (db, measurement) → path; the
    identifier check here means no ingest payload, route parameter, or
    wire measurement name ('m' field, LP measurement) can steer a WRITE
    outside the storage root."""
    from arc_spark.catalog import validate_identifier

    validate_identifier(db, "database")
    validate_identifier(measurement, "measurement")
    return backend_for(root).join(root, db, measurement)


def write_manifest(root: str, db: str, measurement: str,
                   tag_columns: list[str], sort_keys: list[str],
                   dedup_time: bool = False,
                   decimals: dict[str, list[int]] | None = None) -> None:
    """`decimals` maps column → [precision, scale] — the manifest equivalent
    of the reference's `arc:decimals` parquet-footer KV (arrow_writer.go:505-543)."""
    bk = backend_for(root)
    path = measurement_path(root, db, measurement)
    bk.mkdirs(path)
    # atomic publish: readers (read_manifest, compaction) must never see a
    # torn JSON — local rename is atomic, object-store PUT-then-move leaves
    # either the old or the new object visible
    tmp = bk.join(path, f".{MANIFEST_NAME}.tmp-{uuid.uuid4().hex[:8]}")
    bk.write_json(
        tmp,
        {"tag_columns": tag_columns, "sort_keys": sort_keys,
         "dedup_time": dedup_time, "decimals": decimals or {}},
    )
    bk.move_file(tmp, bk.join(path, MANIFEST_NAME))


def read_manifest(root: str, db: str, measurement: str) -> dict:
    bk = backend_for(root)
    p = bk.join(measurement_path(root, db, measurement), MANIFEST_NAME)
    if not bk.isfile(p):
        return {"tag_columns": [], "sort_keys": [], "dedup_time": False,
                "decimals": {}}
    m = bk.read_json(p)
    m.setdefault("decimals", {})
    return m


def with_partition_columns(df: DataFrame, time_col: str = "time") -> DataFrame:
    """Derive the hive partition columns FROM the row's own time value.

    CONTRACT (serving fast path depends on it): every row in an
    ``hour=``/``day=`` file lies inside its path's time window, because
    the partition columns are computed from ``time`` here — never
    caller-supplied. ``TimeRange.covers()`` (catalog.py) skips the
    exact row filter on fully-interior files on the strength of this
    invariant; any new import/compaction path that materializes the
    hive layout must route through this helper (or set
    ARC_SCAN_VERIFY_INTERIOR=1 while validating that it preserves the
    invariant)."""
    t = F.col(time_col)
    return (
        df.withColumn("year", F.year(t))
        .withColumn("month", F.month(t))
        .withColumn("day", F.dayofmonth(t))
        .withColumn("hour", F.hour(t))
    )


def write_measurement(
    df: DataFrame,
    root: str,
    db: str,
    measurement: str,
    tag_columns: list[str] | None = None,
    sort_keys: list[str] | None = None,
    dedup_time: bool = False,
    mode: str = "append",
    target_file_partitions: int | None = None,
    decimals: dict[str, list[int]] | None = None,
) -> str:
    """Write a micro-batch into the measurement's hive layout.

    Scale shape: one shuffle (`repartition` on the partition columns) so each
    (year,month,day,hour) is produced by as few tasks as possible — the
    small-file problem is bounded at write time instead of deferred entirely
    to compaction. Sort keys become `sortWithinPartitions`, preserving arc's
    within-file ordering guarantee for time-range scans.
    """
    if "time" not in df.columns:
        raise ValueError("measurement batches require a 'time' column")
    tag_columns = tag_columns if tag_columns is not None else []
    sort_keys = list(sort_keys) if sort_keys else list(tag_columns)
    if "time" not in sort_keys:
        sort_keys = sort_keys + ["time"]  # time always last (reference)

    from arc_spark import snapshots

    bk = backend_for(root)
    out = measurement_path(root, db, measurement)
    part_cols = ["year", "month", "day", "hour"]
    pdf = with_partition_columns(df)
    if target_file_partitions:
        pdf = pdf.repartition(target_file_partitions, *[F.col(c) for c in part_cols])
    else:
        pdf = pdf.repartition(*[F.col(c) for c in part_cols])
    # snapshot diff base: Spark's committer doesn't report written files,
    # so the commit adds (after − before)
    before = set(snapshots.live_glob(out, bk=bk))
    # partition columns FIRST in the sort: FileFormatWriter requires rows
    # ordered by partition columns and inserts its own (sort-key-destroying)
    # sort if they aren't a prefix of the actual ordering — with the prefix
    # in place our (tags..., time) order survives into the files
    (
        pdf.sortWithinPartitions(*part_cols, *sort_keys)
        .write.mode(mode)
        .option("compression", "zstd")
        .partitionBy(*part_cols)
        .parquet(bk.spark_url(out))
    )
    write_manifest(root, db, measurement, tag_columns, sort_keys, dedup_time,
                   decimals=decimals)
    added = [f for f in snapshots.live_glob(out, bk=bk) if f not in before]
    snapshots.commit(out, add=added, bk=bk)
    return out


def _sort_for_flush(table: pa.Table, part_cols: list[str],
                    sort_keys: list[str]) -> pa.Table:
    """Sort by (partition cols, sort keys) — the flush hot loop.

    The partition columns are all functions of `time`, so the composite
    key collapses to (hour-epoch, *sort keys, …): a numpy lexsort over
    primitive key vectors + one `take` runs ~2× faster than Arrow's
    ``sort_by`` (the reference's radix time-sort is the same move,
    RELEASE_NOTES_2026.06.2 "flush time-sort"). String keys sort by
    rank-remapped dictionary codes (lexicographic, identical order).
    Null-bearing or exotic key columns fall back to ``sort_by``.
    """
    import numpy as np

    keys: list = []  # np.lexsort: LAST array is the primary key
    try:
        for name in reversed(sort_keys):
            col = table.column(name).combine_chunks()
            if col.null_count:
                raise TypeError
            if pa.types.is_timestamp(col.type):
                keys.append(col.cast(pa.int64()).to_numpy())
            elif pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                enc = pc.dictionary_encode(col)
                dic = enc.dictionary.to_numpy(zero_copy_only=False)
                order = np.argsort(dic)
                rank = np.empty(len(order), dtype=np.int64)
                rank[order] = np.arange(len(order))
                keys.append(rank[enc.indices.to_numpy()])
            elif (pa.types.is_integer(col.type)
                  or pa.types.is_floating(col.type)
                  or pa.types.is_boolean(col.type)):
                keys.append(col.to_numpy(zero_copy_only=False))
            else:
                raise TypeError
        # hour-epoch stands in for (year, month, day, hour)
        keys.append(table.column("time").cast(pa.int64()).to_numpy()
                    // 3_600_000_000)
    except (TypeError, pa.ArrowInvalid):
        return table.sort_by(
            [(c, "ascending") for c in part_cols + sort_keys])
    perm = np.lexsort(tuple(keys))
    if (perm == np.arange(len(perm))).all():
        return table  # already sorted: skip the take copy
    return table.take(pa.array(perm))


def write_measurement_arrow(
    table: pa.Table,
    root: str,
    db: str,
    measurement: str,
    tag_columns: list[str] | None = None,
    sort_keys: list[str] | None = None,
    dedup_time: bool = False,
    decimals: dict[str, list[int]] | None = None,
    manifest: bool = True,
    written_out: list[str] | None = None,
) -> str:
    """Single-process Arrow→Parquet flush fast path.

    The Spark writer above shuffles the micro-batch across the cluster —
    right for large backfills, but a fixed multi-second job cost on the
    steady-state small flush. The reference never pays that: its ingest
    buffer writes Parquet directly from Arrow in-process
    (arrow_writer.go:552-707, flushPartitionedData :2440-2639). This is the
    same move on the same layout: derive hour partitions from data time,
    sort by (partition cols, sort keys), write zstd files into the identical
    ``year=/month=/day=/hour=`` hive tree. Readers cannot tell which path
    wrote a file; `IngestService.flush` picks by batch size.
    """
    if "time" not in table.column_names:
        raise ValueError("measurement batches require a 'time' column")
    tag_columns = tag_columns if tag_columns is not None else []
    sort_keys = list(sort_keys) if sort_keys else list(tag_columns)
    if "time" not in sort_keys:
        sort_keys = sort_keys + ["time"]

    # isAdjustedToUTC=true in the footer so Spark reads TIMESTAMP_LTZ —
    # schema-identical to Spark-written files in the same tree
    t_idx = table.column_names.index("time")
    t = table.column("time").cast(pa.timestamp("us", tz="UTC"))
    table = table.set_column(t_idx, "time", t)

    part_cols = ["year", "month", "day", "hour"]
    for name, fn in (("year", pc.year), ("month", pc.month),
                     ("day", pc.day), ("hour", pc.hour)):
        table = table.append_column(name, fn(t).cast(pa.int32()))
    table = _sort_for_flush(table, part_cols, sort_keys)

    bk = backend_for(root)
    out = measurement_path(root, db, measurement)
    # exact written-file capture (no listing): the visitor sees each file
    # as the dataset writer closes it — these are what the snapshot commit
    # publishes (arc_spark.snapshots; the reference's manifest records the
    # flushed file set the same way, internal/compaction/manifest.go)
    written_rel: list[str] = []
    out_fs_prefix = bk.fs_path(out).rstrip("/") + "/"

    def _visit(written_file) -> None:
        p = written_file.path
        rel = p[len(out_fs_prefix):] if p.startswith(out_fs_prefix) else p
        written_rel.append(rel.lstrip("/"))

    pads.write_dataset(
        table,
        bk.fs_path(out),
        filesystem=bk.fs,
        format="parquet",
        partitioning=pads.partitioning(
            pa.schema([(c, pa.int32()) for c in part_cols]), flavor="hive"
        ),
        basename_template=f"part-{uuid.uuid4().hex}-{{i}}.parquet",
        existing_data_behavior="overwrite_or_ignore",
        file_options=pads.ParquetFileFormat().make_write_options(
            compression="zstd"
        ),
        file_visitor=_visit,
    )
    if written_out is not None:
        written_out.extend(written_rel)
    # manifest=False lets a chunk-parallel flush write the (identical)
    # manifest once — and commit the snapshot once — instead of per chunk
    # (the fused executor paths likewise ship written_out back for ONE
    # driver-side commit per measurement)
    if manifest:
        from arc_spark import snapshots

        write_manifest(root, db, measurement, tag_columns, sort_keys,
                       dedup_time, decimals=decimals)
        snapshots.commit(out, add=written_rel, bk=bk)
    return out
