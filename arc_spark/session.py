"""SparkSession construction with arc-equivalent engine configuration.

The reference tunes DuckDB (memory_limit, threads, temp_directory spill,
parquet metadata cache — /root/reference/internal/database/duckdb.go:426-466).
The Spark equivalents are set here once; everything else (vectorized
execution, spill, parallel scan) is Catalyst/Tungsten built-in.

Scale notes (the configs that matter at 100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces any hand-tuned partition count.
- broadcast threshold 64 MB: dimension tables (region/nation/supplier/part
  metadata) broadcast instead of shuffling the fact table.
- parquet aggregate pushdown: COUNT/MIN/MAX answered from footers — this is
  how arc gets its 1 ms COUNT(*) over 393M rows (BASELINE.md); Spark can do
  the same when the query is footer-answerable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cleanup_orphaned_spark_temp(tmp_dir: str | None = None,
                                min_age_s: float = 86_400.0) -> int:
    """Sweep leftover Spark/JVM temp dirs from crashed runs (reference
    internal/database/spill_cleanup.go CleanupOrphanedSpillFiles: DuckDB
    unlinks its spill files on graceful shutdown, but kill -9 leaks them
    forever; same story for Spark's ``spark-*`` / ``blockmgr-*`` local
    dirs). Age-gated so a CONCURRENT session's dirs are never touched
    (the reference uses the same coarse safety net); called by the serve
    entrypoint before the session boots, best-effort per dir. Returns
    the number of dirs removed."""
    import shutil
    import tempfile
    import time

    base = tmp_dir or os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    removed = 0
    now = time.time()
    try:
        names = os.listdir(base)
    except OSError:
        return 0
    for name in names:
        if not (name.startswith("spark-") or name.startswith("blockmgr-")):
            continue
        p = os.path.join(base, name)
        try:
            if not os.path.isdir(p) or now - os.path.getmtime(p) < min_age_s:
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
        except OSError:
            continue
    return removed


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def pin_worker_blas_threads() -> None:
    """Cap native math-library thread pools to 1 BEFORE the JVM (and thus
    the forked Python workers) starts.

    Every concurrent Python worker that imports numpy gets OpenBLAS's
    default pool of <ncpu> threads; N workers × N threads oversubscribes
    the box N-fold. Measured on local[32]: 32 concurrent 4096×256×1024
    GEMM processes run 2.3× slower with default pools (per-proc p50 5.0 s
    vs 2.2 s), and the bulk-LP parse p50 regressed 503 ms vs 71 ms from
    the same effect in pyarrow's pool (capped separately per-UDF via
    ``pa.set_cpu_count``). ``setdefault`` so an operator who wants
    driver-side threaded BLAS can still export their own value."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")


def ensure_parquet_confs(spark: SparkSession) -> None:
    """Set the two parquet-read confs arc's data model requires on an
    externally-built (vanilla) session — the driver's, for example.

    ``get_spark`` sets both at build; this is the one sanctioned place to
    set them on someone else's session, called at driver entry
    (``__spark_entry__``) BEFORE any plan is resolved. Reader helpers no
    longer mutate session state mid-flight (they verify instead): a lazy
    plan resolved under one conf value and executed under another would
    silently change how timestamps decode.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def serial_file_listing(spark: SparkSession, roots) -> None:
    """Raise ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    when no storage root is an object store. A catalog view reads the
    snapshot's explicit file list (``MeasurementCatalog.table``), and
    above the threshold (Spark default 32 paths) Spark fetches those
    files' statuses with a distributed listing job: on local disk that
    job cost ~0.85 s at 64 files and ~1.5 s at 160 against ~0.1 s of
    driver-side stats. On an object store the parallel job beats
    thousands of serial HEADs, so the default stays there."""
    from arc_spark.storage import _split_scheme

    if all(_split_scheme(r)[0] in (None, "file") for r in roots if r):
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1))


def get_spark(
    app_name: str = "arc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    In a real deployment the master/memory settings come from the cluster
    manager; only the ``spark.sql.*`` settings below travel with the app.
    """
    cpus = cpus or default_parallelism()
    pin_worker_blas_threads()  # must precede JVM launch to reach workers
    # local mode runs driver AND executors in ONE JVM sized by
    # spark.driver.memory, whose Spark default is 1g — far below what a
    # 32-core box's shuffle/aggregate working set needs (measured: heap
    # OOM at ~20k-doc all-pairs aggregates). On a cluster the executor
    # memory comes from the cluster manager and this setting only sizes
    # the actual driver. Applied at first session creation only.
    #
    # Default derives from the factor-256 GC probe (SCALING.md "GC sizing
    # rule"): wide Arrow-heavy stages (shingle building, mapInPandas
    # exchange) hold ~0.5 GiB live per concurrent task between
    # safepoints; at 16 GiB / 32 tasks the probe showed GCLocker retry
    # stalls, i.e. 0.5 GiB/task is the floor where GC starts fighting
    # the Arrow JNI pins. Rule: heap ≥ 0.75 GiB × concurrent tasks
    # (floor 16 GiB). ARC_SPARK_DRIVER_MEMORY overrides.
    mem = os.environ.get("ARC_SPARK_DRIVER_MEMORY")
    if not mem:
        gb = max(16, (cpus * 3 + 3) // 4)
        # clamp to half of physical RAM (Arrow native buffers + Python
        # workers live OUTSIDE the JVM heap): a 64-core/64 GiB box must
        # not default to -Xmx48g and swap (r8 review finding)
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemTotal:"):
                        ram_gb = int(line.split()[1]) // (1024 * 1024)
                        gb = max(4, min(gb, ram_gb // 2))
                        break
        except OSError:
            pass  # non-Linux: keep the cpu-derived value
        mem = f"{gb}g"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", mem)
        # Determinism / dialect
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle sizing: at 100 TB this is driven by AQE advisory sizes,
        # locally we start at #cores and let AQE coalesce.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Whole-stage-codegen class cache: the Spark default is 100
        # entries, sized for a job that runs ONE query shape — a
        # long-lived multi-query server (this engine's whole point)
        # thrashes it: ~40 distinct workload lanes evict each other's
        # compiled classes, so every lane pays a full Janino recompile
        # per arrival (r11 root-caused the r10/r11 artifact mystery of
        # q16 reading 2.4-2.8 s in-bench vs 1.1-1.8 isolated: with 5000
        # entries the in-context run matches isolated, measured
        # 2.75±0.04 → 1.2-1.9 s; q45/q17 same family). Entries are
        # compiled-class references — thousands cost MBs, not GBs.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Joins: dims broadcast; facts sort-merge/shuffled-hash via AQE.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # µs timestamps at rest (arc's storage type, SURVEY §1.2) — the
        # default INT96 is deprecated, larger, AND writes no min/max column
        # statistics, which silently disables row-group skipping on every
        # time-range scan and per-file footer retention over Spark-written
        # files
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ns-parquet inputs read as long here, healed to µs by
        # catalog.read_parquet_normalized — set once at build so no read
        # helper has to mutate session state mid-flight
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive (isAdjustedToUTC=false) parquet timestamps are arc TIMESTAMP
        # (µs since epoch, session tz UTC), not TIMESTAMP_NTZ — µs values
        # load verbatim either way, but NTZ breaks unix_micros/tz arithmetic
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Parquet scan efficiency (arc: parquet_metadata_cache, footer COUNT)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # DSv2 parquet: aggregate pushdown only works through the v2
        # BatchScan (COUNT/MIN/MAX answered from footers — measured 3.7×
        # on COUNT(*), and it's the arc 1 ms footer-count equivalent).
        .config("spark.sql.sources.useV1SourceList", "")
        .config("spark.sql.parquet.recordLevelFilter.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Python<->JVM interchange is Arrow everywhere (arc serves Arrow IPC).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Quieter local runs; no \r console-progress spam in captured
        # harness output (bench/driver artifacts stay diffable)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=error -XX:+UseG1GC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
