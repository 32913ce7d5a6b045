"""Continuous queries: scheduled window aggregation written back as a
measurement.

Reference (A28, /root/reference/internal/api/continuous_query.go:510-965 +
internal/scheduler/cq_scheduler.go): per-CQ interval; substitute
``{start_time}``/``{end_time}`` into the SQL; run the aggregation; stamp a
missing ``time`` column with the window start; write through the ingest path
with dedup markers so re-runs collapse at compaction.

Two modes:
- :class:`ContinuousQuery` / :class:`CQScheduler` — the faithful micro-batch
  form (scheduled Spark SQL, watermark = last_processed checkpoint).
- :func:`streaming_window_agg` — the Structured Streaming upgrade the
  reference lacks: tumbling window + watermark, exactly-once via checkpoint.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arc_spark import snapshots
from arc_spark.sources.writer import write_measurement


def _floor_to(ts: dt.datetime, seconds: int) -> dt.datetime:
    epoch = ts.timestamp()
    return (dt.datetime.fromtimestamp(int(epoch // seconds) * seconds,
                                      dt.timezone.utc).replace(tzinfo=None))


class ContinuousQuery:
    """One scheduled aggregation.

    `sql` may reference registered temp views and MUST contain
    ``{start_time}`` / ``{end_time}`` placeholders (substituted as SQL
    timestamp literals, exactly like the reference)."""

    def __init__(
        self,
        name: str,
        sql: str,
        dest_db: str,
        dest_measurement: str,
        interval_seconds: int,
        tag_columns: list[str] | None = None,
        checkpoint_dir: str = ".cq_checkpoints",
    ):
        self.name = name
        self.sql = sql
        self.dest_db = dest_db
        self.dest_measurement = dest_measurement
        self.interval_seconds = interval_seconds
        # operational pause (reference cq routes /:id/pause, /:id/start):
        # a paused CQ is skipped by the scheduler tick and /run
        self.paused = False
        self.tag_columns = tag_columns or []
        self.checkpoint_dir = checkpoint_dir

    # -- checkpointing (reference: SQLite last_processed; here: JSON file) --
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.checkpoint_dir, f"{self.name}.json")

    def last_processed(self) -> dt.datetime | None:
        if not os.path.exists(self._ckpt_path):
            return None
        with open(self._ckpt_path) as f:
            return dt.datetime.fromisoformat(json.load(f)["last_processed"])

    def _save_checkpoint(self, ts: dt.datetime) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        with open(self._ckpt_path, "w") as f:
            json.dump({"last_processed": ts.isoformat()}, f)

    # -- execution ----------------------------------------------------------
    def window_bounds(self, now: dt.datetime) -> tuple[dt.datetime, dt.datetime] | None:
        """[last_processed, floor(now, interval)) — None when not yet due."""
        end = _floor_to(now, self.interval_seconds)
        start = self.last_processed()
        if start is None:
            start = end - dt.timedelta(seconds=self.interval_seconds)
        if start >= end:
            return None
        return start, end

    @snapshots.reading()
    def run_once(self, spark: SparkSession, root: str,
                 now: dt.datetime | None = None, plan=None) -> dict:
        """Run the due window, if any. ``plan`` (``sql → DataFrame``,
        default ``spark.sql``) builds the query — a server passes
        ``QueryService.plan`` so the CQ reads views fresh from their
        latest commit, like any other query."""
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        bounds = self.window_bounds(now)
        if bounds is None:
            return {"cq": self.name, "ran": False}
        start, end = bounds
        sql = self.sql.format(
            start_time=f"TIMESTAMP '{start.isoformat(sep=' ')}'",
            end_time=f"TIMESTAMP '{end.isoformat(sep=' ')}'",
        )
        result = (plan or spark.sql)(sql)
        if "time" not in result.columns:
            # stamp window start (reference continuous_query.go: window-start
            # convention for outputs without an explicit time column)
            result = result.withColumn("time", F.lit(start).cast("timestamp"))
        write_measurement(
            result,
            root,
            self.dest_db,
            self.dest_measurement,
            tag_columns=self.tag_columns,
            dedup_time=not self.tag_columns,
        )
        self._save_checkpoint(end)
        return {"cq": self.name, "ran": True,
                "start": start.isoformat(), "end": end.isoformat()}


class CQScheduler:
    """Drives a set of CQs; call :meth:`tick` from a cron/loop (the reference
    runs a goroutine ticker per CQ; one sweep here is simpler and equivalent
    for correctness — each CQ's own checkpoint decides if it's due)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.queries: dict[str, ContinuousQuery] = {}

    def register(self, cq: ContinuousQuery) -> None:
        self.queries[cq.name] = cq

    def tick(self, now: dt.datetime | None = None) -> list[dict]:
        return [cq.run_once(self.spark, self.root, now)
                for cq in self.queries.values() if not cq.paused]


def streaming_window_agg(
    events: DataFrame,
    time_col: str,
    window_duration: str,
    agg_exprs: dict[str, str],
    group_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Structured Streaming tumbling-window aggregation (the upgrade path the
    reference lacks — SURVEY §2.B streaming row).

    Works on both streaming and batch DataFrames (same code path): window +
    watermark handles late data that the reference only fixes later via
    compaction dedup.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    grouped = df.groupBy(
        F.window(F.col(time_col), window_duration).alias("w"),
        *[F.col(c) for c in (group_cols or [])],
    )
    aggs = [F.expr(expr).alias(alias) for alias, expr in agg_exprs.items()]
    out = grouped.agg(*aggs)
    return out.select(
        F.col("w.start").alias("time"),
        *[F.col(c) for c in (group_cols or [])],
        *[F.col(a) for a in agg_exprs.keys()],
    )
