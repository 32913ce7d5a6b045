"""Query governance, estimation, and registry/cancellation.

Reference parity:
- A14 query estimate — /root/reference/internal/api/query.go:3544-3757
  (wrap query in SELECT COUNT(*), classify warning level);
- A37 governance — /root/reference/internal/governance/ + enforcement at
  query.go:1438-1469 (per-token rate limit, row caps, max duration);
- A38 query registry / cancellation —
  /root/reference/internal/queryregistry/registry.go (register, list,
  cancel in-flight queries).

Spark-first mechanics: row caps are a `LIMIT` on the plan (pushed into the
scan by Catalyst, e.g. CollectLimit/TakeOrderedAndProject — not a post-hoc
truncation), estimates prefer Catalyst statistics over execution, and
cancellation uses Spark job groups (`interruptTag` / cancelJobGroup), the
engine-native equivalent of the reference's context cancellation.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


# ---------------------------------------------------------------------------
# A14 — query estimate
# ---------------------------------------------------------------------------

def estimate_rows(df: DataFrame) -> tuple[int, str]:
    """(row_count, warning_level) for a plan, like the reference's
    estimateQuery: none <10k, low <100k, medium <1M, high ≥1M."""
    n = df.count()
    if n < 10_000:
        level = "none"
    elif n < 100_000:
        level = "low"
    elif n < 1_000_000:
        level = "medium"
    else:
        level = "high"
    return n, level


def plan_stats_rowcount(df: DataFrame) -> int | None:
    """Catalyst-statistics row estimate (no execution) — cheaper than
    COUNT(*) when parquet footers carry stats; None when unavailable."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        return int(rc.get().toString()) if rc.isDefined() else None
    except Exception:
        return None


# ---------------------------------------------------------------------------
# A37 — governance: rate limits, row caps, duration caps
# ---------------------------------------------------------------------------

class GovernanceError(Exception):
    pass


class RateLimitExceeded(GovernanceError):
    pass


class QueryTimeout(GovernanceError):
    pass


class QueryCancelled(GovernanceError):
    pass


@dataclass
class TokenPolicy:
    """Per-token limits (reference: per-token governance config)."""
    max_queries_per_minute: int | None = None
    max_rows: int | None = None
    max_duration_s: float | None = None


class Governor:
    """Enforces TokenPolicy per auth token: sliding one-minute rate window
    + row-cap injection. `admit` raises; `cap` rewrites the plan.

    The window is genuinely sliding (a deque of admit timestamps pruned to
    the trailing 60 s), not a fixed bucket: a fixed bucket admits a 2×
    burst straddling the reset boundary. Memory is bounded at
    max_queries_per_minute timestamps per token."""

    def __init__(self, default_policy: TokenPolicy | None = None):
        """``default_policy`` applies to tokens WITHOUT an explicit
        policy (the reference's deployment-wide [query] limits; per-token
        policies still override it)."""
        self._policies: dict[str, TokenPolicy] = {}
        self._admits: dict[str, deque[float]] = {}
        self._default = default_policy
        self._lock = threading.Lock()

    def set_policy(self, token: str, policy: TokenPolicy) -> None:
        self._policies[token] = policy

    def _policy(self, token: str) -> TokenPolicy | None:
        return self._policies.get(token, self._default)

    def admit(self, token: str, now: float | None = None) -> None:
        pol = self._policy(token)
        if pol is None or pol.max_queries_per_minute is None:
            return
        t = now if now is not None else time.monotonic()
        with self._lock:
            q = self._admits.setdefault(token, deque())
            while q and t - q[0] >= 60.0:
                q.popleft()
            if len(q) >= pol.max_queries_per_minute:
                raise RateLimitExceeded(
                    f"rate limit {pol.max_queries_per_minute}/min exceeded"
                )
            q.append(t)

    def row_cap(self, token: str) -> int | None:
        """The numeric row cap, for non-DataFrame serving paths (the
        native measurement fast scan applies it as a pyarrow head)."""
        pol = self._policy(token)
        return None if pol is None else pol.max_rows

    def cap(self, token: str, df: DataFrame) -> DataFrame:
        """Row-cap the plan. LIMIT participates in planning (Catalyst turns
        it into CollectLimit / limit pushdown) rather than truncating a
        fully-computed result."""
        pol = self._policy(token)
        if pol is None or pol.max_rows is None:
            return df
        return df.limit(pol.max_rows)

    def timeout_s(self, token: str) -> float | None:
        pol = self._policy(token)
        return pol.max_duration_s if pol else None

    # -- admin surface (reference governance.go List/Get/Delete/Usage;
    #    keyed by plaintext token here because the auth store holds only
    #    hashes — listings MASK the key, deletes/usage take it in a body)
    @staticmethod
    def _mask(token: str) -> str:
        return (token[:4] + "…" + token[-4:]) if len(token) > 12 else "…"

    def list_policies(self) -> list[dict]:
        with self._lock:
            items = list(self._policies.items())
        return [{"token_masked": self._mask(t),
                 "max_queries_per_minute": p.max_queries_per_minute,
                 "max_rows": p.max_rows,
                 "max_duration_s": p.max_duration_s}
                for t, p in items]

    def delete_policy(self, token: str) -> bool:
        with self._lock:
            self._admits.pop(token, None)
            return self._policies.pop(token, None) is not None

    def usage(self, token: str, now: float | None = None) -> dict:
        """Current sliding-window consumption for one token (reference
        GetUsage): queries in the trailing minute + remaining quota."""
        t = now if now is not None else time.monotonic()
        pol = self._policy(token)
        with self._lock:
            q = self._admits.get(token, deque())
            used = sum(1 for ts in q if t - ts < 60.0)
        limit = pol.max_queries_per_minute if pol else None
        return {
            "token_masked": self._mask(token),
            "queries_last_minute": used,
            "max_queries_per_minute": limit,
            "remaining": None if limit is None else max(0, limit - used),
            "max_rows": pol.max_rows if pol else None,
            "max_duration_s": pol.max_duration_s if pol else None,
            "has_policy": token in self._policies,
        }


# ---------------------------------------------------------------------------
# A38 — query registry / cancellation via job groups
# ---------------------------------------------------------------------------

#: how a query was answered: footer metadata, a native pyarrow scan, a
#: native pyarrow GROUP BY, or a Spark job — the fixed label set of the
#: per-route query counters
ROUTES = ("native_count", "native_scan", "native_agg", "spark")


@dataclass
class QueryInfo:
    query_id: str
    sql: str
    token: str
    started_at: float
    status: str = "running"  # running | done | cancelled | error
    error: str | None = None
    finished_at: float | None = None
    rows: int | None = None
    route: str = "spark"  # one of ROUTES
    _cancel: threading.Event = field(default_factory=threading.Event, repr=False)


def collect_rows(df: DataFrame) -> tuple[list, int]:
    """The default :meth:`QueryRegistry.run` collect: Spark ``Row``s."""
    rows = df.collect()
    return rows, len(rows)


class QueryRegistry:
    """Track in-flight queries; cancel via Spark job-group interruption.

    Each executed query runs under a job group named by its query_id;
    `cancel` calls `sparkContext.cancelJobGroup`, which interrupts all of
    that query's running stages across the cluster.

    Finished queries (done/error/cancelled/timeout) move from the active
    map to a bounded RING BUFFER (reference queryregistry/registry.go:55
    Complete/Fail/TimedOut → addToHistory, default capacity 100), so the
    registry's memory is O(active + history_size) no matter how many
    queries a long-lived server executes between prunes."""

    def __init__(self, spark: SparkSession, history_size: int = 100):
        from collections import deque

        self.spark = spark
        self._queries: dict[str, QueryInfo] = {}
        self._history: "deque[QueryInfo]" = deque(maxlen=history_size)
        self._lock = threading.Lock()
        # monotonic totals over every entry that ever entered the ring
        # (/metrics counters must not drop when the ring evicts)
        self._status_totals: dict[str, int] = {}
        self._route_totals = dict.fromkeys(ROUTES, 0)
        self._seconds_total = 0.0

    def _to_history(self, info: QueryInfo) -> None:
        """Append a finished entry to the ring and count it; caller holds
        ``_lock``."""
        self._history.append(info)
        self._status_totals[info.status] = (
            self._status_totals.get(info.status, 0) + 1)
        self._route_totals[info.route] += 1
        self._seconds_total += info.finished_at - info.started_at

    def totals(self) -> tuple[dict[str, int], float]:
        """(finished queries per status, their summed seconds) since start."""
        with self._lock:
            return dict(self._status_totals), self._seconds_total

    def route_totals(self) -> dict[str, int]:
        """Finished queries per route (every label of :data:`ROUTES`)."""
        with self._lock:
            return dict(self._route_totals)

    def list(self) -> list[QueryInfo]:
        """Active queries followed by retained history (oldest first) —
        the pre-ring behavior consumers expect from one flat listing."""
        with self._lock:
            return list(self._history) + list(self._queries.values())

    def active(self) -> list[QueryInfo]:
        with self._lock:
            return [i for i in self._queries.values()
                    if i.status == "running"]

    def history(self) -> list[QueryInfo]:
        """Finished queries, most recent first (reference GetHistory)."""
        with self._lock:
            return list(reversed(self._history))

    def get(self, query_id: str) -> QueryInfo | None:
        """Active first, then history (reference GetQuery)."""
        info = self._queries.get(query_id)
        if info is not None:
            return info
        with self._lock:
            for i in self._history:
                if i.query_id == query_id:
                    return i
        return None

    def _transition(self, info: QueryInfo, from_: str, to: str) -> bool:
        """Move a live entry's status ``from_`` → ``to`` under ``_lock``;
        False when another outcome already won. The only writer of a
        live entry's status, so run(), the watchdog and cancel() agree
        on exactly one outcome."""
        with self._lock:
            if info.status != from_:
                return False
            info.status = to
            return True

    def cancel(self, query_id: str) -> bool:
        with self._lock:
            info = self._queries.get(query_id)
        if info is None or not self._transition(info, "running",
                                                "cancelled"):
            return False
        info._cancel.set()
        self.spark.sparkContext.cancelJobGroup(query_id)
        return True

    def record_instant(self, sql: str, token: str = "",
                       rows: int | None = None,
                       route: str = "native_scan") -> None:
        """History entry for a query answered WITHOUT a Spark job (native
        metadata COUNT/MIN/MAX, fast-scan serving, native GROUP BY; the
        ``route`` says which): done-instantly, never in the active map —
        so GetHistory shows every query the server answered, matching
        the reference registry's completeness."""
        now = time.time()
        info = QueryInfo(query_id=uuid.uuid4().hex[:16], sql=sql,
                         token=token, started_at=now, status="done",
                         finished_at=now, rows=rows, route=route)
        with self._lock:
            self._to_history(info)

    def run(
        self,
        df: DataFrame,
        sql: str = "",
        token: str = "",
        collect=collect_rows,
        timeout_s: float | None = None,
    ):
        """Execute under a registered, cancellable job group.

        collect: ``df → (result, row count)``; it runs inside the
        duration-cap window, so a wire encode counts against the cap, and
        the history records the result's rows whatever its format.

        timeout_s: max duration (governance A37) — a watchdog timer cancels
        the job group when exceeded, interrupting all of the query's stages
        (the Spark analogue of the reference's context.WithTimeout around
        DuckDB, query.go:1804-1814)."""
        qid = uuid.uuid4().hex[:16]
        info = QueryInfo(query_id=qid, sql=sql, token=token, started_at=time.time())
        with self._lock:
            self._queries[qid] = info
        sc = self.spark.sparkContext
        sc.setJobGroup(qid, sql[:200] or qid, interruptOnCancel=True)
        watchdog: threading.Timer | None = None
        if timeout_s is not None:
            def _expire() -> None:
                if not self._transition(info, "running", "timeout"):
                    return
                # cancelJobGroup only interrupts jobs that are ALREADY
                # submitted; a cancel landing while the driver is still
                # planning/launching is a no-op and the job submitted a
                # moment later runs to completion. Re-issue the cancel
                # until the query thread observes the timeout (bounded;
                # the loop exits as soon as run() reaches its finally).
                while info.finished_at is None:
                    sc.cancelJobGroup(qid)
                    time.sleep(0.2)

            watchdog = threading.Timer(timeout_s, _expire)
            watchdog.daemon = True
            watchdog.start()
        try:
            try:
                result, n_rows = collect(df)
            except Exception as exc:
                if self._transition(info, "running", "error"):
                    info.error = str(exc)[:500]
                    raise
                failure = exc
            else:
                if self._transition(info, "running", "done"):
                    info.rows = n_rows
                    return result
                failure = None
            # the watchdog or a cancel won, even if the result is here:
            # the query fails the way its history records it (reference
            # context.WithTimeout)
            if info.status == "timeout":
                raise QueryTimeout(
                    f"query {qid} exceeded max duration {timeout_s}s"
                ) from failure
            raise QueryCancelled(f"query {qid} was cancelled") from failure
        finally:
            if watchdog is not None:
                watchdog.cancel()
            info.finished_at = time.time()
            sc.setJobGroup("", "")
            # finished → ring buffer; the active map holds only live work
            with self._lock:
                self._queries.pop(qid, None)
                self._to_history(info)

    def prune(self, keep_s: float = 3600.0) -> None:
        """Age-prune the history ring (capacity already bounds it; this
        drops stale entries early on quiet servers)."""
        cutoff = time.time() - keep_s
        with self._lock:
            kept = [i for i in self._history
                    if (i.finished_at or 0) > cutoff]
            self._history.clear()
            self._history.extend(kept)
