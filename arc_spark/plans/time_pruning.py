"""Derived partition filters from time predicates.

Reference: A2 partition pruner (/root/reference/internal/pruning/
partition_pruner.go:448-676) — 1205 lines of regex time-range extraction and
path-list generation. The Spark translation is one derived predicate:
measurements are stored hive-partitioned as ``year=/month=/day=/hour=``
(sources/writer.py), so a ``time`` range maps to an arithmetic predicate
over the partition columns, which Catalyst evaluates against partition
values at file-listing time — no data files outside the range are opened,
exactly like the reference's path generation but without any path math.

The partition tuple is encoded as ``((year*100+month)*100+day)*100+hour``,
a single monotonic long; range bounds floor/ceil to the containing hour.
The original row-level ``time`` predicate stays in place — partition
pruning is a coarse file skip, the row filter is exact.

Two surfaces:
- :func:`time_range` — DataFrame path: explicit bounds → row filter +
  derived partition predicate.
- :func:`prune_sql` — SQL path (the reference's main read path): walk the
  query's OPTIMIZED plan for per-scan time bounds (pushdown has already
  placed each filter at its scan, so OR/NOT/join attribution is
  structural), temporarily re-register affected measurement views with the
  derived predicate, re-parse, restore. Used by ``QueryService.plan``,
  the Spark route of ``QueryService.execute`` (which every SQL surface,
  the GET measurement route included, runs through).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PARTITION_COLS = ("year", "month", "day", "hour")


def _encode(t: dt.datetime) -> int:
    return ((t.year * 100 + t.month) * 100 + t.day) * 100 + t.hour


def _encoded_col() -> Column:
    y, m, d, h = (F.col(c) for c in PARTITION_COLS)
    return ((y * 100 + m) * 100 + d) * 100 + h


def derived_partition_predicate(
    lo: dt.datetime | None = None, hi: dt.datetime | None = None
) -> Column | None:
    """Partition-column predicate equivalent to ``lo <= time <= hi``
    (hour-granular: bounds widen to the containing hour).

    Emits TWO redundant conjuncts: a day-granular one over (year, month,
    day) and the hour-granular one over all four columns. On the hot tier
    all four are partition columns and both push as partition filters; on
    the daily tier (operators/compaction.compact_day) ``hour`` is an
    in-file column, so the day conjunct still prunes partitions while the
    hour conjunct degrades gracefully to a row-group-stat filter."""
    y, m, d = (F.col(c) for c in PARTITION_COLS[:3])
    day_enc = (y * 100 + m) * 100 + d
    enc = _encoded_col()
    pred: Column | None = None
    if lo is not None:
        day_lo = (lo.year * 100 + lo.month) * 100 + lo.day
        pred = (day_enc >= day_lo) & (enc >= _encode(lo))
    if hi is not None:
        day_hi = (hi.year * 100 + hi.month) * 100 + hi.day
        p2 = (day_enc <= day_hi) & (enc <= _encode(hi))
        pred = p2 if pred is None else (pred & p2)
    return pred


# ---------------------------------------------------------------------------
# SQL-surface pruning: derive partition predicates from a query's own
# time-range filters (reference partition_pruner.go:448-676 — there a regex
# over the SQL string; here a walk of Catalyst's *optimized* plan, where
# pushdown has already placed each filter directly above its scan, so OR /
# NOT / join ambiguity is structural, not guessed).
# ---------------------------------------------------------------------------

_CMP_NODES = {"GreaterThan", "GreaterThanOrEqual", "LessThan", "LessThanOrEqual", "EqualTo"}
_TS_TYPES = {"TimestampType$", "TimestampNTZType$"}


def _jwalk(p):
    yield p
    for i in range(p.children().size()):
        yield from _jwalk(p.children().apply(i))


def _jconjuncts(e):
    if e.getClass().getSimpleName() == "And":
        yield from _jconjuncts(e.left())
        yield from _jconjuncts(e.right())
    else:
        yield e


def _scan_root_paths(scan_rel) -> list[str]:
    fi = scan_rel.scan().fileIndex()
    return [str(fi.rootPaths().apply(i)) for i in range(fi.rootPaths().size())]


def _literal_us(lit) -> int | None:
    if lit.getClass().getSimpleName() != "Literal":
        return None
    if lit.dataType().getClass().getSimpleName() not in _TS_TYPES:
        return None
    v = lit.value()
    return int(v) if v is not None else None


def plan_time_bounds(df, time_col: str = "time") -> dict[str, tuple[int | None, int | None]]:
    """Per-scan time bounds from a DataFrame's optimized plan.

    Returns ``{scan_root_path: (lo_us, hi_us)}`` (inclusive epoch-µs bounds,
    either side may be None) for every parquet scan that sits directly under
    a Filter whose subtree contains exactly ONE scan — the shape pushdown
    produces for a pushable per-table predicate. Bounds come only from
    top-level conjuncts comparing the scan's own ``time`` attribute to a
    timestamp literal, so predicates under OR/NOT (non-prunable) are never
    misread. Scans seen without bounds map to (None, None)."""
    opt = df._jdf.queryExecution().optimizedPlan()
    out: dict[str, tuple[int | None, int | None]] = {}
    visited_scans: set[int] = set()

    def note(path: str, lo: int | None, hi: int | None) -> None:
        """Merge one scan reference's bounds into the per-path entry.

        The caller applies ONE predicate per view, so multiple references
        to the same path (UNION ALL branches, self-joins) must merge as a
        UNION of their ranges: lo = min of los, hi = max of his, and an
        unbounded side anywhere makes that side unbounded. Never overwrite
        — an overwrite would prune one branch's range away from another
        branch (wrong results, silently)."""
        if path not in out:
            out[path] = (lo, hi)
            return
        plo, phi = out[path]
        nlo = None if (lo is None or plo is None) else min(lo, plo)
        nhi = None if (hi is None or phi is None) else max(hi, phi)
        out[path] = (nlo, nhi)

    def scans_in(p):
        return [n for n in _jwalk(p)
                if n.getClass().getSimpleName() == "DataSourceV2ScanRelation"]

    for node in _jwalk(opt):
        if node.getClass().getSimpleName() != "Filter":
            continue
        scans = scans_in(node)
        if len(scans) != 1:
            continue
        scan = scans[0]
        visited_scans.add(scan.hashCode())
        time_ids = {
            scan.output().apply(i).exprId().id()
            for i in range(scan.output().size())
            if scan.output().apply(i).name() == time_col
        }
        lo = hi = None
        for c in _jconjuncts(node.condition()):
            nm = c.getClass().getSimpleName()
            if nm not in _CMP_NODES:
                continue
            l, r = c.left(), c.right()

            def is_time_attr(e):
                return (e.getClass().getSimpleName() == "AttributeReference"
                        and e.exprId().id() in time_ids)

            if is_time_attr(l):
                v = _literal_us(r)
                if v is None:
                    continue
                op = nm
            elif is_time_attr(r):
                v = _literal_us(l)
                if v is None:
                    continue
                # mirror: lit < time  ≡  time > lit
                op = {"GreaterThan": "LessThan", "GreaterThanOrEqual": "LessThanOrEqual",
                      "LessThan": "GreaterThan", "LessThanOrEqual": "GreaterThanOrEqual",
                      "EqualTo": "EqualTo"}[nm]
            else:
                continue
            if op in ("GreaterThan", "GreaterThanOrEqual"):
                b = v + 1 if op == "GreaterThan" else v
                lo = b if lo is None else max(lo, b)
            elif op in ("LessThan", "LessThanOrEqual"):
                b = v - 1 if op == "LessThan" else v
                hi = b if hi is None else min(hi, b)
            else:  # EqualTo
                lo = v if lo is None else max(lo, v)
                hi = v if hi is None else min(hi, v)
        for p in _scan_root_paths(scan):
            note(p, lo, hi)
    # any scan NOT visited via a single-scan Filter is an unbounded
    # reference to its path — it must widen the merged entry to
    # (None, None), not be shadowed by a bounded sibling reference
    for scan in scans_in(opt):
        if scan.hashCode() in visited_scans:
            continue
        for p in _scan_root_paths(scan):
            note(p, None, None)
    return out


def _us_to_local(us: int, tz_name: str, ntz: bool = False) -> dt.datetime:
    """Epoch-µs → calendar fields as Spark's year()/month()/... see them
    (session time zone for LTZ; literal fields for NTZ)."""
    base = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(microseconds=us)
    if ntz:
        return base.replace(tzinfo=None)
    try:
        from zoneinfo import ZoneInfo

        return base.astimezone(ZoneInfo(tz_name)).replace(tzinfo=None)
    except Exception:
        return base.replace(tzinfo=None)


def prune_sql(spark, sql: str, catalog, time_col: str = "time"):
    """spark.sql(sql) with SQL-surface partition pruning over registered
    measurements (the reference's flagship read-path behavior, A2).

    Walks the query's optimized plan for per-scan time bounds, re-registers
    each affected measurement view with the derived year/month/day/hour
    predicate applied, re-parses, and restores the views. Returns the
    (possibly pruned) DataFrame; on any extraction failure returns the plain
    ``spark.sql(sql)`` plan — pruning is an optimization, never a gate.

    Repeat queries hit a pruned-plan LRU (the reference's A9 SQL transform
    cache, internal/api/query.go): the parse → bound-extract →
    re-register → re-parse pipeline runs once per (sql, catalog state).
    The key includes ``catalog.epoch``, which ``register`` bumps whenever
    it rebuilds a view over a new owner or a new commit (readers bind
    their views before calling this), and ``invalidate`` bumps too; so a
    cached plan over a replaced view can never be served. DataFrames are
    immutable logical plans — re-executing one is exactly re-running the
    query.
    """
    epoch = getattr(catalog, "epoch", None)
    if epoch is None:
        return _prune_sql_uncached(spark, sql, catalog, time_col)
    cache = getattr(catalog, "_prune_plan_cache", None)
    if cache is None:
        from collections import OrderedDict

        cache = catalog._prune_plan_cache = OrderedDict()
    stats = getattr(catalog, "_prune_cache_stats", None)
    if stats is None:
        stats = catalog._prune_cache_stats = {"hits": 0, "misses": 0}
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    key = (sql, time_col, epoch, tz)
    hit = cache.get(key)
    if hit is not None:
        cache.move_to_end(key)
        stats["hits"] += 1
        return hit
    stats["misses"] += 1
    df = _prune_sql_uncached(spark, sql, catalog, time_col)
    cache[key] = df
    while len(cache) > 256:
        cache.popitem(last=False)
    return df


def _prune_sql_uncached(spark, sql: str, catalog, time_col: str = "time"):
    df = spark.sql(sql)
    try:
        per_path = plan_time_bounds(df, time_col=time_col)
    except Exception:
        return df
    if not per_path:
        return df
    # path → (db, measurement); widen bounds per measurement, and drop any
    # measurement that also appears without bounds (full-scan ref exists)
    per_meas: dict[tuple[str, str], tuple[int | None, int | None] | None] = {}
    for path, (lo, hi) in per_path.items():
        m = catalog.measurement_for_path(path)
        if m is None:
            continue
        if lo is None and hi is None:
            per_meas[m] = None
            continue
        if m in per_meas:
            prev = per_meas[m]
            if prev is None:
                continue
            plo, phi = prev
            lo = None if (lo is None or plo is None) else min(lo, plo)
            hi = None if (hi is None or phi is None) else max(hi, phi)
            per_meas[m] = (lo, hi) if (lo is not None or hi is not None) else None
        else:
            per_meas[m] = (lo, hi)
    targets = {m: b for m, b in per_meas.items() if b is not None}
    if not targets:
        return df
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    # Override each affected view with `view.filter(partition_pred)` built
    # from the view's OWN pinned plan (spark.table) — no re-listing, no
    # footer re-merge; restore the captured original plans afterwards.
    restore: list[tuple[str, object]] = []
    try:
        for (db, meas), (lo, hi) in targets.items():
            for name in catalog.views_for(db, meas):
                base = spark.table(name)
                if not all(c in base.columns for c in PARTITION_COLS):
                    continue
                ntz = dict(base.dtypes).get(time_col) == "timestamp_ntz"
                pred = derived_partition_predicate(
                    _us_to_local(lo, tz, ntz) if lo is not None else None,
                    _us_to_local(hi, tz, ntz) if hi is not None else None,
                )
                if pred is None:
                    continue
                restore.append((name, base))
                base.filter(pred).createOrReplaceTempView(name)
        if not restore:
            return df
        return spark.sql(sql)
    except Exception:
        # a dropped view, a failed re-registration, anything — pruning is
        # an optimization, never a gate: fall back to the plain plan (the
        # finally below restores whatever was already overridden)
        return df
    finally:
        for name, base in restore:
            base.createOrReplaceTempView(name)


def time_range(
    df: DataFrame,
    lo: dt.datetime | None = None,
    hi: dt.datetime | None = None,
    time_col: str = "time",
) -> DataFrame:
    """Exact time-range filter + derived partition skip.

    Use on any DataFrame read from a measurement path (which carries the
    year/month/day/hour partition columns). Rows are filtered exactly on
    ``time_col``; files are skipped coarsely via the partition predicate.
    A DataFrame without the partition columns just gets the row filter.
    """
    out = df
    if lo is not None:
        out = out.filter(F.col(time_col) >= F.lit(lo))
    if hi is not None:
        out = out.filter(F.col(time_col) <= F.lit(hi))
    if all(c in df.columns for c in PARTITION_COLS):
        pred = derived_partition_predicate(lo, hi)
        if pred is not None:
            out = out.filter(pred)
    return out
