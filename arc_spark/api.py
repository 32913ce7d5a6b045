"""Service facades: the reference's two HTTP surfaces as engine objects.

- :class:`QueryService` — POST /api/v1/query lifecycle
  (/root/reference/internal/api/query.go:1396-1935, SURVEY §3.1) minus the
  wire: governance admit → read-only validation → RBAC table check →
  catalog-resolved execution under a cancellable job group → row cap →
  JSON / Arrow IPC / columnar MessagePack serialization. An HTTP layer
  (any framework) calls ``execute`` per request.
- :class:`IngestService` — POST /api/v1/write lifecycle (SURVEY §3.3):
  decode → WAL append (the ACK point — durability is decoupled from
  flush latency, the reference's central ingest design) → in-memory
  Arrow buffer → size/age-triggered flush through the hour-partitioned
  writer. ``recover()`` replays the WAL after a crash.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession

import threading

from arc_spark import snapshots
from arc_spark.catalog import MeasurementCatalog, validate_identifier
from arc_spark.governance import Governor, QueryRegistry, collect_rows
from arc_spark.plans.time_pruning import prune_sql
from arc_spark.plans.validator import (
    SqlValidationError,
    extract_tables,
    plan_tree_string,
    validate_read_only,
)
from arc_spark.serving import encode


class AccessDeniedError(Exception):
    """RBAC denial (reference A11). Distinct from builtin PermissionError,
    which the engine reserves for OS-level filesystem failures."""


# backwards-compat alias for pre-r3 importers
PermissionError_ = AccessDeniedError


def _lp_byte_ranges(payload: bytes, n: int) -> list[tuple[int, int]]:
    """(offset, length) byte ranges covering `payload`, newline-snapped:
    seek forward from each approximate cut to the next newline (O(n)
    scans, not O(bytes)). Bulk LP enters the decode-write kernel as one
    chunk entry per range."""
    bounds = [0]
    step = max(1, len(payload) // n)
    for i in range(1, n):
        pos = payload.find(b"\n", i * step)
        if pos == -1:
            break
        if pos + 1 > bounds[-1]:
            bounds.append(pos + 1)
    bounds.append(len(payload))
    return [(off, end - off)
            for off, end in zip(bounds, bounds[1:]) if end > off]


def _measurement_ok(meas: str) -> bool:
    """Post-decode name check: a path-shaped measurement name is skipped
    (and reported) rather than raised, so one bad name cannot fail a
    whole executor job or wedge the flush retry loop."""
    try:
        validate_identifier(meas, "measurement")
        return True
    except ValueError:
        return False


def decode_entry(kind: str, payload) -> dict[str, dict]:
    """One ingest payload → {measurement: columnar batch}, empty batches
    dropped. ``kind`` is ``"msgpack"`` or ``"lp[:precision]"`` (the tag
    deferred payloads carry); line protocol splits per measurement and
    skips malformed lines. The one decode dispatch of the deferred flush,
    the distributed drain and bulk LP."""
    if kind.startswith("lp"):
        from arc_spark.sources.line_protocol import parse_chunk_columnar

        precision = kind.split(":")[1] if ":" in kind else "ns"
        # bulk LP chunks are memoryview slices of one payload: bytes()
        # copies the chunk inside the worker, and is free on bytes
        per_meas = parse_chunk_columnar(bytes(payload), precision)
        return {m: b for m, b in per_meas.items() if b["columns"]}
    from arc_spark.sources.ingest import decode_msgpack_payload

    batch = decode_msgpack_payload(payload)
    if not batch["columns"]:
        return {}
    return {batch.get("measurement") or "default": batch}


def _decode_write(root: str, db: str, entries, decimal_config: dict,
                  sort_keys_cfg: dict) -> list[tuple]:
    """The bulk decode-and-write kernel: decode ``(kind, bytes)`` entries,
    merge each measurement's batches and write them as hour-partitioned
    Parquet, uncommitted (``manifest=False``; :meth:`IngestService.
    _publish` commits). Runs on local threads and inside Spark tasks.

    Returns ``(measurement, rows, tag_columns, files)`` per measurement,
    ``files`` relative to the measurement path. A measurement whose name
    fails :func:`validate_identifier` is not written and comes back with
    ``files`` None: bulk LP rejects the payload, the drain drops it."""
    from arc_spark.sources.ingest import columnar_to_arrow, merge_batches
    from arc_spark.sources.writer import write_measurement_arrow

    by_meas: dict[str, list[dict]] = {}
    for kind, payload in entries:
        for meas, batch in decode_entry(kind, payload).items():
            by_meas.setdefault(meas, []).append(batch)
    out = []
    for meas, batches in by_meas.items():
        if not _measurement_ok(meas):
            out.append((meas, 0, [], None))
            continue
        decimals = decimal_config.get(meas)
        # merge_batches, not a plain concat: an all-null column in one
        # payload (string by inference) must merge with a sibling
        # payload's real type exactly as on the buffered flush path
        table = merge_batches([columnar_to_arrow(b, decimal_columns=decimals)
                               for b in batches])
        tags = sorted({c for b in batches for c in (b.get("tag_columns") or [])})
        files: list[str] = []
        write_measurement_arrow(table, root, db, meas, tag_columns=tags,
                                sort_keys=sort_keys_cfg.get(meas),
                                manifest=False, written_out=files)
        out.append((meas, table.num_rows, tags, files))
    return out


# literal shapes BOTH the plan grammar below and Spark's string→timestamp cast
# accept: dashed date, optional time, optional offset. Python 3.11's
# fromisoformat alone is WIDER than Spark (compact '20240115', week
# dates '2024-W03-1') — serving those natively while Spark casts them
# to NULL would return different rows per path (r8 review finding)
_TR_LIT_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}"
    r"([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?"
    r"(Z|[+-]\d{2}:?\d{2})?)?$")


def _parse_ts_literal(lit: str) -> int | None:
    """Epoch µs for an ISO literal, with Spark's string→timestamp cast
    semantics in the session's UTC zone: naive literals are UTC, offsets
    convert. Parse failures — and any form outside the Spark∩Python ISO
    intersection — return None (→ Spark path, which serves the
    cast-to-NULL / analysis-error semantics itself)."""
    import datetime as _dt

    lit = lit.strip()
    if not _TR_LIT_RE.match(lit):
        return None
    try:
        dt = _dt.datetime.fromisoformat(lit)
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_dt.timezone.utc)
    # integer arithmetic: float64 epoch seconds lose µs past 2^31 s
    # (verified: a 2038 literal came back 1 µs short via timestamp())
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (dt - epoch) // _dt.timedelta(microseconds=1)


def _combine_time_atoms(atoms: list[tuple[str, int]]):
    """(op, µs) atoms → TimeRange: the strictest lower bound (larger
    instant; exclusive on a tie) and the strictest upper bound win."""
    from arc_spark.catalog import TimeRange

    lo: tuple[int, bool] | None = None   # (µs, inclusive)
    hi: tuple[int, bool] | None = None
    for op, us in atoms:
        if op in (">", ">="):
            cand = (us, op == ">=")
            if lo is None or cand[0] > lo[0] or (cand[0] == lo[0]
                                                 and not cand[1]):
                lo = cand
        else:
            cand = (us, op == "<=")
            if hi is None or cand[0] < hi[0] or (cand[0] == hi[0]
                                                 and not cand[1]):
                hi = cand
    if lo is None and hi is None:
        return None
    return TimeRange(
        lo_us=lo[0] if lo else None, lo_incl=lo[1] if lo else True,
        hi_us=hi[0] if hi else None, hi_incl=hi[1] if hi else True)


# parsed-plan Filter-condition grammar (the SQL serving fast path):
#   node := atom | between | "(" node " AND " node ")"
# Catalyst prints conjunctions BINARY-NESTED with wrapping parens and
# literals bare, so requiring (a) paren/comma-free literals inside
# atoms, (b) exactly matching outer parens, and (c) exactly one
# top-level " AND " per level makes literal injection structurally
# impossible: a crafted string literal that mimics the printed shape
# must reintroduce a paren or comma (fails the atom) or break the
# outer-paren matching (fails the node) — either way → Spark path,
# which serves the cast-to-NULL semantics itself.
_PLAN_ATOM_RE = re.compile(r"(?is)^\('time (>=|<=|>|<) ([^(),]*)\)$")
_PLAN_BETWEEN_RE = re.compile(
    r"(?is)^'between\('time, ([^(),]*), ([^(),]*)\)$")


def _plan_cond_timerange(cond: str):
    """TimeRange from a PARSED-plan Filter condition's printed form,
    else None (→ full Spark execution)."""

    def walk(s: str) -> list[tuple[str, int]] | None:
        m = _PLAN_ATOM_RE.match(s)
        if m:
            us = _parse_ts_literal(m.group(2))
            return None if us is None else [(m.group(1), us)]
        m = _PLAN_BETWEEN_RE.match(s)
        if m:
            lo = _parse_ts_literal(m.group(1))
            hi = _parse_ts_literal(m.group(2))
            if lo is None or hi is None:
                return None
            return [(">=", lo), ("<=", hi)]
        if not (s.startswith("(") and s.endswith(")")):
            return None
        depth = 0
        for i, ch in enumerate(s):
            depth += (ch == "(") - (ch == ")")
            if depth == 0 and i < len(s) - 1:
                return None  # outer parens don't match each other
        inner = s[1:-1]
        depth = 0
        split = None
        for i, ch in enumerate(inner):
            depth += (ch == "(") - (ch == ")")
            if depth == 0 and inner.startswith(" AND ", i):
                if split is not None:
                    return None  # Catalyst prints binary ANDs only
                split = i
        if split is None:
            return None
        a = walk(inner[:split])
        b = walk(inner[split + 5:])
        if a is None or b is None:
            return None
        return a + b

    atoms = walk(cond.strip())
    return _combine_time_atoms(atoms) if atoms else None


# The native routes' parsed-plan grammar. A native query reads ONE
# relation, optionally through a Filter whose condition is a pure time
# range (:func:`_plan_cond_timerange`); the nodes above that source decide
# the route (:meth:`QueryService._native_source`).
_PLAN_RELATION_RE = re.compile(
    r"^'UnresolvedRelation \[([^\]]+)\], \[\], false$")
# one expression of a Project/Aggregate list: COUNT(1) (COUNT(*) parses
# as COUNT(1)), SUM/AVG/MIN/MAX of a bare column, date_trunc('<unit>',
# <column>) or a bare column. Literals print unquoted, so every token is
# anchored and must cover the whole list: an injected literal breaks
# the coverage and the query goes to Spark.
_PLAN_EXPR_RE = re.compile(
    r"'(?:(?P<fn>(?i:count|sum|avg|min|max))"
    r"\((?:(?P<one>1)|'(?P<arg>[A-Za-z_]\w*))\)"
    r"|(?i:date_trunc)\((?P<unit>\w+), '(?P<tcol>[A-Za-z_]\w*)\)"
    r"|(?P<col>[A-Za-z_]\w*))")
_PLAN_ALIAS_RE = re.compile(r" AS ([A-Za-z_]\w*)#\d+")
_PLAN_AGGREGATE_RE = re.compile(r"^'Aggregate \[(.*?)\], \[(.*)\]$")
#: Spark's date_trunc unit spellings → pyarrow floor_temporal units
_TRUNC_UNITS = {
    "year": "year", "yyyy": "year", "yy": "year", "quarter": "quarter",
    "month": "month", "mon": "month", "mm": "month", "week": "week",
    "day": "day", "dd": "day", "hour": "hour", "minute": "minute",
    "second": "second"}


# a quoted run (backquoted identifier or string literal), a comment
# opener, or an unclosed quote
_SQL_QUOTED_RE = re.compile(r"`[^`]*`|'[^']*'|\"[^\"]*\"|--|/\*|['\"`]")


def _plain_literals(sql: str) -> bool:
    """True when no string literal of ``sql`` holds a quote or a
    backslash. The parsed plan prints a string literal bare, so a literal
    whose value starts with a quote (``'\\'host'``, ``"'count(1)"``)
    prints exactly like a column or an aggregate; every native detector
    requires this first. Adjacent quoted runs (``'a''b'``), comments and
    unclosed quotes fail closed."""
    end = -1
    for m in _SQL_QUOTED_RE.finditer(sql):
        tok = m.group()
        if tok in ("--", "/*") or len(tok) == 1:
            return False
        if tok[0] != "`" and (m.start() == end or "\\" in tok
                              or ('"' if tok[0] == "'" else "'") in tok):
            return False
        end = m.end()
    return True


def _plan_expr(m: re.Match) -> tuple | None:
    """A matched :data:`_PLAN_EXPR_RE` token → ``(kind, column)``
    (``("count", None)`` for COUNT(1)) or ``("date_trunc", column,
    unit)``; None outside the grammar (COUNT(col), SUM(1), an unknown
    unit)."""
    if m.group("col"):
        return ("col", m.group("col"))
    if m.group("tcol"):
        if m.group("unit").lower() not in _TRUNC_UNITS:
            return None
        return ("date_trunc", m.group("tcol"), m.group("unit"))
    fn = m.group("fn").lower()
    if (fn == "count") != bool(m.group("one")):
        return None
    return (fn, m.group("arg"))


def _plan_items(text: str, named: bool) -> list | None:
    """A printed expression list → ``[(expr, alias | None), ...]``
    (:func:`_plan_expr` shapes), or None when any item is outside the
    grammar. ``named``: a select list, whose unnamed expressions print
    as ``unresolvedalias(...)`` and named ones as ``... AS name#id``;
    a GROUP BY list has neither."""
    items: list = []
    pos = 0
    while pos < len(text):
        if items:
            if not text.startswith(", ", pos):
                return None
            pos += 2
        wrapped = named and text.startswith("unresolvedalias(", pos)
        if wrapped:
            pos += len("unresolvedalias(")
        m = _PLAN_EXPR_RE.match(text, pos)
        expr = _plan_expr(m) if m else None
        if expr is None:
            return None
        pos = m.end()
        alias = None
        if wrapped:
            if not text.startswith(")", pos):
                return None
            pos += 1
        elif named:
            a = _PLAN_ALIAS_RE.match(text, pos)
            if a:
                alias, pos = a.group(1), a.end()
        items.append((expr, alias))
    return items


def _plan_name(expr: tuple, alias: str | None) -> str:
    """The output column name Spark gives a select item."""
    if alias is not None:
        return alias
    if expr[0] == "col":
        return expr[1]
    if expr[0] == "date_trunc":
        return f"date_trunc({expr[2]}, {expr[1]})"
    return f"{expr[0]}({expr[1] or 1})"


#: size gate of the native_agg route: above this many input rows (the
#: pruned files' footer total) the query runs on Spark. The measured
#: crossover of server CPU per query (Spark local[2], 8 000-row hour
#: files, both dashboard shapes, median of 5): at 1.0M rows native 70-80
#: ms vs Spark 140 ms, at 1.5M 80-130 vs 110-130 ms, at 2M per-host
#: native 130 vs Spark 70 ms.
NATIVE_AGG_MAX_ROWS = 1_500_000


def _spark_collect(fmt: str):
    """The ``QueryRegistry.run`` collect for one wire format: ``rows``
    stay ``df.collect()``; every other format encodes the result's Arrow
    table through the same :func:`serving.encode` the native paths use."""
    if fmt == "rows":
        return collect_rows

    def collect(df):
        table = df.toArrow()
        return encode(table, fmt), table.num_rows

    return collect


class QueryService:
    def __init__(
        self,
        spark: SparkSession,
        catalog: MeasurementCatalog,
        governor: Governor | None = None,
        allowed_tables: dict[str, set[str]] | None = None,
        rbac=None,
        token_info_fn=None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.governor = governor or Governor()
        self.registry = QueryRegistry(spark)
        # token → set of "db.measurement" (None entry = all); RBAC check is
        # plan-walk table extraction, not regex (reference A11)
        self.allowed_tables = allowed_tables or {}
        # hierarchical RBAC (reference query.go:1230-1305 checkQueryRBAC):
        # rbac is an rbac.RBACStore; token_info_fn maps a plaintext token
        # to AuthStore.verify()-shaped info (None = unknown → the HTTP
        # auth layer already rejected it, so the engine-side check skips)
        self.rbac = rbac
        self.token_info_fn = token_info_fn
        self._plan_lock = threading.Lock()

    def _check_rbac(self, token: str, sql: str, db: str | None = None,
                    permission: str = "read") -> None:
        refs = None
        if token in self.allowed_tables:
            allowed = self.allowed_tables[token]
            refs = extract_tables(self.spark, sql)
            for ref in refs:
                name = ".".join(ref)
                if name not in allowed and ref[-1] not in allowed:
                    raise AccessDeniedError(f"token lacks access to {name}")
        # hierarchical org/team/role check (reference checkQueryRBAC):
        # every table ref needs `permission` on the (database, measurement)
        # it reads — resolved by _resolve_ref, the resolver the native
        # routes and the Spark route's view binding use, so the check
        # can never name a different table than the one served. A ref
        # it cannot resolve is checked against its qualifier, else the
        # request-scoped db (the x-arc-database override the reference
        # applies to close the header-bypass), else "default".
        if self.rbac is None or not self.rbac.enabled:
            return
        info = self.token_info_fn(token) if self.token_info_fn else None
        if info is None:
            return  # no token identity → HTTP layer owns the decision
        if refs is None:
            refs = extract_tables(self.spark, sql)
        if not refs:
            return
        reqs = []
        for ref in refs:
            pair = self._resolve_ref(ref, db) or (
                (ref[0], ref[-1]) if len(ref) >= 2
                else (db or "default", ref[0]))
            reqs.append((info, pair[0], pair[1], permission))
        for req, res in zip(reqs, self.rbac.check_permissions_batch(reqs)):
            if not res["allowed"]:
                raise AccessDeniedError(
                    f"access denied: no {permission} permission for"
                    f" {req[1]}.{req[2]}")

    def register_measurement(self, db: str, measurement: str, view: str | None = None) -> str:
        return self.catalog.register(db, measurement, view)

    def _resolve_ref(self, ref, db: str | None) -> tuple[str, str] | None:
        """The (db, measurement) a parsed table ref reads — the one
        resolver behind RBAC, the native routes and the Spark route's
        view binding (:meth:`_bind`).

        Scoped to ``db`` (x-arc-database): a one-part name that is a
        measurement of ``db`` resolves to it straight from storage — no
        view needed; any other one-part name resolves only to a catalog
        view of that name that reads a measurement of ``db``, never to
        another database's; multi-part refs resolve to None (the Spark
        route rejects them). Unscoped: a one-part name resolves only
        through the catalog view of that name, and ``x.y`` to
        measurement ``y`` of database ``x`` (or to the view ``y`` when
        it reads a measurement of ``x``)."""
        if len(ref) == 1:
            if db is None:
                return self.catalog.view_binding(ref[0])
            if ref[0] in self.catalog.measurements(db):
                return (db, ref[0])
            key = self.catalog.view_binding(ref[0])
            return key if key is not None and key[0] == db else None
        if len(ref) == 2 and db is None:
            if ref[1] in self.catalog.measurements(ref[0]):
                return (ref[0], ref[1])
            key = self.catalog.view_binding(ref[1])
            return key if key is not None and key[0] == ref[0] else None
        return None

    def _bind(self, sql: str, db: str | None) -> None:
        """The one binder: point every one-part table ref that
        :meth:`_resolve_ref` resolves — a measurement of the scoped
        ``db``, or a catalog view name — at its measurement's latest
        committed snapshot (``catalog.register`` rebuilds the view only
        when that changed). A request scoped to ``db`` (reference
        x-arc-database) may not name ``db.table``, nor a one-part name
        that does not resolve inside ``db`` — a live view of that name
        may read another database. Caller holds ``_plan_lock``, so no
        concurrent request observes a binding, and none lands inside
        ``prune_sql``'s view override window."""
        for ref in extract_tables(self.spark, sql):
            if len(ref) >= 2:
                if db is not None:
                    raise SqlValidationError(
                        "cross-database queries (db.table) not allowed "
                        "when the request is scoped to a database")
                continue
            key = self._resolve_ref(ref, db)
            if key is not None:
                self.catalog.register(*key, view=ref[0])
            elif db is not None:
                raise SqlValidationError(
                    f"[TABLE_OR_VIEW_NOT_FOUND] The table or view "
                    f"`{ref[0]}` cannot be found in database {db!r}.")

    def plan(self, sql: str, db: str | None = None) -> DataFrame:
        """The Spark DataFrame for ``sql`` over fresh views: bind
        (:meth:`_bind`), then SQL-surface partition pruning (reference
        A2: WHERE time ranges become year/month/day/hour partition
        predicates on each measurement scan), both under ``_plan_lock``
        — the pruner's temporary view overrides must not be observable
        by a concurrent request.

        SQL Spark's analyzer rejects (an unknown column or table, a
        negative LIMIT, a missing GROUP BY, a view name it cannot bind)
        raises :class:`SqlValidationError` with Spark's
        ``[ERROR_CLASS]`` message: a client error, which the circuit
        breaker does not count. ``PATH_NOT_FOUND`` (committed files
        gone) stays an engine fault."""
        with self._plan_lock:
            try:
                self._bind(sql, db)
                return prune_sql(self.spark, sql, self.catalog)
            except AnalysisException as e:
                if e.getCondition() == "PATH_NOT_FOUND":
                    raise
                raise SqlValidationError(str(e)) from None

    _IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

    def query_measurement(
        self,
        db: str,
        measurement: str,
        where: str | None = None,
        order_by: str | None = None,
        limit: int = 1000,
        token: str = "",
        fmt: str = "rows",
        snapshot: int | None = None,
    ):
        """GET /api/v1/query/:measurement (reference A13,
        query.go:3923-4130): ``SELECT * FROM `<measurement>` [WHERE
        <where>] [ORDER BY <cols>] LIMIT <limit>`` run through
        :meth:`execute`'s body scoped to ``db`` — admission, validation,
        RBAC, route, row cap, history and encoding are the POST route's.

        ``where`` may fill only the Filter node of that statement: its
        parsed plan's main chain must be exactly GlobalLimit/LocalLimit
        ``<limit>``, the Sort when ``order_by`` is given, Project ``[*]``,
        Filter and the relation, so a ``where`` that ends the clause
        (``1=1 UNION ...``, ``1=1 ORDER BY x``) answers 400. A newline
        follows it, which ends a trailing ``--`` comment; a comment that
        runs on past it (a backslash before the newline continues a
        ``--`` comment in Spark's lexer) swallows the LIMIT and fails the
        check. The check reads the parse tree ``execute`` caches, so a
        repeated request makes no JVM call for it. ``order_by`` columns are
        bare identifiers, each optionally suffixed ASC/DESC. ``snapshot``
        pins the read to a committed version (:meth:`execute`).

        ``db`` is any single path segment ingest accepts
        (:func:`validate_identifier`; an Influx v2 bucket such as
        ``my-bucket``): unlike the POST scope it is never read from SQL
        text, so the route skips :meth:`execute`'s identifier check."""
        self.governor.admit(token)
        validate_identifier(db, "database")
        validate_identifier(measurement, "measurement")
        if "`" in measurement:
            raise SqlValidationError(f"invalid measurement {measurement!r}")
        sql = f"SELECT * FROM `{measurement}`"
        if where:
            sql += f" WHERE {where}\n"
        if order_by:
            cols = []
            for part in order_by.split(","):
                tokens = part.strip().split()
                col = tokens[0] if tokens else ""
                direction = tokens[1].upper() if len(tokens) > 1 else "ASC"
                if (len(tokens) > 2 or direction not in ("ASC", "DESC")
                        or not self._IDENT_RE.match(col)):
                    raise SqlValidationError(
                        f"invalid order_by part {part.strip()!r}")
                cols.append(f"`{col}` {direction}")
            sql += " ORDER BY " + ", ".join(cols)
        sql += f" LIMIT {int(limit)}"
        if where:
            want = [f"'GlobalLimit {int(limit)}", f"'LocalLimit {int(limit)}",
                    *(["'Sort "] if order_by else []), "'Project [*]",
                    "'Filter ", "'UnresolvedRelation "]
            spine = self._plan_spine(sql)
            # a node ending in a space is matched by its prefix
            if len(spine) != len(want) or not all(
                    s == w or (w.endswith(" ") and s.startswith(w))
                    for s, w in zip(spine, want)):
                raise SqlValidationError(f"invalid where clause {where!r}")
        return self._execute(sql, token, fmt, db, snapshot)

    def _plan_spine(self, sql: str) -> list[str]:
        """The nodes of ``sql``'s parsed plan on the chain from the root
        through each node's last child, top down: an earlier child and a
        subquery plan print with a ``:`` in their tree prefix."""
        try:
            tree = plan_tree_string(self.spark, sql)
        except ParseException as e:
            raise SqlValidationError(f"invalid where clause: {e}") from None
        spine = []
        for line in tree.splitlines():
            node = line.lstrip(" :+-")
            if node and ":" not in line[:len(line) - len(node)]:
                spine.append(node)
        return spine

    # SHOW TABLES is an alias for SHOW MEASUREMENTS; the db in FROM may be
    # quoted (reference query.go:50-58 showTablesPattern)
    _SHOW_TABLES_RE = re.compile(
        r"(?is)^\s*SHOW\s+(?:TABLES|MEASUREMENTS)"
        r"(?:\s+(?:FROM\s+)?[\"'`]?([\w.-]+)[\"'`]?)?\s*;?\s*$"
    )

    _PROJECT_LINE_RE = re.compile(r"^'Project \[(.*)\]$")

    def _resolve_relation(self, rel_text: str,
                          db: str | None) -> tuple[str, str] | None:
        """A plan relation token list → (db, measurement) through
        :meth:`_resolve_ref`; None when unresolvable (the Spark route
        then surfaces :meth:`_bind`'s error)."""
        return self._resolve_ref([p.strip() for p in rel_text.split(",")],
                                 db)

    def _plan_lines(self, sql: str) -> list[str] | None:
        """Parsed-plan treeString lines (through the process-wide parse
        LRU — validation/RBAC/shape-detect share one parse per distinct
        SQL), or None on a parse failure."""
        try:
            return [ln for ln in plan_tree_string(self.spark, sql)
                    .splitlines() if ln.strip()]
        except Exception:
            return None

    def _native_source(self, sql: str, lines: list[str] | None):
        """``(nodes above the source, relation text, TimeRange | None)``
        for a parsed plan that is one chain of nodes over ONE relation,
        optionally filtered by a pure time range — the one source
        parser of the three native detectors. None for any other source
        (a join, a subquery, a non-time predicate), or when a string
        literal of ``sql`` could print as a plan token
        (:func:`_plain_literals`)."""
        if lines is None:
            lines = self._plan_lines(sql)
        if not lines or not _plain_literals(sql):
            return None
        nodes = [ln.strip().removeprefix("+- ") for ln in lines]
        m_rel = _PLAN_RELATION_RE.match(nodes.pop())
        if m_rel is None:
            return None
        tr = None
        if nodes and nodes[-1].startswith("'Filter "):
            tr = _plan_cond_timerange(nodes.pop()[len("'Filter "):])
            if tr is None:
                return None
        return nodes, m_rel.group(1), tr

    def _native_count(self, sql: str, db: str | None,
                      lines: list[str] | None = None) -> list | None:
        """[(name, value, arrow_type), ...] when `sql` is EXACTLY a bare
        ``SELECT <COUNT(*) | MIN(col) | MAX(col), ...> FROM <one
        measurement>`` answerable from parquet footer metadata (the
        reference's ~1 ms metadata aggregates) — detected on the parsed
        plan (two nodes: Project of only those aggregates over a single
        relation; a WHERE adds a Filter node, GROUP BY parses as
        Aggregate, any other expression breaks token coverage), never by
        string matching. MIN/MAX are limited to timestamp/date/integer
        columns whose every row group carries exact stats (float stats
        can be conservative bounds like -0.0, string stats can truncate
        — those shapes run on Spark). None → run on Spark."""
        src = self._native_source(sql, lines)
        if src is None:
            return None
        nodes, rel, tr = src
        m_proj = (self._PROJECT_LINE_RE.match(nodes[0])
                  if len(nodes) == 1 and tr is None else None)
        items = _plan_items(m_proj.group(1), named=True) if m_proj else None
        if not items or any(e[0] not in ("count", "min", "max")
                            for e, _ in items):
            return None
        specs = [(e[0], e[1], _plan_name(e, alias)) for e, alias in items]
        if len({n for _, _, n in specs}) != len(specs):
            return None  # duplicate output names
        key = self._resolve_relation(rel, db)
        if key is None:
            return None
        import pyarrow as pa

        out = []
        try:
            for kind, col, name in specs:
                if kind == "count":
                    out.append((name, self.catalog.count_rows(*key),
                                pa.int64(), "count"))
                    continue
                st = self.catalog.column_stats(*key, col)
                if st is None:
                    return None  # ineligible type / missing stats
                lo, hi, col_type = st
                val = lo if kind == "min" else hi
                out.append((name, val, col_type, kind))
        except Exception:
            return None  # footer unreadable etc. — let Spark surface it
        return out

    def _serve_native_count(self, cols: list, fmt: str):
        """The 1-row result in each wire shape, schema-identical to the
        Spark path (names, types, nullability)."""
        import pyarrow as pa

        fields, arrays = [], []
        for name, v, t, kind in cols:
            if pa.types.is_timestamp(t):
                # Spark's toArrow carries the session tz
                t = pa.timestamp("us", tz="UTC")
            fields.append(pa.field(name, t, nullable=kind != "count"))
            arrays.append(pa.array([v], t))
        return encode(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                      fmt)

    _TR_GLOBAL_LIMIT_RE = re.compile(r"^'GlobalLimit (\d+)$")
    _TR_LOCAL_LIMIT_RE = re.compile(r"^'LocalLimit (\d+)$")

    def _native_timerange(self, sql: str, db: str | None,
                          lines: list[str] | None = None):
        """(key, TimeRange | None, limit) when `sql` is EXACTLY
        ``SELECT * FROM <one measurement> [WHERE <pure time range>]
        LIMIT <n>`` — the reference's "Time Range (7d) LIMIT 10K" and
        "SELECT LIMIT 10K/100K/1M" serving categories (15 / 18-105 ms
        in BASELINE) — detected on the PARSED plan like the native
        COUNT shape: GlobalLimit/LocalLimit/Project[*] over
        :meth:`_native_source`. Any other projection, an ORDER BY, a
        missing LIMIT, or any non-time predicate → None → full Spark
        execution."""
        src = self._native_source(sql, lines)
        if src is None or len(src[0]) != 3:
            return None
        nodes, rel, tr = src
        m_gl = self._TR_GLOBAL_LIMIT_RE.match(nodes[0])
        m_ll = self._TR_LOCAL_LIMIT_RE.match(nodes[1])
        if (not m_gl or not m_ll or nodes[2] != "'Project [*]"
                or m_gl.group(1) != m_ll.group(1)):
            return None
        key = self._resolve_relation(rel, db)
        if key is None:
            return None
        return key, tr, int(m_gl.group(1))

    def _native_agg(self, sql: str, db: str | None,
                    lines: list[str] | None = None):
        """(key, TimeRange | None, [(output name, expr), ...]) when `sql`
        is EXACTLY ``SELECT <group keys>, <aggregates> FROM <one
        measurement> [WHERE <pure time range>] GROUP BY <the same
        keys>`` — the dashboard's time-bucket and per-host shapes
        (reference "time-bucket 1h/7d 4.7 ms"). One Aggregate node over
        :meth:`_native_source`; a key is a bare column or
        ``date_trunc('<unit>', col)``, an aggregate COUNT(*) or
        SUM/AVG/MIN/MAX of a bare column (column types are checked at
        execution, :meth:`_native_agg_table`). HAVING, DISTINCT, ORDER
        BY, LIMIT, ordinals, aliases in GROUP BY → None → Spark."""
        src = self._native_source(sql, lines)
        if src is None or len(src[0]) != 1:
            return None
        nodes, rel, tr = src
        m = _PLAN_AGGREGATE_RE.match(nodes[0])
        groups = _plan_items(m.group(1), named=False) if m else None
        select = _plan_items(m.group(2), named=True) if m else None
        if not groups or not select:
            return None
        keys = [e for e, _ in groups]
        sel_keys = [e for e, _ in select if e[0] in ("col", "date_trunc")]
        if (len(set(keys)) != len(keys)
                or any(e[0] not in ("col", "date_trunc") for e in keys)
                or sorted(sel_keys) != sorted(keys)):
            return None
        out = [(_plan_name(e, alias), e) for e, alias in select]
        if len({n for n, _ in out}) != len(out):
            return None  # duplicate output names
        key = self._resolve_relation(rel, db)
        if key is None:
            return None
        return key, tr, out

    def _native_agg_table(self, key, tr, out, token: str = ""):
        """The :meth:`_native_agg` result as one pyarrow
        ``group_by().aggregate()`` over the committed files
        (:meth:`MeasurementCatalog.scan_arrow`), schema-identical to the
        Spark route (names, types, nullability), row-capped like it.
        None → Spark: a session time zone other than UTC, more input
        rows than :data:`NATIVE_AGG_MAX_ROWS` or an unreadable footer
        (the size gate fails closed), a missing column, or a type outside
        the grammar — keys string/bool/signed integer/date/timestamp
        (float keys would split ±0.0), SUM/AVG double only (integer SUM
        has Spark's overflow semantics), MIN/MAX timestamp/signed
        integer/floating (with Spark's NaN-is-largest order)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def _nan_minmax(r, ref: str, kind: str, typ):
            # MAX is NaN when the group holds one; MIN only when the
            # group holds nothing but NaN and nulls
            nan = pc.fill_null(r[ref + "n_max"], False)
            if kind == "min":
                nan = pc.and_(nan, pc.is_null(r[f"{ref}_min"]))
            return pc.if_else(nan, pa.scalar(float("nan"), typ),
                              r[f"{ref}_{kind}"])

        if self.spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
            return None  # date_trunc and the time literals are UTC here
        cols = sorted({e[1] for _, e in out if e[1] is not None})
        try:
            t = self.catalog.scan_arrow(*key, columns=cols, time_range=tr,
                                        max_rows=NATIVE_AGG_MAX_ROWS)
        except Exception:
            return None  # size gate, footer, missing column: Spark owns it
        types = {f.name: f.type for f in t.schema}
        if any(c not in types for c in cols):
            return None

        def _ts(typ) -> bool:
            return pa.types.is_timestamp(typ) and typ.tz in (None, "UTC")

        def _key(typ) -> bool:
            return (pa.types.is_string(typ) or pa.types.is_boolean(typ)
                    or pa.types.is_signed_integer(typ) or _ts(typ)
                    or pa.types.is_date32(typ))

        def _minmax(typ) -> bool:
            return (_ts(typ) or pa.types.is_signed_integer(typ)
                    or typ in (pa.float32(), pa.float64()))

        work: dict[str, object] = {}   # group-by input columns
        aggs: list = []                # (input, function) pairs
        fields, finish = [], []        # output field + result → array
        for name, e in out:
            kind, col = e[0], e[1]
            typ = types.get(col)
            if kind in ("col", "date_trunc"):
                if kind == "date_trunc":
                    if not _ts(typ):
                        return None
                    # on the tz-naive view: floor_temporal runs ~7x
                    # slower through the time zone database, even UTC's
                    arr = pc.floor_temporal(t[col].cast(pa.timestamp("us")),
                                            unit=_TRUNC_UNITS[e[2].lower()])
                elif _key(typ):
                    arr = t[col]
                else:
                    return None
                ref = f"k{len(work)}"
                if arr.null_count:
                    # pyarrow 16's multi-key grouper splits one null group
                    # into several: a key with nulls groups as its value,
                    # nulls filled, plus an is-null flag
                    zero = "" if pa.types.is_string(arr.type) else (
                        False if pa.types.is_boolean(arr.type) else 0)
                    work[ref] = pc.fill_null(arr, pa.scalar(zero, arr.type))
                    work[ref + "n"] = pc.is_null(arr)
                    finish.append(lambda r, ref=ref: pc.if_else(
                        r[ref + "n"], pa.scalar(None, r[ref].type), r[ref]))
                else:
                    work[ref] = arr
                    finish.append(lambda r, ref=ref: r[ref])
            elif kind == "count":
                typ = pa.int64()
                if ([], "count_all") not in aggs:
                    aggs.append(([], "count_all"))
                finish.append(lambda r: r["count_all"])
            elif kind in ("sum", "avg"):
                if typ != pa.float64():
                    return None
                ref = f"v{len(work)}"
                fn = "sum" if kind == "sum" else "mean"
                work[ref] = t[col]
                aggs.append((ref, fn))
                finish.append(lambda r, o=f"{ref}_{fn}": r[o])
            elif not _minmax(typ):
                return None
            elif pa.types.is_floating(typ):
                # pyarrow skips NaN; Spark orders NaN above every value
                ref = f"v{len(work)}"
                x = t[col]
                nan = pc.is_nan(x)
                work[ref] = pc.if_else(nan, pa.scalar(None, typ), x)
                work[ref + "n"] = nan
                # "max", not "any": pyarrow 16's hash_any misses a
                # true in a later chunk of a group
                aggs += [(ref, kind), (ref + "n", "max")]
                finish.append(lambda r, ref=ref, kind=kind, typ=typ:
                              _nan_minmax(r, ref, kind, typ))
            else:
                ref = f"v{len(work)}"
                work[ref] = t[col]
                aggs.append((ref, kind))
                finish.append(lambda r, o=f"{ref}_{kind}": r[o])
            if pa.types.is_timestamp(typ):
                typ = pa.timestamp("us", tz="UTC")  # Spark's toArrow
            fields.append(pa.field(name, typ, nullable=kind != "count"))
        keys = [k for k in work if k.startswith("k")]
        res = pa.table(work).group_by(keys).aggregate(aggs)
        cap = self.governor.row_cap(token)
        if cap is not None:
            res = res.slice(0, cap)
        schema = pa.schema(fields)
        return pa.Table.from_arrays(
            [f(res).cast(fld.type) for f, fld in zip(finish, schema)],
            schema=schema)

    def _serve_native_table(self, table, fmt: str):
        """A native-scan pyarrow Table in each wire shape (the route
        marker for native scans; :func:`serving.encode` does the work)."""
        return encode(table, fmt)

    def execute(self, sql: str, token: str = "", fmt: str = "rows",
                db: str | None = None, snapshot: int | None = None):
        """Run one query request end-to-end.

        fmt: 'rows' (list of Row), 'json' (list of typed-JSON chunks),
        'arrow' (IPC bytes), 'msgpack' (columnar bytes) — every path
        encodes through :func:`serving.encode`.

        ``db`` scopes the request to one database (the reference's
        ``x-arc-database`` header, query.go:1484-1495): unqualified table
        names resolve to that database's measurements, SHOW MEASUREMENTS
        defaults to it, and cross-database ``db.table`` references are
        rejected — detected on the PARSED plan's table refs, not by string
        scanning (no literal/comment-masking regexes to get wrong).

        Routes, tried in order on the parsed plan after validation and
        RBAC: ``native_count`` (footer COUNT/MIN/MAX), ``native_scan``
        (SELECT * [time range] LIMIT), ``native_agg`` (GROUP BY over a
        time range), else ``spark``. The history entry records which.

        ``snapshot`` pins the read to that committed snapshot version
        (time travel): only the ``native_scan`` shape with no time range
        serves a pinned read; any other shape, or a version that is not
        retained, raises :class:`SqlValidationError`.
        """
        self.governor.admit(token)
        if db is not None and not self._IDENT_RE.match(db):
            raise SqlValidationError(f"invalid database name {db!r}")
        return self._execute(sql, token, fmt, db, snapshot)

    @snapshots.reading()
    def _execute(self, sql: str, token: str, fmt: str, db: str | None,
                 snapshot: int | None):
        """:meth:`execute` after admission and the ``db`` check: the one
        body both query routes run, holding ``reading()`` from bind
        through encode."""
        # SHOW intercept — storage listing, no SQL engine (reference A12)
        stripped = sql.strip().rstrip(";").upper()
        if stripped == "SHOW DATABASES":
            return [{"database": d} for d in self.catalog.databases()]
        m = self._SHOW_TABLES_RE.match(sql)
        if m:
            target = m.group(1) or db or ""
            return [{"measurement": x} for x in self.catalog.measurements(target)]
        validate_read_only(self.spark, sql)
        self._check_rbac(token, sql, db=db)
        # native COUNT(*) (reference headline: 1.03 ms via metadata):
        # a bare unfiltered count over one measurement is answered from
        # parquet footers over the committed snapshot — no Spark job.
        # Validation + RBAC above already ran on this SQL; the shape
        # check is on the PARSED plan, so any filter/group/expression
        # falls through to the engine.
        plan_lines = self._plan_lines(sql)  # one parse, every detector
        nc = (self._native_count(sql, db, lines=plan_lines)
              if snapshot is None else None)
        if nc is not None:
            self.registry.record_instant(sql, token=token, rows=1,
                                         route="native_count")
            return self._serve_native_count(nc, fmt=fmt)
        # native time-range serving on the SQL surface (reference "Time
        # Range (7d) LIMIT 10K" = 15 ms): SELECT * + pure time filter +
        # LIMIT over one measurement reads through the snapshot-pruned
        # pyarrow scan — no Spark job. Unsupported measurement shapes
        # (no time column, lossy type) fall through to the engine.
        nt = self._native_timerange(sql, db, lines=plan_lines)
        if snapshot is not None and (nt is None or nt[1] is not None):
            raise SqlValidationError(
                "a snapshot read serves SELECT * ... LIMIT n only: no "
                "where or order_by")
        if nt is not None:
            key, tr, n = nt
            cap = self.governor.row_cap(token)
            eff = n if cap is None else min(n, cap)
            try:
                table = self.catalog.scan_arrow(*key, limit=eff,
                                                time_range=tr,
                                                snapshot=snapshot)
            except ValueError as e:
                if snapshot is not None:
                    # unknown/pruned version, multi-tier pin
                    raise SqlValidationError(str(e)) from None
                table = None  # → Spark path keeps full semantics
            if table is not None:
                self.registry.record_instant(
                    sql if snapshot is None
                    else f"{sql} VERSION AS OF {snapshot}",
                    token=token, rows=table.num_rows, route="native_scan")
                return self._serve_native_table(table, fmt=fmt)
        # native GROUP BY (reference "time-bucket 1h/7d 4.7 ms"): keys
        # and aggregates over one measurement's time range run as one
        # pyarrow group_by over the committed files, under a size gate
        na = self._native_agg(sql, db, lines=plan_lines)
        if na is not None:
            table = self._native_agg_table(*na, token=token)
            if table is not None:
                self.registry.record_instant(sql, token=token,
                                             rows=table.num_rows,
                                             route="native_agg")
                return self._serve_native_table(table, fmt=fmt)
        df = self.governor.cap(token, self.plan(sql, db))
        return self.registry.run(df, sql=sql, token=token,
                                 timeout_s=self.governor.timeout_s(token),
                                 collect=_spark_collect(fmt))


class IngestService:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        wal_dir: str | None = None,
        max_buffer_rows: int = 50_000,
        max_buffer_age_s: float = 5.0,
        defer_decode: bool = False,
        direct_flush_max_rows: int = 2_000_000,
        decimal_config: dict[str, dict[str, tuple[int, int]]] | None = None,
        sort_keys_config: dict[str, list[str]] | None = None,
        max_decompressed_bytes: int | None = None,
        flush_workers: int = 0,
        distributed_decode_min_bytes: int = 8 * 1024 * 1024,
        max_pending_rows: int | None = None,
        wal_sync: str = "fsync",
    ):
        """defer_decode=True moves payload decoding from the ack path to the
        flush path — the reference's sub-ms ack design taken to its limit
        (arc also acks before Parquet work but decodes first). The ack
        still RETURNS AN EXACT COUNT: a header-only msgpack walk
        (msgpack_codec.count_rows, ~2µs) or a vectorized LP line count
        (line_protocol.count_lines, ~39M lines/s) — -1 only when the
        payload structure defeats the walk. Flush-size triggering counts
        payloads instead of rows.

        flush_workers>0 decouples flush from the ack path (the reference's
        flushWorker pool, arrow_writer.go:2370-2438): a threshold-crossing
        write SCHEDULES a flush on a worker thread and returns immediately;
        the worker also enforces the age trigger without traffic. Call
        :meth:`drain` (or :meth:`close`) to make everything durable.

        max_pending_rows bounds ingest memory: when buffered + in-flight
        rows reach it, write_* blocks until a flush completes — ack rate
        converges to flush rate instead of accumulating unbounded heap
        (the reference's bounded flush queue). Default 4× max_buffer_rows;
        pass 0/None semantics via a huge value if unbounded is wanted."""
        from arc_spark.sources.wal import Wal

        self.spark = spark
        self.root = root
        self.wal = Wal(wal_dir, sync=wal_sync) if wal_dir else None
        self.max_buffer_rows = max_buffer_rows
        self.max_buffer_age_s = max_buffer_age_s
        self.defer_decode = defer_decode
        self.direct_flush_max_rows = direct_flush_max_rows
        # per-measurement DECIMAL128 columns, {measurement: {col: (p, s)}} —
        # the reference's `measurement:col=precision,scale` config
        # (internal/config/decimal.go:9-60)
        self.decimal_config = decimal_config or {}
        # per-measurement sort-key override, {measurement: [col, ...]} —
        # the reference's `measurement:col1,col2` [ingest] sort_keys
        # (internal/config/sort_keys.go:9-60); `time` is appended by the
        # writer, and absent measurements sort by (tags..., time)
        self.sort_keys_config = sort_keys_config or {}
        if max_decompressed_bytes is None:
            from arc_spark.sources.ingest import MAX_DECOMPRESSED_BYTES

            max_decompressed_bytes = MAX_DECOMPRESSED_BYTES
        self.max_decompressed_bytes = max_decompressed_bytes
        # LP payloads at/above this size decode distributed (mapInPandas)
        # instead of in driver Python — the backfill path (reference keeps
        # bulk imports off the hot ingest workers too, internal/api/import*)
        self.distributed_decode_min_bytes = distributed_decode_min_bytes
        # bulk-LP payloads at/below this size run the decode-write kernel
        # on LOCAL THREADS instead of a Spark job (the Python-task round-
        # trip was 40%+ of the 1M-line lane); larger backfills fan out as
        # one staged Spark job. Not a config key: 0 forces the Spark
        # engine, which tests and bench.py do to cover it
        self.local_fused_max_bytes = 128 * 1024 * 1024
        # deferred backlogs (msgpack or LP) at/above this size per db drain
        # DISTRIBUTED through the same staged job: the driver's one-process
        # decode ceiling is ~3.5M rec/s, the distributed drain measured
        # 13M rec/s warm on a 12M-row backlog; at 2× it drains as two
        # concurrent jobs. None disables. Same executor-resolvable-root
        # rule as bulk LP.
        self.distributed_flush_min_bytes = 64 << 20
        self._buffers: dict[tuple[str, str], list[dict]] = {}
        # (db, kind, payload, n_acked) — n_acked = rows counted at ack via
        # the header/byte walk, or -1 when the count was not determinable
        self._raw: list[tuple[str, str, bytes, int]] = []
        self._buffer_rows = 0
        self._flushing_rows = 0  # snapshot rows still being written
        # deferred-decode payloads can't be counted in ROWS before a flush
        # decodes them, so the raw path carries its own BYTE-based bound —
        # without it sustained deferred ingest acks into unbounded heap
        # (found when a 3 s defer lane "acked" 30× the flush rate)
        self._raw_bytes = 0
        self._flushing_raw_bytes = 0
        self.max_pending_raw_bytes = 256 << 20
        self.max_pending_rows = (
            max_pending_rows if max_pending_rows is not None
            else 4 * max_buffer_rows
        )
        self._oldest: float | None = None
        self._recovering = False  # suppresses WAL truncation mid-replay
        # parse_dropped: lines the deferred LP ack counted optimistically
        # that then failed to parse at flush — the ack itself stays
        # optimistic (count_lines is a header walk, not a parse), but the
        # drop is observable here rather than silent
        self.stats = {"acked": 0, "flushed": 0, "flushes": 0,
                      "parse_dropped": 0}
        # _lock: buffers + WAL-append atomicity (a flush snapshot must never
        # cut the WAL between another writer's append and its buffer insert);
        # _flush_serial: at most one flush body runs at a time, so a later
        # flush's WAL truncation cannot outrun an earlier flush's Parquet
        self._lock = threading.Lock()
        # ack-path decode serializer (see write_msgpack): GIL-bound
        # decodes convoy under writer concurrency; one-at-a-time IS the
        # process decode ceiling, and waiting writers park on the lock
        self._decode_serial = threading.Lock()
        # signaled when a flush finishes (or rolls back): backpressured
        # writers re-check the pending-row level
        self._space = threading.Condition(self._lock)
        self._flush_serial = threading.Lock()
        self._flush_queue = None
        self._flush_pending = threading.Event()
        self._flush_error: BaseException | None = None
        self._stop = False
        self._workers: list[threading.Thread] = []
        if flush_workers > 0:
            import queue

            self._flush_queue = queue.Queue()
            for i in range(flush_workers):
                t = threading.Thread(
                    target=self._flush_worker, name=f"arc-flush-{i}", daemon=True
                )
                t.start()
                self._workers.append(t)

    def _dec_manifest(self, measurement: str) -> dict[str, list[int]] | None:
        """decimal_config entry for a measurement in manifest shape
        ({col: [precision, scale]}), or None — every manifest write site
        must use this so no publish path drops decimal metadata."""
        decimals = self.decimal_config.get(measurement)
        return ({c: list(ps) for c, ps in decimals.items()}
                if decimals else None)

    def _manifest_sort_keys(self, measurement: str,
                            tag_list: list[str]) -> list[str]:
        keys = list(self.sort_keys_config.get(measurement) or tag_list)
        if "time" not in keys:
            keys.append("time")
        return keys

    # -- write path --------------------------------------------------------
    def write_msgpack(self, db: str, payload: bytes, _wal: bool = True) -> int:
        """Decode + ack one columnar-msgpack payload. The ACK happens after
        the WAL fsync, BEFORE any Parquet work (reference arrow_writer.go
        WriteColumnarRecord → WAL AppendRawWithMeta).

        gzip/zstd payloads are auto-detected by magic bytes and decompressed
        (bomb-guarded) BEFORE the WAL append, so WAL replay's format sniff
        always sees msgpack bytes (reference internal/api/msgpack.go)."""
        from arc_spark.sources.ingest import maybe_decompress

        payload = maybe_decompress(payload, self.max_decompressed_bytes)
        if self.defer_decode:
            # EXACT count at ack without decoding: a header-only walk
            # (array/column-length headers, ~2µs regardless of payload
            # size) — the deferred profile acks with real counts, closing
            # the -1 semantic gap vs the synchronous path
            from arc_spark.sources.msgpack_codec import count_rows

            n = count_rows(payload)
            return self._admit(db, payload if _wal else None,
                               raw=("msgpack", payload,
                                    -1 if n is None else n))
        from arc_spark.sources.ingest import decode_msgpack_payload

        # decode under the ack-decode MUTEX: the decode is GIL-bound
        # Python/numpy, so one decoding thread already achieves the
        # process's maximum decode rate — N concurrent writers decoding
        # "in parallel" just convoy on the GIL (5 ms switch slices,
        # cache thrash) and HALVE aggregate throughput. Serializing the
        # decode makes waiting writers block on a lock (GIL released)
        # instead: 8-writer sustained sync ack measured 6.8 → 12.9M
        # rec/s, e2e 5.8 → 8.9M (r8 verdict #6 lever, landed as a lock
        # rather than a handoff pool — same serialization, no ~40 µs
        # per-batch executor handoff, zero cost when uncontended)
        with self._decode_serial:
            batch = decode_msgpack_payload(payload)
        return self._admit(db, payload if _wal else None, batch=batch)

    def write_line_protocol(
        self, db: str, payload: bytes, precision: str = "ns", _wal: bool = True
    ) -> int:
        from arc_spark.sources.ingest import maybe_decompress

        payload = maybe_decompress(payload, self.max_decompressed_bytes)
        if (
            not self.defer_decode
            and len(payload) >= self.distributed_decode_min_bytes
        ):
            # backfill-sized payload: decode + write distributed (mapInPandas
            # over cluster partitions), synchronous like the reference's bulk
            # import path — no driver-core decode ceiling, no WAL (durability
            # = the write completes before the ack)
            return self._write_line_protocol_distributed(db, payload, precision)
        if self.defer_decode:
            from arc_spark.sources.line_protocol import count_lines

            # exact line count at ~39M lines/s (vectorized byte pass) —
            # parse still deferred to the flush path
            return self._admit(db, payload if _wal else None,
                               raw=(f"lp:{precision}", payload,
                                    count_lines(payload)))
        from arc_spark.sources.line_protocol import parse_chunk_columnar

        # vectorized columnar parse, split PER MEASUREMENT — the former
        # parse_batch + rows_to_columnar pair was 5.6× slower (pure-Python
        # row loop behind the ack mutex) AND silently filed every row of a
        # multi-measurement payload under the FIRST line's measurement
        # (rows_to_columnar keys the whole batch on rows[0]; r11 repro:
        # cpu+mem payload → everything under bench/cpu). The kernels
        # release the GIL, so no ack mutex here: concurrent writers'
        # parses overlap instead of convoying. Invalid UTF-8 is sanitized
        # inside the parser (U+FFFD), not fatal — one hostile batch must
        # not DoS the ingest path (reference internal/ingest/utf8*.go).
        from arc_spark.sources.line_protocol import (LineProtocolError,
                                                     count_lines)

        per_meas = parse_chunk_columnar(payload, precision)
        batches = []
        parsed = 0
        for meas, b in per_meas.items():
            if not b["columns"]:
                continue
            b["measurement"] = meas
            parsed += len(b["columns"][next(iter(b["columns"]))])
            batches.append(b)
        # the sync ack path keeps parse_batch's ALL-OR-NOTHING contract
        # (deferred/flush callers skip+count instead): parse_chunk_columnar
        # drops malformed lines silently, so a parsed-vs-expected shortfall
        # here means the payload must be rejected whole — 400, not a
        # partial ingest the client can't see
        expected = count_lines(payload)
        if parsed < expected:
            raise LineProtocolError(
                f"{expected - parsed} of {expected} lines failed to parse")
        if not batches:
            return 0
        return self._admit(db, payload if _wal else None, batches=batches)

    def _write_line_protocol_distributed(
        self, db: str, payload: bytes, precision: str
    ) -> int:
        """Bulk LP ingest (``POST /api/v1/import/lp`` and LP payloads of
        at least ``distributed_decode_min_bytes``): synchronous, no WAL —
        the write completes before the ack. The payload splits at newlines
        into ``lp:<precision>`` chunk entries, :func:`_decode_write` parses
        and writes each chunk, and :meth:`_publish` commits every
        measurement once, so the whole write becomes visible atomically.
        The reference's bulk import is the same shape: in-process native
        workers, then one manifest update (internal/api/import_inprocess.go).

        Engine by size, with identical files, manifest and commit: a
        payload of at most ``local_fused_max_bytes`` (128 MB) runs the
        kernel on local threads; a larger backfill runs one staged Spark
        job (:meth:`_decode_write_spark`). A Python-task job costs
        ~0.26–0.33 s of round-trip on its own, about the whole threaded
        parse+write of 1M lines.

        Files are one per (chunk, measurement, hour), the small-file shape
        hourly compaction merges. A field whose lexical type differs across
        chunks (``1i`` vs ``1.5``) gives per-file schemas instead of a
        widened one; LP typing is per-line deterministic, so a consistently
        typed source is unaffected (the reference likewise rejects
        cross-batch type drift).

        All-or-nothing, like the synchronous LP write: a measurement name
        that fails :func:`validate_identifier` rejects the payload with
        ``SqlValidationError`` (400), and fewer parsed rows than
        :func:`count_lines` (a malformed line) with
        ``LineProtocolError`` (400). Either way the files already written
        are deleted and nothing is committed. Returns the rows written."""
        from arc_spark.sources.line_protocol import (LineProtocolError,
                                                     count_lines)
        from arc_spark.sources.writer import measurement_path
        from arc_spark.storage import backend_for

        local = len(payload) <= self.local_fused_max_bytes
        if local:
            # ~2 MB per chunk, at most one chunk per worker, at most 8
            # workers: each chunk carries ~26 ms of GIL-held kernel glue
            # regardless of size, so beyond ~8 threads (or 2 chunks per
            # worker) the glue serializes — 1M lines: 8 workers 0.28 s,
            # 16 0.37 s, 32 0.60 s; 16ch/8w 0.336 s vs 8ch/8w 0.184 s
            # parse-only
            n = max(1, min(8, os.cpu_count() or 8,
                           len(payload) // (2 << 20) + 1))
        else:
            # ~3 MB per task, capped at cores/2: per-Python-task overhead
            # is ~25-30 ms serialized, and full-width fan-out contends
            # with the parse itself (local[32], 49 MB: 16 tasks 0.67 s,
            # 24 tasks 1.52 s, 32 tasks 2.56 s)
            par = self.spark.sparkContext.defaultParallelism
            n = max(1, min(max(4, par // 2), len(payload) // (3 << 20) + 1))
        kind, view = f"lp:{precision}", memoryview(payload)
        entries = [(kind, view[off:off + ln])
                   for off, ln in _lp_byte_ranges(payload, n)]
        if local:
            from concurrent.futures import ThreadPoolExecutor

            def work(entry):
                return _decode_write(self.root, db, [entry],
                                     self.decimal_config,
                                     self.sort_keys_config)

            # parse and Parquet write are pyarrow end to end and release
            # the GIL, so threads scale them across cores without a job
            with ThreadPoolExecutor(max_workers=max(1, len(entries))) as ex:
                results = [r for rs in ex.map(work, entries) for r in rs]
        else:
            results = self._decode_write_spark(db, entries)
        bad = [meas for meas, _, _, files in results if files is None]
        parsed = sum(rows for _, rows, _, _ in results)
        expected = count_lines(payload)
        if bad or parsed < expected:
            bk = backend_for(self.root)
            for meas, _, _, files in results:
                for f in files or ():
                    bk.remove_file_if_exists(
                        bk.join(measurement_path(self.root, db, meas), f))
            for meas in bad:
                validate_identifier(meas, "measurement")
            raise LineProtocolError(
                f"{expected - parsed} of {expected} lines failed to parse")
        n_rows = self._publish(db, results)
        with self._lock:
            self.stats["acked"] += n_rows
            self.stats["flushed"] += n_rows
            self.stats["flushes"] += 1
        return n_rows

    def _drain_raw_distributed(
        self, db: str, entries: list[tuple[str, bytes]]
    ) -> int:
        """Distributed drain of a deferred-payload backlog ((kind, bytes)
        pairs, msgpack or line protocol) through the staged Spark job of
        :meth:`_decode_write_spark`, then one :meth:`_publish`. Breaks the
        driver's one-process decode ceiling: 13M rec/s warm on a 12M-row
        msgpack backlog vs ~3.5M for the in-process flush workers.

        A backlog of at least 2 × ``distributed_flush_min_bytes`` drains
        as TWO concurrent jobs over contiguous byte-balanced halves: each
        job stays cores/2-capped, and the second back-fills the first's
        task tails (~262 MB / 12M rows: 15.0 → 19.0M rows/s p50; 3- and
        4-way splits oversubscribe the Python workers and lose). The
        publish is one commit over both halves either way, so visibility
        and the tag union match the single-job drain.

        Same constraints as bulk LP: the root must be executor-resolvable
        (local/file/s3), schemas merge per task, and a failure of either
        job fails the whole drain, which the caller requeues: at-least-
        once (the WAL retains the payloads; compaction's last-writer-wins
        dedup collapses replayed rows of tagged measurements). Invalid
        measurement names are dropped.

        Returns rows written; the caller owns stats/WAL accounting."""
        total = sum(len(p) for _, p in entries)
        parts = [entries]
        if total >= 2 * (self.distributed_flush_min_bytes or (64 << 20)):
            acc = 0
            for i, (_, p) in enumerate(entries[:-1]):
                acc += len(p)
                if acc >= total / 2:
                    parts = [entries[:i + 1], entries[i + 1:]]
                    break
        if len(parts) == 1:
            results = self._decode_write_spark(db, entries)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(parts)) as ex:
                results = [r for rs in ex.map(
                    lambda p: self._decode_write_spark(db, p), parts)
                    for r in rs]
        return self._publish(db, results)

    def _decode_write_spark(self, db: str, entries) -> list[tuple]:
        """Run :func:`_decode_write` as ONE shuffle-free Spark job. The
        entries are STAGED as one concatenated file under the storage
        root, and each task of a ``spark.range`` frame reads one
        CONTIGUOUS group of them with a single range read (1 GET per task
        on object stores) and decodes+writes it on the executor. Shipping
        the bytes through ``createDataFrame`` instead cost ~0.5 s of
        driver-side Arrow conversion plus a shuffle of the whole payload.
        Executors resolve the staged path with the auto-resolvable-backend
        rule (local/file/s3). Returns the kernel's result tuples; manifest
        and commit belong to the caller."""
        import json as _json
        import uuid as _uuid

        import pandas as pd

        from arc_spark.storage import backend_for

        bk = backend_for(self.root)
        staging = bk.join(self.root, ".raw-staging")
        bk.mkdirs(staging)
        staged = bk.join(staging, f"{_uuid.uuid4().hex}.bin")
        offs: list[tuple[int, int, str]] = []
        pos = 0
        # stream entries straight to the staging file: concatenating a
        # multi-hundred-MB bytes object first costs two full copies
        with bk.fs.open_output_stream(bk.fs_path(staged)) as f:
            for kind, p in entries:
                offs.append((pos, len(p), kind))
                f.write(p)
                pos += len(p)
        par = self.spark.sparkContext.defaultParallelism
        # cores/2 cap: full-width fan-out contends with the decode itself
        # (re-measured on gzip backlogs too, where decompress doubles the
        # per-payload C work: full width was still ~8% slower)
        n_tasks = max(1, min(max(4, par // 2), len(offs)))
        per = (len(offs) + n_tasks - 1) // n_tasks
        groups = [g for g in (offs[i * per:(i + 1) * per]
                              for i in range(n_tasks)) if g]
        root = self.root
        decimal_config, sort_keys_cfg = self.decimal_config, self.sort_keys_config

        def task(batches):
            # each concurrent worker gets ONE native thread: N workers ×
            # a default pool of N threads oversubscribes the box N-fold
            # (parse p50 503 ms vs 71 ms at 25 tasks)
            from arc_spark.functions.threads import pin_math_threads

            pin_math_threads()
            ebk = backend_for(staged)
            for bpdf in batches:
                for i in bpdf["id"]:
                    grp = groups[int(i)]
                    base = grp[0][0]
                    blob = ebk.read_range(
                        staged, base, grp[-1][0] + grp[-1][1] - base)
                    res = _decode_write(
                        root, db,
                        [(kind, blob[off - base:off - base + ln])
                         for off, ln, kind in grp],
                        decimal_config, sort_keys_cfg)
                    yield pd.DataFrame({
                        "measurement": [r[0] for r in res],
                        "n": [r[1] for r in res],
                        "tags": [_json.dumps(r[2]) for r in res],
                        "files": [_json.dumps(r[3]) for r in res]})

        try:
            rows = (
                self.spark.range(0, len(groups), 1, len(groups))
                .mapInPandas(task, "measurement string, n long, tags string, "
                                   "files string")
                .collect()
            )
        finally:
            bk.remove_file_if_exists(staged)
        return [(r["measurement"], r["n"], _json.loads(r["tags"]),
                 _json.loads(r["files"])) for r in rows]

    def _publish(self, db: str, results) -> int:
        """Manifest + ONE snapshot commit per measurement over
        :func:`_decode_write` results: everything a bulk write or drain
        wrote for a measurement becomes visible in one swap, and a crash
        before it leaves the files invisible (the WAL, or the client's
        retry, redoes the rows). Skipped names (``files`` None) are
        ignored. Returns rows published; callers keep their own stats."""
        from arc_spark import snapshots
        from arc_spark.sources.writer import measurement_path, write_manifest

        n_rows = 0
        meas_tags: dict[str, set] = {}
        meas_files: dict[str, list] = {}
        for meas, n, tags, files in results:
            if files is None:
                continue
            n_rows += n
            meas_tags.setdefault(meas, set()).update(tags)
            meas_files.setdefault(meas, []).extend(files)
        for meas, tags in meas_tags.items():
            tag_list = sorted(tags)
            write_manifest(self.root, db, meas, tag_list,
                           self._manifest_sort_keys(meas, tag_list),
                           decimals=self._dec_manifest(meas))
            snapshots.commit(measurement_path(self.root, db, meas),
                             add=meas_files[meas])
        return n_rows

    def _admit(
        self,
        db: str,
        wal_payload: bytes | None,
        batch: dict | None = None,
        raw: tuple[str, bytes, int] | None = None,
        batches: list[dict] | None = None,
    ) -> int:
        """WAL append + buffer insert, atomically: a concurrent flush
        snapshot either sees both (entry flushed, WAL cut past it) or
        neither (entry keeps its WAL backing) — never a WAL entry whose
        rows are outside every snapshot.

        Backpressure first: while buffered + in-flight rows are at
        max_pending_rows, block (triggering flushes) until a flush drains
        space — ingest cannot outrun the writer into unbounded heap."""
        # ack-time name check, BEFORE any WAL append: a wire 'm' of
        # "../../x" must 400 here rather than enter the log (a replayed
        # poison entry would wedge recovery) — writes re-validate at the
        # measurement_path chokepoint regardless
        from arc_spark.catalog import validate_identifier

        validate_identifier(db, "database")
        if batch is not None:
            validate_identifier(
                batch.get("measurement") or "default", "measurement")
        for b in batches or ():
            validate_identifier(
                b.get("measurement") or "default", "measurement")
        while True:
            with self._lock:
                over = (
                    (self._buffer_rows + self._flushing_rows
                     >= self.max_pending_rows
                     or self._raw_bytes + self._flushing_raw_bytes
                     >= self.max_pending_raw_bytes)
                    and self._flush_error is None
                )
            if not over:
                break
            self._trigger_flush()  # sync mode flushes inline; workers: schedule
            with self._space:
                if ((self._buffer_rows + self._flushing_rows
                     >= self.max_pending_rows
                     or self._raw_bytes + self._flushing_raw_bytes
                     >= self.max_pending_raw_bytes)
                        and self._flush_error is None):
                    self._space.wait(timeout=0.1)
        wal_tok = None
        with self._lock:
            if wal_payload is not None and self.wal is not None:
                # buffered append under the lock keeps the WAL/buffer
                # atomicity contract; the fsync happens AFTER the lock via
                # group commit, so N concurrent acks share ~1 fsync
                # instead of serializing one each (see Wal.sync_upto)
                wal_tok = self.wal.append_nosync(wal_payload)
            if raw is not None:
                self._raw.append((db, *raw))
                self._raw_bytes += len(raw[1])
                n = raw[2]
                if n >= 0:
                    # counted at ack (header/byte walk, no decode); the
                    # flush-time decode reconciles any delta
                    self.stats["acked"] += n
                trip_size = len(self._raw) >= max(self.max_buffer_rows // 1000, 1)
            else:
                # one lock pass + one WAL append for ALL of a payload's
                # per-measurement batches (multi-measurement LP): the
                # WAL entry stays payload-granular, so replay semantics
                # are unchanged
                todo = batches if batches is not None else [batch]
                n = 0
                for b in todo:
                    if not b["columns"]:
                        continue
                    meas = b.get("measurement") or "default"
                    k = len(b["columns"][next(iter(b["columns"]))])
                    self._buffers.setdefault((db, meas), []).append(b)
                    n += k
                if n == 0:
                    return 0
                self._buffer_rows += n
                self.stats["acked"] += n
                trip_size = self._buffer_rows >= self.max_buffer_rows
            if self._oldest is None:
                self._oldest = time.monotonic()
            trip = trip_size or (
                time.monotonic() - self._oldest >= self.max_buffer_age_s
            )
        if wal_tok is not None and self.wal.sync in ("fsync", "fdatasync"):
            # durable-before-ack, grouped with concurrent writers
            self.wal.sync_upto(wal_tok)
        if trip:
            self._trigger_flush()
        return n

    def _trigger_flush(self) -> None:
        if self._flush_queue is None:
            self.flush()
        elif not self._flush_pending.is_set():
            self._flush_pending.set()
            self._flush_queue.put("flush")

    def _flush_worker(self) -> None:
        import queue as _queue

        poll = min(self.max_buffer_age_s, 1.0)
        while not self._stop:
            try:
                item = self._flush_queue.get(timeout=poll)
            except _queue.Empty:
                # age trigger without traffic (reference flush ticker)
                with self._lock:
                    aged = (
                        self._oldest is not None
                        and time.monotonic() - self._oldest >= self.max_buffer_age_s
                    )
                if aged:
                    try:
                        self.flush()
                    except BaseException as e:  # surfaced by drain()
                        self._flush_error = e
                continue
            self._flush_pending.clear()
            try:
                if item is not None:
                    self.flush()
            except BaseException as e:
                self._flush_error = e
            finally:
                self._flush_queue.task_done()
            if item is None:
                break

    def drain(self) -> int:
        """Wait for scheduled flushes, then flush whatever remains.
        Raises the first worker-side flush error, if any."""
        if self._flush_queue is not None:
            self._flush_queue.join()
        total = self.flush()
        if self._flush_error is not None:
            err, self._flush_error = self._flush_error, None
            raise err
        return total

    def close(self) -> None:
        """Drain and stop the worker threads."""
        self.drain()
        self._stop = True
        if self._flush_queue is not None:
            for _ in self._workers:
                self._flush_queue.put(None)
            for t in self._workers:
                t.join(timeout=10)

    def _decode_raw_batches(
        self, raw: list[tuple[str, str, bytes, int]]
    ) -> tuple[dict[tuple[str, str], list[dict]], int, int]:
        """Decode deferred payloads (flush time) → {(db, meas): [batches]}.

        Every payload decodes through :func:`decode_entry`, the dispatch
        the distributed drain's kernel uses, so where a deferred stream
        lands never depends on whether the backlog crossed
        ``distributed_flush_min_bytes``; invalid measurement names are
        dropped the same way (post-ack, a 400 is no longer possible).

        Returns (batches, ACKED DELTA, DROPPED): the delta is actual
        decoded rows minus what the ack path already counted per entry
        (header-walk counts are exact in practice; the delta self-corrects
        any divergence); dropped is the non-negative per-payload sum of
        ack-counted lines that failed to parse — the client-visible
        deferred ack is OPTIMISTIC on malformed input (documented in the
        README), and this counter makes the drop observable."""
        # LP payloads parse CONCURRENTLY across entries: the kernels in
        # parse_chunk_columnar release the GIL, one ~500 KB payload costs
        # ~10 ms of Arrow compute, and a deferred backlog below the
        # distributed threshold arrives as dozens of independent payloads
        # — sequential decode made the in-process LP drain the sustained
        # lane's bound (~1 M lines/s/worker; r11 measured the 8-way map
        # at ~4× on the same backlog). Per-entry results stay separate so
        # the ack-delta/dropped accounting below is untouched.
        lp_parsed: dict[int, dict] = {}
        lp_idx = [i for i, e in enumerate(raw) if e[1].startswith("lp")]
        if len(lp_idx) > 1:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(8, os.cpu_count() or 8, len(lp_idx))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                lp_parsed = dict(zip(lp_idx, ex.map(
                    lambda i: decode_entry(raw[i][1], raw[i][2]), lp_idx)))

        out: dict[tuple[str, str], list[dict]] = {}
        delta = 0
        dropped = 0
        for idx, (db, kind, payload, n_pre) in enumerate(raw):
            per_meas = (lp_parsed[idx] if idx in lp_parsed
                        else decode_entry(kind, payload))
            actual = 0
            for meas, batch in per_meas.items():
                if _measurement_ok(meas):
                    out.setdefault((db, meas), []).append(batch)
                    actual += len(batch["columns"][next(iter(batch["columns"]))])
            pre = n_pre if n_pre >= 0 else 0
            delta += actual - pre
            if actual < pre:
                dropped += pre - actual
        return out, delta, dropped

    def _maybe_drain_distributed(
        self, raw: list[tuple[str, str, bytes, int]]
    ) -> tuple[list[tuple[str, str, bytes, int]], int, int]:
        """Split per-db deferred-payload groups (msgpack AND line
        protocol) whose byte total crosses the distributed-flush
        threshold and drain them via :meth:`_drain_raw_distributed`.
        Returns (remaining raw, rows written distributed, rows of those
        already counted at ack — the caller adds only the difference to
        the acked stat)."""
        if self.distributed_flush_min_bytes is None:
            return raw, 0, 0
        by_db: dict[str, list[tuple[str, bytes]]] = {}
        pre_by_db: dict[str, int] = {}
        for db, kind, payload, n_pre in raw:
            by_db.setdefault(db, []).append((kind, payload))
            pre_by_db[db] = pre_by_db.get(db, 0) + max(n_pre, 0)
        dist_dbs = {
            db for db, es in by_db.items()
            if sum(len(p) for _, p in es) >= self.distributed_flush_min_bytes
        }
        if not dist_dbs:
            return raw, 0, 0
        rows = 0
        pre_counted = 0
        for db in dist_dbs:
            rows += self._drain_raw_distributed(db, by_db[db])
            pre_counted += pre_by_db.get(db, 0)
        remaining = [e for e in raw if e[0] not in dist_dbs]
        return remaining, rows, pre_counted

    # -- flush path --------------------------------------------------------
    def flush(self) -> int:
        """Merge buffered batches per measurement (schema-evolution-aware)
        and write through the hour-partitioned sorted writer; WAL segments
        sealed before the snapshot are then obsolete and removed.

        The snapshot (buffer swap + WAL rotation) is atomic with respect to
        writers; Parquet writing happens outside the lock, so the ack path
        is never blocked by a flush in progress. Only segments BEFORE the
        rotation cut are truncated — entries appended during the flush keep
        their WAL backing."""
        with self._flush_serial:
            with self._lock:
                buffers, self._buffers = self._buffers, {}
                raw, self._raw = self._raw, []
                snap_rows = self._buffer_rows
                snap_raw_bytes = self._raw_bytes
                self._flushing_rows += snap_rows
                self._flushing_raw_bytes += snap_raw_bytes
                self._buffer_rows = 0
                self._raw_bytes = 0
                self._oldest = None
                cut = None
                # During recover() the WAL must survive untouched: a
                # threshold-triggered flush mid-replay would otherwise delete
                # segments the replay iterator has not read yet. recover()
                # truncates once, after its own final flush.
                if self.wal is not None and not self._recovering:
                    cut = self.wal.rotate()
            decoded_merged = False
            dist_rows = 0
            try:
                if raw:
                    # large deferred backlogs (msgpack or LP) drain
                    # distributed (executors decode+write); the rest
                    # decodes in-process
                    raw, dist_rows, dist_pre = \
                        self._maybe_drain_distributed(raw)
                    if dist_rows:
                        # distributed rows are durably written NOW —
                        # account them immediately so a later buffer-write
                        # failure can't lose them from the flushed count.
                        # Ack-time header counts already covered dist_pre
                        # of these rows; add only the difference.
                        with self._lock:
                            self.stats["acked"] += dist_rows - dist_pre
                            self.stats["flushed"] += dist_rows
                    acked_delta = 0
                    parse_dropped = 0
                    if raw:
                        decoded, acked_delta, parse_dropped = \
                            self._decode_raw_batches(raw)
                        for key, batches in decoded.items():
                            buffers.setdefault(key, []).extend(batches)
                    decoded_merged = True
                    with self._lock:
                        self.stats["acked"] += acked_delta
                        self.stats["parse_dropped"] += parse_dropped
                total = self._write_buffers(buffers)
            except BaseException:
                # a failed Parquet write must not orphan acked rows: put the
                # whole snapshot back (oldest-first) so the NEXT flush
                # retries it. The WAL cut below only happens on success, so
                # a crash instead of a retry still recovers from the log.
                with self._lock:
                    for key, batches in buffers.items():
                        self._buffers[key] = batches + self._buffers.get(key, [])
                        self._buffer_rows += sum(
                            len(b["columns"][next(iter(b["columns"]))])
                            for b in batches if b["columns"]
                        )
                    if raw and not decoded_merged:
                        # drain/decode failed mid-raw: requeue the CURRENT
                        # binding — still the full snapshot if the
                        # distributed drain itself failed (its partial
                        # writes retry at-least-once; LWW compaction dedup
                        # collapses tagged replays), but only the
                        # REMAINING payloads if the drain succeeded and
                        # the in-process decode then failed, so durably
                        # written groups are never re-run
                        self._raw = list(raw) + self._raw
                        self._raw_bytes += sum(len(p) for _, _, p, _ in raw)
                    if self._oldest is None and self._buffers:
                        self._oldest = time.monotonic()
                    self._flushing_rows -= snap_rows
                    # the in-flight share always drops by the FULL snapshot:
                    # decoded raw re-queues as row batches, undecoded raw
                    # re-queued (and re-counted) into _raw_bytes above
                    self._flushing_raw_bytes -= snap_raw_bytes
                    self._space.notify_all()
                raise
            if cut is not None:
                self.wal.truncate_upto(cut)
            with self._lock:
                self.stats["flushed"] += total
                self.stats["flushes"] += 1
                self._flushing_rows -= snap_rows
                self._flushing_raw_bytes -= snap_raw_bytes
                self._space.notify_all()
        return total + dist_rows

    def _write_buffers(self, buffers: dict[tuple[str, str], list[dict]]) -> int:
        from arc_spark.sources.ingest import columnar_to_arrow, merge_batches
        from arc_spark.sources.writer import (
            write_measurement,
            write_measurement_arrow,
        )

        total = 0
        for (db, meas), batches in buffers.items():
            decimals = self.decimal_config.get(meas)
            tables = [columnar_to_arrow(b, decimal_columns=decimals)
                      for b in batches]
            tag_cols = sorted(
                {c for b in batches for c in (b.get("tag_columns") or [])}
            )
            sort_keys = self.sort_keys_config.get(meas)  # None → tags+time
            # steady-state flushes write Parquet in-process (the reference's
            # design — no per-flush Spark job). A backlog bigger than one
            # trigger unit is CHUNKED and the chunks written concurrently
            # (sort + parquet encode release the GIL): drain after a burst
            # pays N× the per-chunk cost / parallelism, not one giant
            # single-threaded sort. Only a single payload beyond
            # direct_flush_max_rows takes the distributed Spark write.
            # half the trigger size: a steady-state snapshot (one trigger
            # unit, plus whatever accumulated while the previous flush ran)
            # splits across ≥2 concurrent chunk writers
            chunk_rows = max(min(self.max_buffer_rows, 2_000_000) // 2, 50_000)
            chunks: list[list] = [[]]
            acc = 0
            big: list = []
            for t in tables:
                if t.num_rows > self.direct_flush_max_rows:
                    big.append(t)
                    continue
                if acc + t.num_rows > chunk_rows and chunks[-1]:
                    chunks.append([])
                    acc = 0
                chunks[-1].append(t)
                acc += t.num_rows
            chunks = [c for c in chunks if c]

            written: list[str] = []  # list.extend is GIL-atomic per chunk

            def _write_chunk(group: list) -> int:
                merged = merge_batches(group)
                write_measurement_arrow(
                    merged, self.root, db, meas, tag_columns=tag_cols,
                    sort_keys=sort_keys, manifest=False, written_out=written,
                )
                return merged.num_rows

            if len(chunks) <= 1:
                n = sum(_write_chunk(c) for c in chunks)
            else:
                from concurrent.futures import ThreadPoolExecutor

                workers = min(len(chunks), 4)
                with ThreadPoolExecutor(max_workers=workers) as ex:
                    n = sum(ex.map(_write_chunk, chunks))
            if written:
                # manifest + ONE snapshot commit per measurement per flush:
                # readers see the whole flush or none of it (reference
                # Raft-manifest atomicity; a crash before the commit leaves
                # the chunk files invisible and the WAL replays the rows)
                total += self._publish(db, [(meas, n, tag_cols, written)])
            for t in big:
                df = self.spark.createDataFrame(t)
                write_measurement(df, self.root, db, meas,
                                  tag_columns=tag_cols,
                                  sort_keys=sort_keys,
                                  decimals=self._dec_manifest(meas))
                total += t.num_rows
        return total

    # -- crash recovery ----------------------------------------------------
    def recover(self, db: str = "default") -> int:
        """Replay WAL payloads written but not yet flushed (startup path,
        reference wal/recovery.go). Payload kind is sniffed: msgpack maps
        start with 0x80-0x8f/0xde/0xdf; anything else is line protocol.

        Returns the number of rows recovered. WAL truncation is suppressed
        while the replay iterator is live (flush() checks ``_recovering``)
        so a threshold-triggered flush cannot delete unread segments. Once
        the replay is fully read, suppression lifts and one final flush runs
        under the NORMAL rotate/truncate-upto protocol — so the flushed
        segments drop, while entries appended concurrently after the final
        snapshot keep their WAL backing (a full truncate here would destroy
        them). ``defer_decode`` is disabled during replay so the returned
        count reflects DECODED rows exactly (the deferred header-walk count
        is exact in practice but returns -1 on undeterminable payloads)."""
        if self.wal is None:
            return 0
        n = 0
        self._recovering = True
        prev_defer = self.defer_decode
        self.defer_decode = False
        try:
            from arc_spark.sources.ingest import MalformedPayloadError

            for _ts, payload in self.wal.replay():
                first = payload[:1]
                try:
                    if first and (0x80 <= first[0] <= 0x8F
                                  or first[0] in (0xDE, 0xDF)):
                        n += self.write_msgpack(db, payload, _wal=False)
                    else:
                        n += self.write_line_protocol(
                            db, payload, _wal=False)
                except (MalformedPayloadError, ValueError):
                    # a poison entry (pre-validation-era WAL, or bytes
                    # that no longer pass today's checks) must not make
                    # startup unrecoverable: CRC says the frame is what
                    # was written, so skipping is a decode-policy drop,
                    # not data loss from corruption — log-visible via
                    # the recovered-vs-flushed stats delta
                    continue
        finally:
            self.defer_decode = prev_defer
            self._recovering = False
        # replay fully read; flush with rotation-based truncation (drain
        # waits out any worker-scheduled flushes first)
        if self._flush_queue is not None:
            self.drain()
        else:
            self.flush()
        return n
