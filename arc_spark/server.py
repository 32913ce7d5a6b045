"""HTTP wire layer over QueryService/IngestService (reference internal/api/
server.go routes).

Every endpoint is one row of :data:`ROUTES` at the bottom of this module:
(method, path template with ``{name}`` segments, auth level, required
component, handler) — the reference declares its routes the same way,
once per module in ``RegisterRoutes``, with auth as middleware. One
dispatcher serves every row, in this order:

1. match the route: exact paths through a dict, then templates with the
   same segment count. A miss answers 404 and is counted under the one
   metrics key ``unmatched``, so random paths cannot grow the metrics;
2. authenticate ``Authorization: Bearer <token>`` against
   :class:`arc_spark.auth.AuthStore` (hashed tokens, SQLite), unless the
   route is ``public``;
3. apply the auth level: ``token`` takes any live token; ``writer`` and
   ``admin`` need one stored without a table restriction (a read-scoped
   token must neither inject rows nor manage the server);
4. answer 503 when the route's component (an optional ``ArcServer``
   attribute such as ``ingest`` or ``audit``) is not attached;
5. read a POST/PUT/PATCH body once, refusing an oversized
   ``Content-Length`` with 413 before a byte is read;
6. call the handler with the path parameters. Bad client input (a
   non-numeric number argument, a non-JSON body) answers 400 and never
   touches the circuit breaker; an exception that escapes a handler
   answers 500.

RBAC reuses the engine-side plan-walk check — the store is plugged in as
``QueryService.allowed_tables``.

stdlib ``ThreadingHTTPServer``: no framework dependency; each request
handles on its own thread, and Spark jobs launched per request run
concurrently under the engine's existing governance (rate window, row cap,
duration watchdog, cancellable job groups).
"""

from __future__ import annotations

import functools
import json
import logging
import threading
import time
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable, NamedTuple
from urllib.parse import parse_qs, urlparse

from arc_spark.api import IngestService, AccessDeniedError, QueryService
from arc_spark.audit import AuditLogger
from arc_spark.auth import AuthStore
from arc_spark.governance import QueryTimeout, RateLimitExceeded
from arc_spark.plans.validator import SqlValidationError
from arc_spark.rbac import RBACError
from arc_spark.resilience import CircuitBreaker, CircuitOpenError, Debouncer
from arc_spark.sources.edgesync import ReconcileTooLarge, SyncConflict
from arc_spark.sources.edgesync_bundle import BundleAlreadyImported, BundleError
from arc_spark.sources.ingest import DecompressionBombError, MalformedPayloadError
from arc_spark.sources.line_protocol import LineProtocolError
from arc_spark.sources.mqtt_subscriptions import (
    MqttValidationError,
    SubscriptionConflict,
    SubscriptionNotFound,
    SubscriptionRunning,
)

# client-input faults: HTTP 400, breaker-neutral (a hostile payload must
# not open the circuit for everyone else — reference api/errors.go)
_PAYLOAD_ERRORS = (LineProtocolError, DecompressionBombError,
                   MalformedPayloadError)

_log = logging.getLogger(__name__)

_FMT_CONTENT_TYPES = {
    "json": "application/json",
    "arrow": "application/vnd.apache.arrow.stream",
    "msgpack": "application/msgpack",
}


class HttpError(Exception):
    """A client-facing failure: the dispatcher answers ``status`` with
    ``{"error": message}``. Raised for bad client input, and by
    :meth:`_Handler.run` for a mapped engine error. Inside ``run`` it is
    a user error: breaker-neutral."""

    def __init__(self, status: int, message: str,
                 headers: dict | None = None):
        super().__init__(message)
        self.status = status
        self.headers = headers


def _number(kind, src: dict, key: str, default):
    if key not in src:
        return default
    try:
        return kind(src[key])
    except (TypeError, ValueError):
        raise HttpError(400, f"bad {key} {src[key]!r}: expected "
                             f"{'an integer' if kind is int else 'a number'}"
                        ) from None


def _int_arg(src: dict, key: str, default=None):
    """``int(src[key])`` for a query-string or JSON-body number, ``default``
    when absent; a value that is no integer is the client's fault (400)."""
    return _number(int, src, key, default)


def _float_arg(src: dict, key: str, default=None):
    return _number(float, src, key, default)


class _Handler(BaseHTTPRequestHandler):
    """One request. ``arc`` is bound per server (see ``ArcServer``)."""

    arc: "ArcServer"

    def log_message(self, *a):  # quiet test runs
        pass

    def parse_request(self):
        # request start time for audit duration_ms (middleware.go stamps
        # start before the handler runs)
        self._t0 = time.time()
        self._actor = "anonymous"
        self._route_key = "unmatched"
        self._replied = False
        return super().parse_request()

    # perfbench/tracing.py wraps do_GET/do_POST on the handler class
    def do_GET(self):
        self._dispatch()

    def do_POST(self):
        self._dispatch()

    def do_PUT(self):
        self._dispatch()

    def do_PATCH(self):
        self._dispatch()

    def do_DELETE(self):
        self._dispatch()

    def _dispatch(self):
        url = urlparse(self.path)
        self.args = {k: v[0] for k, v in parse_qs(url.query).items()}
        hit = _match(self.command, url.path)
        if hit is None:
            return self.json(404, {"error": "not found"})
        route, params = hit
        self._route_key = f"{route.method} {route.template}"
        bearer = self.headers.get("Authorization", "")
        self.token = bearer.removeprefix("Bearer ").strip() \
            if bearer.startswith("Bearer ") else ""
        self.body = b""
        arc = self.arc
        try:
            if route.auth != PUBLIC and arc.auth is not None:
                info = arc.auth.verify(self.token)
                if info is None:
                    raise HttpError(401, "invalid or missing token")
                self._actor = info["name"]  # audit actor (middleware.go)
                if route.auth != TOKEN and info["allowed_tables"] is not None:
                    raise HttpError(403, _FORBIDDEN[route.auth])
            if route.needs and getattr(arc, route.needs[0]) is None:
                raise HttpError(503, route.needs[1])
            if self.command in ("POST", "PUT", "PATCH"):
                self.body = self._read_body()
            route.handler(self, **params)
        except Exception as e:
            if self._replied:
                raise  # the reply itself failed: nothing left to answer
            if not isinstance(e, HttpError):
                _log.exception("%s %s failed", self.command, self.path)
                e = HttpError(500, f"{type(e).__name__}: {e}")
            self.reply(e.status, json.dumps({"error": str(e)}).encode(),
                       headers=e.headers)

    def _read_body(self) -> bytes:
        try:
            length = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            raise HttpError(400, "bad Content-Length") from None
        if length > self.arc.max_request_bytes:
            # refused BEFORE reading: the declared size alone must not buy
            # a giant allocation (the reference's fiber BodyLimit)
            raise HttpError(413, f"request body {length} bytes exceeds "
                                 f"limit {self.arc.max_request_bytes}")
        return self.rfile.read(length) if length > 0 else b""

    def json_body(self) -> dict:
        try:
            req = json.loads(self.body or b"{}")
        except ValueError:
            raise HttpError(400, "body must be JSON") from None
        if not isinstance(req, dict):
            raise HttpError(400, "body must be a JSON object")
        return req

    def reply(self, code: int, body: bytes, ctype: str = "application/json",
              headers: dict | None = None):
        arc = self.arc
        dur_ms = (time.time() - self._t0) * 1000
        # metrics key by route template (bounded); the logs ring and the
        # audit record keep the raw path (both bounded or intended logs)
        key, path = self._route_key, urlparse(self.path).path
        with arc._metrics_lock:
            arc.metrics[f"{key} {code}"] = arc.metrics.get(
                f"{key} {code}", 0) + 1
            ep = arc.endpoint_ms.setdefault(key, [0, 0.0, 0.0])
            ep[0] += 1
            ep[1] += dur_ms
            ep[2] = max(ep[2], dur_ms)
            arc.logs.append({"ts": time.time(), "method": self.command,
                             "path": path, "status": code})
        if arc.audit is not None:
            q = self.args
            arc.audit.record_request(
                method=self.command, path=path, status_code=code,
                actor=self._actor,
                database=self.headers.get("x-arc-database") or q.get("db", ""),
                measurement=(self.headers.get("x-arc-measurement")
                             or q.get("measurement", "")),
                ip_address=self.client_address[0],
                user_agent=self.headers.get("User-Agent", ""),
                duration_ms=int(dur_ms),
            )
        self._replied = True
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def json(self, code: int, obj):
        # default=str: timestamps/decimals serialize as ISO text (the
        # typed-JSON streaming path handles types precisely; this covers
        # the row-dict endpoints)
        self.reply(code, json.dumps(obj, default=str).encode())

    def run(self, fn):
        """``fn()`` under the circuit breaker, with the engine-error →
        HTTP-status mapping (reference api/errors.go semantics). Engine
        failures and timeouts trip the breaker; USER errors (validation,
        RBAC, rate, bad payloads, :class:`HttpError`) deliberately do not —
        a client sending bad input must not be able to open the circuit
        for everyone else."""
        cb = self.arc.breaker
        if cb is not None:
            try:
                cb.allow()
            except CircuitOpenError as e:
                raise HttpError(503, str(e), {"Retry-After": str(
                    max(1, int(cb.remaining() + 0.999)))}) from None
        try:
            result = fn()
        except (HttpError, SqlValidationError, AccessDeniedError,
                RateLimitExceeded, *_PAYLOAD_ERRORS) as e:
            if cb is not None:
                # neutral, not success: in half-open a user error must
                # release the probe slot without closing the circuit
                cb.record_neutral()
            if isinstance(e, HttpError):
                raise
            status = (403 if isinstance(e, AccessDeniedError) else
                      429 if isinstance(e, RateLimitExceeded) else 400)
            raise HttpError(status, str(e)) from e
        except Exception as e:
            if cb is not None:
                cb.record(False)
            if isinstance(e, QueryTimeout):
                raise HttpError(408, str(e)) from e
            raise HttpError(500, f"{type(e).__name__}: {e}") from e
        if cb is not None:
            cb.record(True)
        return result


# -- public probes ----------------------------------------------------------
def _ready(h):
    # readiness (reference /ready): the engine is ready when its
    # SparkSession answers — liveness (/health) is not enough for a load
    # balancer to route queries
    try:
        h.arc.query.spark.sparkContext.applicationId
    except Exception:
        return h.json(503, {"status": "not ready"})
    h.json(200, {"status": "ready"})


def _msgpack_spec(h):
    # the columnar MessagePack wire spec (reference
    # /api/v1/write/msgpack/spec serves its protocol doc)
    h.json(200, {
        "format": "columnar",
        "fields": {
            "m": "measurement name (string, required)",
            "columns": "map column -> array of values; "
                       "'time' required (int64 epoch)",
            "tags": "list of column names treated as tags",
        },
        "time_units": "auto-normalized: s/ms/us/ns by magnitude; stored "
                      "as microseconds",
        "compression": ["none", "gzip", "zstd"],
        "batch_alternative": "list of row maps also accepted (row form)",
    })


def _auth_verify(h):
    # cheap credential probe for agents/load balancers (reference
    # auth_routes.go:54 verifyToken — a public route that self-reports
    # validity instead of the generic 401, so a prober can distinguish
    # "bad token" from "route missing"). Never echoes the token;
    # allowed_tables stays server-side.
    auth = h.arc.auth
    if auth is None:
        return h.json(200, {"valid": True, "auth_disabled": True})
    if not h.token:
        return h.json(401, {"valid": False, "error": "no token provided"})
    info = auth.verify(h.token)
    if info is None:
        return h.json(401, {"valid": False,
                            "error": "invalid or expired token"})
    h.json(200, {
        "valid": True,
        "token_info": {"name": info["name"],
                       "restricted": info["allowed_tables"] is not None},
        "permissions": info["permissions"],
    })


# -- observability ----------------------------------------------------------
def _prometheus(h):
    # Prometheus text exposition (reference internal/monitoring): per-route
    # request counts + engine counters + query registry. Snapshot UNDER
    # _metrics_lock, reply OUTSIDE it: reply() takes the lock itself.
    arc = h.arc
    with arc._metrics_lock:
        snap = dict(arc.metrics)
    lines = ["# TYPE arc_http_requests_total counter"]
    for key, n in sorted(snap.items()):
        route, code = key.rsplit(" ", 1)
        method, _, path = route.rpartition(" ")
        lines.append(f'arc_http_requests_total{{method="{method}",'
                     f'path="{path}",code="{code}"}} {n}')
    if arc.ingest is not None:
        st = arc.ingest.stats
        lines += [
            "# TYPE arc_ingest_rows_acked_total counter",
            f"arc_ingest_rows_acked_total {st['acked']}",
            "# TYPE arc_ingest_rows_flushed_total counter",
            f"arc_ingest_rows_flushed_total {st['flushed']}",
            "# TYPE arc_ingest_flushes_total counter",
            f"arc_ingest_flushes_total {st['flushes']}",
        ]
    by_status, total_secs = arc.query.registry.totals()
    lines.append("# TYPE arc_queries_total counter")
    for status, n in sorted(by_status.items()):
        lines.append(f'arc_queries_total{{status="{status}"}} {n}')
    lines.append("# TYPE arc_queries_by_route_total counter")
    for route, n in arc.query.registry.route_totals().items():
        lines.append(f'arc_queries_by_route_total{{route="{route}"}} {n}')
    lines += ["# TYPE arc_query_seconds_total counter",
              f"arc_query_seconds_total {total_secs:.6f}"]
    h.reply(200, ("\n".join(lines) + "\n").encode(),
            "text/plain; version=0.0.4")


def _metrics_json(h):
    # JSON counters view (reference /api/v1/metrics)
    with h.arc._metrics_lock:
        snap = dict(h.arc.metrics)
    out = {"http_requests": snap}
    if h.arc.ingest is not None:
        out["ingest"] = dict(h.arc.ingest.stats)
    h.json(200, out)


def _metrics_endpoints(h):
    # per-endpoint latency summary (reference /api/v1/metrics/endpoints)
    with h.arc._metrics_lock:
        snap = {k: list(v) for k, v in h.arc.endpoint_ms.items()}
    h.json(200, {"endpoints": {
        k: {"count": n, "avg_ms": round(s_ / n, 2) if n else 0,
            "max_ms": round(mx, 2)}
        for k, (n, s_, mx) in sorted(snap.items())
    }})


def _metrics_timeseries(h, metric_type):
    # ring-buffer time-series metrics (reference server.go:183 over
    # internal/metrics/timeseries.go)
    ts = h.arc.timeseries
    dm = _int_arg(h.args, "duration_minutes", 30)
    try:
        pts = ts.get(metric_type, dm)
    except ValueError as e:
        return h.json(400, {"error": str(e),
                            "valid_types": list(ts.VALID_TYPES)})
    import datetime as _dt

    h.json(200, {
        "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        "type": metric_type,
        "duration_minutes": max(1, min(dm, 1440)),
        "points_count": len(pts),
        "data": pts,
    })


def _jvm_memory(h) -> dict:
    rt = h.arc.query.spark._jvm.java.lang.Runtime.getRuntime()
    return {"total_bytes": rt.totalMemory(), "free_bytes": rt.freeMemory(),
            "max_bytes": rt.maxMemory()}


def _metrics_memory(h):
    # driver process + JVM heap view (reference /api/v1/metrics/memory)
    import resource

    jvm = _jvm_memory(h)
    h.json(200, {
        "driver_max_rss_kb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
        **{f"jvm_{k}": v for k, v in jvm.items()},
    })


def _memstats(h):
    # memory attribution for support cases (reference internal/api/
    # debug.go handleMemstats: here Python heap vs JVM heap vs RSS)
    import gc
    import resource
    import sys as _sys

    jvm = _jvm_memory(h)
    h.json(200, {
        "process": {"max_rss_kb": resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss},
        "python": {
            "allocated_blocks": (_sys.getallocatedblocks()
                                 if hasattr(_sys, "getallocatedblocks")
                                 else None),
            "gc_objects": len(gc.get_objects()),
            "gc_counts": gc.get_count(),
        },
        "jvm": {**jvm, "used_bytes": jvm["total_bytes"] - jvm["free_bytes"]},
    })


def _memory_trim(h):
    # memtrim analogue (reference internal/memtrim, debounced by
    # internal/throttle): the managed heap is the JVM's, so the trim is a
    # GC hint — throttled process-wide
    if not h.arc.memtrim.try_acquire():
        raise HttpError(429, "trim throttled", {"Retry-After": str(
            max(1, int(h.arc.memtrim.remaining() + 0.999)))})
    h.arc.query.spark._jvm.java.lang.System.gc()
    h.json(200, {"status": "trimmed"})


def _query_pool(h):
    # in-flight/recent query pool stats (reference /api/v1/metrics/query-pool)
    infos = h.arc.query.registry.list()
    by_status: dict[str, int] = {}
    for i in infos:
        by_status[i.status] = by_status.get(i.status, 0) + 1
    h.json(200, {"total_tracked": len(infos), "by_status": by_status,
                 "running": by_status.get("running", 0)})


def _logs(h):
    # recent-request ring buffer (reference /api/v1/logs)
    limit = _int_arg(h.args, "limit", 100)
    with h.arc._metrics_lock:
        entries = list(h.arc.logs)[-limit:] if limit > 0 else []
    h.json(200, {"logs": entries})


def _import_stats(h):
    # per-lane import totals (reference /api/v1/import/stats)
    with h.arc._metrics_lock:
        snap = {k: dict(v) for k, v in h.arc.import_stats.items()}
    h.json(200, {"imports": snap})


def _tle_stats(h):
    with h.arc._metrics_lock:
        st = dict(h.arc.import_stats.get("tle", {"files": 0, "rows": 0}))
    h.json(200, st)


def _ingest_stats(h):
    h.json(200, dict(h.arc.ingest.stats))


def _mqtt_health(h):
    # reference internal/mqtt health/stats surface
    h.json(200, {"status": "ok",
                 "subscriptions": len(h.arc.mqtt.subscriptions)})


def _audit(h):
    # audit trail query (reference audit.go Query; admin — the trail names
    # actors and databases)
    q, audit = h.args, h.arc.audit
    audit.flush()  # serve a read-your-writes view
    entries = audit.query(
        event_type=q.get("event_type", ""), actor=q.get("actor", ""),
        database=q.get("database", ""),
        since=_float_arg(q, "since"), until=_float_arg(q, "until"),
        limit=_int_arg(q, "limit", 100), offset=_int_arg(q, "offset", 0))
    h.json(200, {"entries": entries, "dropped": audit.dropped})


def _audit_stats(h):
    since = _float_arg(h.args, "since")
    h.arc.audit.flush()
    h.json(200, {"stats": h.arc.audit.stats(since)})


def _cache_stats(h):
    # pruned-plan cache observability (reference /cache/stats, A9)
    cat = h.arc.query.catalog
    cache = getattr(cat, "_prune_plan_cache", None) or {}
    stats = getattr(cat, "_prune_cache_stats", None) or {"hits": 0,
                                                         "misses": 0}
    h.json(200, {"entries": len(cache), "capacity": 256,
                 "hits": stats["hits"], "misses": stats["misses"],
                 "epoch": getattr(cat, "epoch", None)})


def _cache_invalidate(h):
    # drop the pruned-plan cache (reference /cache/invalidate)
    cache = getattr(h.arc.query.catalog, "_prune_plan_cache", None)
    n = len(cache) if cache else 0
    if cache:
        cache.clear()
    h.json(200, {"invalidated": n})


# -- databases --------------------------------------------------------------
def _measurements(h):
    h.json(200, {"measurements": h.arc.query.catalog.measurements(
        h.args.get("db", ""))})


def _db_measurements(h, name):
    h.json(200, {"measurements": h.arc.query.catalog.measurements(name)})


def _database(h, name):
    # reference databases.go handleGet: existence + measurement count
    cat = h.arc.query.catalog
    if name not in cat.databases():
        raise HttpError(404, f"database {name!r} not found")
    meas = cat.measurements(name)
    h.json(200, {"database": name, "measurement_count": len(meas),
                 "measurements": meas})


def _create_database(h):
    # create database = create the namespace prefix (reference
    # databases.go handleCreate)
    req = h.json_body()
    name = req.get("name") or req.get("database")
    if not name or not h.arc.query._IDENT_RE.match(name):
        raise HttpError(400, "invalid database name")
    from arc_spark.storage import backend_for

    root = h.arc.query.catalog.root
    bk = backend_for(root)
    if bk.isdir(bk.join(root, name)):
        raise HttpError(409, f"database {name!r} exists")
    bk.mkdirs(bk.join(root, name))
    h.json(201, {"created": name})


def _delete_database(h, name):
    # reference databases.go handleDelete: admin + ?confirm=true +
    # existence check; removes the whole database prefix on every tier
    if h.args.get("confirm") != "true":
        raise HttpError(400, "confirmation required: add ?confirm=true")
    cat = h.arc.query.catalog
    if name not in cat.databases():
        raise HttpError(404, f"database {name!r} not found")
    from arc_spark.storage import backend_for

    removed = 0
    for tier in filter(None, (cat.root, cat.cold_root, cat.daily_root)):
        bk = backend_for(tier)
        p = bk.join(tier, name)
        if bk.isdir(p):
            bk.remove_tree(p)
            removed += 1
    h.json(200, {"deleted": name, "tiers_removed": removed})


# -- queries ----------------------------------------------------------------
def _post_query(h, fmt=None):
    """POST /api/v1/query {"sql", "format"} → typed JSON, Arrow IPC stream
    or columnar MessagePack (reference query.go:1396); the dedicated
    /arrow and /msgpack routes fix the format (query_arrow.go /
    query_msgpack.go)."""
    req = h.json_body()
    sql = req.get("sql") or req.get("query")
    if not sql:
        raise HttpError(400, "missing 'sql'")
    fmt = fmt or req.get("format", "json")
    if fmt not in _FMT_CONTENT_TYPES:
        raise HttpError(400, f"unknown format {fmt!r}")
    # x-arc-database scopes the request to one database (query.go:1484)
    db = h.headers.get("x-arc-database") or None
    t0 = time.perf_counter()
    out = h.run(lambda: h.arc.query.execute(sql, token=h.token, fmt=fmt,
                                            db=db))
    # the reference reports execution time alongside the payload
    # (query_arrow.go:27-31)
    exec_hdr = {"X-Arc-Execution-Time-Ms":
                f"{(time.perf_counter() - t0) * 1000:.1f}"}
    if fmt != "json":
        return h.reply(200, out, _FMT_CONTENT_TYPES[fmt], exec_hdr)
    if isinstance(out, list) and out and isinstance(out[0], dict):
        return h.json(200, {"rows": out})  # SHOW intercepts
    h.reply(200, ("[" + ",".join(out) + "]").encode()
            if isinstance(out, list) else json.dumps(out).encode(),
            headers=exec_hdr)


def _get_measurement(h, measurement):
    """GET /api/v1/query/<measurement>?db=&where=&order_by=&limit=&format=
    &snapshot= (reference query.go:3923, A13): one SELECT through
    ``QueryService.execute`` (:meth:`QueryService.query_measurement`);
    ``snapshot=N`` pins the read to a committed snapshot version (time
    travel)."""
    q = h.args
    fmt = q.get("format", "json")
    if fmt not in _FMT_CONTENT_TYPES:
        raise HttpError(400, f"bad format {fmt!r}")
    snap = q.get("snapshot")
    if snap is not None and not snap.lstrip("-").isdigit():
        raise HttpError(400, "snapshot must be an integer version")
    limit = _int_arg(q, "limit", 1000)
    # this route's JSON is {"rows": [row dicts]}, built from Rows
    wire = "rows" if fmt == "json" else fmt
    out = h.run(lambda: h.arc.query.query_measurement(
        q.get("db", "default"), measurement, where=q.get("where"),
        order_by=q.get("order_by"), limit=limit, token=h.token, fmt=wire,
        snapshot=None if snap is None else int(snap)))
    if fmt == "json":
        return h.json(200, {"rows": [r.asDict() for r in out]})
    h.reply(200, out, _FMT_CONTENT_TYPES[fmt])


def _estimate(h):
    # reference query.go estimate (A14)
    sql = h.json_body().get("sql")
    if not sql:
        raise HttpError(400, "missing 'sql'")

    def _plan():
        from arc_spark.governance import estimate_rows
        from arc_spark.plans.validator import validate_read_only

        validate_read_only(h.arc.query.spark, sql)
        h.arc.query._check_rbac(h.token, sql)
        rows, method = estimate_rows(h.arc.query.plan(sql))
        return {"estimated_rows": rows, "method": method}

    h.json(200, h.run(_plan))


def _query_row(i) -> dict:
    return {"query_id": i.query_id, "sql": i.sql, "status": i.status,
            "started_at": i.started_at, "finished_at": i.finished_at,
            "rows": i.rows, "error": i.error, "route": i.route}


def _list_queries(h, which):
    # registry listing (query_management.go, A38); "history" is finished
    # queries, most recent first (queryregistry GetHistory ring buffer)
    infos = getattr(h.arc.query.registry, which)()
    h.json(200, {"queries": [_query_row(i) for i in infos]})


def _get_query(h, query_id):
    # one query by id — active first, then history (reference GetQuery)
    i = h.arc.query.registry.get(query_id)
    if i is None:
        raise HttpError(404, f"query {query_id!r} not found")
    h.json(200, _query_row(i))


def _cancel_query(h, query_id):
    cancelled = h.arc.query.registry.cancel(query_id)
    h.json(200 if cancelled else 404,
           {"cancelled": cancelled, "query_id": query_id})


# -- writes and imports -----------------------------------------------------
def _lp_precision(q: dict) -> str:
    """Validated ?precision= for the LP write surfaces. The whitelist is
    the PARSER's own table (single source of truth — a deferred flush must
    never see a precision the boundary admitted but the parser rejects;
    the reference 400s upfront the same way, lineprotocol.go:180-188).

    Intentional compat SUPERSET of the reference: the table also admits
    ``u`` (InfluxDB-1.x spelling of µs) which the reference's handleWrite
    rejects — clients written against real InfluxDB 1.x send it."""
    from arc_spark.sources.line_protocol import PRECISION_TO_US

    prec = q.get("precision", "ns")
    if prec not in PRECISION_TO_US:
        raise HttpError(400, f"invalid precision {prec!r}: must be one of "
                             + ", ".join(sorted(PRECISION_TO_US)))
    return prec


def _write_msgpack(h):
    n = h.run(lambda: h.arc.ingest.write_msgpack(
        h.args.get("db", "default"), h.body))
    h.json(200, {"written": n})


def _write_line(h):
    # POST /api/v1/write/line|line-protocol?db=&precision= (write.go)
    prec = _lp_precision(h.args)
    db = h.headers.get("x-arc-database") or h.args.get("db", "default")
    n = h.run(lambda: h.arc.ingest.write_line_protocol(db, h.body,
                                                       precision=prec))
    h.json(200, {"written": n})


def _influx_write(h, v2):
    # InfluxDB-compatible LP writes (reference lineprotocol.go:96-144):
    # 1.x ``POST /write?db=&rp=&precision=`` (rp ignored) and 2.x ``POST
    # /api/v2/write?org=&bucket=&precision=`` (org ignored). The
    # x-arc-database header takes precedence, precision is validated
    # UPFRONT (a bad precision must 400 here, not poison a deferred flush
    # later), and success is 204 — the contract Telegraf clients expect
    prec = _lp_precision(h.args)
    db = (h.headers.get("x-arc-database") or (v2 and h.args.get("bucket"))
          or h.args.get("db") or "default")
    h.run(lambda: h.arc.ingest.write_line_protocol(db, h.body,
                                                   precision=prec))
    h.reply(204, b"")


def _flush(h):
    n = h.run(h.arc.ingest.flush)
    h.json(200, {"flushed_rows": n})


def _import_lp(h):
    # import.go bulk lane: LP through the distributed decode path
    n = h.run(lambda: h.arc.ingest._write_line_protocol_distributed(
        h.args.get("db", "default"), h.body, h.args.get("precision", "ns")))
    h.arc._count_import("lp", n)
    h.json(200, {"written": n})


def _import_file(h, kind):
    """POST /api/v1/import/csv|parquet?db=&measurement=&time_column=
    &time_format=&delimiter=&header=&tags= (reference internal/api/
    import_inprocess.go:35-1166). The body is the raw file; it is staged
    to a temp file and imported through the distributed reader (schema
    inference + time coercion all Catalyst-side), then written into the
    measurement tree."""
    q = h.args

    def _bulk():
        import os
        import tempfile

        from arc_spark.sources.bulk_import import (
            import_csv,
            import_parquet,
            import_result,
        )
        from arc_spark.sources.writer import write_measurement

        fd, tmp = tempfile.mkstemp(prefix="arc-import-", suffix="." + kind)
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(h.body)
            if kind == "csv":
                df = import_csv(
                    h.arc.query.spark, tmp,
                    time_column=q.get("time_column", "time"),
                    time_format=q.get("time_format", ""),
                    delimiter=q.get("delimiter", ","),
                    header=q.get("header", "true").lower() != "false")
            else:
                df = import_parquet(
                    h.arc.query.spark, tmp,
                    time_column=q.get("time_column", "time"),
                    time_format=q.get("time_format", ""))
            res = import_result(df)
            write_measurement(
                df, h.arc.ingest.root, q.get("db", "default"),
                q.get("measurement", "imported"),
                tag_columns=[t for t in q.get("tags", "").split(",") if t])
            return res
        finally:
            os.unlink(tmp)

    out = h.run(_bulk)
    h.arc._count_import(kind, out.get("rows_imported", 0))
    h.json(200, out)


def _import_tle(h):
    # reference serves TLE on both the import and write families
    # (internal/api/tle.go)
    def _tle():
        from arc_spark.sources.tle import tle_to_df
        from arc_spark.sources.writer import write_measurement

        df = tle_to_df(h.arc.query.spark, h.body.decode("utf-8", "replace"))
        n = df.count()
        write_measurement(df, h.arc.ingest.root,
                          h.args.get("db", "default"),
                          h.args.get("measurement", "tle"),
                          tag_columns=["norad_id"])
        return n

    n = h.run(_tle)
    h.arc._count_import("tle", n)
    h.json(200, {"written": n})


# -- edge sync (hub side) ---------------------------------------------------
def _edge_status(h):
    # edgesync registry.go spoke activity + hubindex size
    rx = h.arc.edge_receiver
    h.json(200, {"indexed_files": rx.index.count(), "spokes": rx.activity})


def _edge_reconcile(h):
    # hub-side "which of these do you have?" (reference edgesync
    # reconcile.go; capped batch, spoke pages)
    entries = h.json_body().get("entries") or []
    try:
        out = h.arc.edge_receiver.reconcile(entries)
    except ReconcileTooLarge as e:
        raise HttpError(413, str(e)) from None
    except (ValueError, KeyError, TypeError) as e:
        raise HttpError(400, str(e)) from None
    h.json(200, out)


def _edge_call(h, fn, *args, **kw):
    """Receiver call with the upload routes' mapping: an immutability
    conflict is 409, a bad digest/offset/session 400."""
    try:
        out = fn(*args, **kw)
    except SyncConflict as e:
        raise HttpError(409, str(e)) from None
    except (ValueError, TypeError) as e:
        raise HttpError(400, str(e)) from None
    h.json(200, out)


def _check_upload_size(h):
    if len(h.body) > h.arc.max_upload_bytes:
        raise HttpError(413, f"payload {len(h.body)} bytes exceeds "
                             f"single-request cap {h.arc.max_upload_bytes};"
                             " send larger files through /edge/upload/begin"
                             "|append|finish in parts within the cap")


def _edge_upload(h):
    # verified file receive (edgesync receive.go: stage → verify sha →
    # promote → commit)
    _check_upload_size(h)
    _edge_call(h, h.arc.edge_receiver.receive, h.args.get("path", ""),
               h.args.get("sha256", ""), h.body,
               spoke_id=h.headers.get("X-Arc-Spoke-Id", ""))


def _edge_begin(h):
    # chunked transfer: open or resume a session; the response offset
    # lets a spoke continue an interrupted upload
    req = h.json_body()
    _edge_call(h, h.arc.edge_receiver.begin, req.get("path", ""),
               req.get("sha256", ""), _int_arg(req, "size", -1),
               spoke_id=h.headers.get("X-Arc-Spoke-Id", ""))


def _edge_append(h):
    _check_upload_size(h)
    _edge_call(h, h.arc.edge_receiver.append, h.args.get("upload_id", ""),
               _int_arg(h.args, "offset", -1), h.body)


def _edge_finish(h):
    _edge_call(h, h.arc.edge_receiver.finish, h.args.get("upload_id", ""))


# -- air-gap bundles and spokes (edgesync_import.go / edgesync_admin.go) ----
def _bundle_import(h):
    # operator route, admin token — a different audience from the
    # spoke-facing HMAC'd upload routes
    req = h.json_body()
    if not req.get("dir"):
        raise HttpError(400, "missing 'dir'")
    try:
        out = h.arc.bundle_importer.import_bundle(
            h.arc.bundle_policy.resolve(req["dir"]))
    except BundleAlreadyImported as e:
        raise HttpError(409, str(e)) from None
    except BundleError as e:
        raise HttpError(400, str(e)) from None
    h.json(200, out)


def _bundle_history(h, spoke_id):
    limit = _int_arg(h.args, "limit", 50)
    h.json(200, {"spoke_id": spoke_id,
                 "bundles": h.arc.bundle_importer.index.list_by_spoke(
                     spoke_id, limit=limit)})


def _list_spokes(h):
    # which spokes exist, enabled state, registration time — secrets
    # excluded (admin-only: the spoke list is a map of edge deployments)
    h.json(200, {"spokes": h.arc.bundle_registry.list()})


def _get_spoke(h, spoke_id):
    s = h.arc.bundle_registry.get(spoke_id)
    if s is None:
        raise HttpError(404, "spoke not registered")
    h.json(200, {"spoke_id": spoke_id, "enabled": s["enabled"]})


def _register_spoke(h):
    # register/replace an air-gap spoke + shared secret
    req = h.json_body()
    if not req.get("spoke_id") or not req.get("secret"):
        raise HttpError(400, "missing spoke_id/secret")
    h.arc.bundle_registry.register(req["spoke_id"], req["secret"],
                                   enabled=bool(req.get("enabled", True)))
    h.json(201, {"registered": req["spoke_id"]})


def _rotate_spoke(h, spoke_id):
    # re-mints the shared secret server-side and shows it exactly once —
    # rotation without downtime, which replace-on-register can't provide
    new = h.arc.bundle_registry.rotate(spoke_id)
    if new is None:
        raise HttpError(404, "spoke not registered")
    h.json(200, {"spoke_id": spoke_id, "secret": new,
                 "warning": "The previous secret no longer authenticates. "
                            "Reconfigure the spoke before its next contact "
                            "window."})


def _enable_spoke(h, spoke_id, enabled):
    # reversible (registration + counters survive, unlike DELETE)
    if not h.arc.bundle_registry.set_enabled(spoke_id, enabled):
        raise HttpError(404, "spoke not registered")
    h.json(200, {"spoke_id": spoke_id, "enabled": enabled})


def _delete_spoke(h, spoke_id):
    # registration gone; files already received are retained
    deleted = h.arc.bundle_registry.delete(spoke_id)
    h.json(200 if deleted else 404, {"deleted": deleted,
                                     "spoke_id": spoke_id})


# -- tokens and governance (auth_routes.go / governance.go) -----------------
def _create_token(h):
    req = h.json_body()
    if not req.get("name"):
        raise HttpError(400, "missing 'name'")
    tok = h.run(lambda: h.arc.auth.create_token(req["name"],
                                                req.get("allowed_tables")))
    h.json(201, {"token": tok, "name": req["name"]})


def _rotate_token(h, name):
    # re-mint a token's secret in place (reference rotate)
    new = h.arc.auth.rotate(name)
    if new is None:
        raise HttpError(404, f"no token {name!r}")
    h.json(200, {"name": name, "token": new})


def _revoke_token(h, name):
    revoked = h.arc.auth.revoke(name)
    h.json(200 if revoked else 404, {"revoked": revoked, "name": name})


def _list_policies(h):
    # reference governance.go ListPolicies (keys MASKED)
    pol = h.arc.query.governor.list_policies()
    h.json(200, {"policies": pol, "count": len(pol)})


def _policy_target(h) -> tuple[dict, str]:
    # the target token rides the BODY (not a URL param): our store keys by
    # plaintext and tokens must never appear in paths/access logs
    req = h.json_body()
    if not req.get("token"):
        raise HttpError(400, "missing 'token'")
    return req, req["token"]


def _set_policy(h):
    # per-token limits (reference internal/api/governance.go)
    from arc_spark.governance import TokenPolicy

    req, target = _policy_target(h)
    h.arc.query.governor.set_policy(target, TokenPolicy(
        max_queries_per_minute=req.get("max_queries_per_minute"),
        max_rows=req.get("max_rows"),
        max_duration_s=req.get("max_duration_s"),
    ))
    h.json(200, {"status": "ok"})


def _policy_usage(h):
    h.json(200, h.arc.query.governor.usage(_policy_target(h)[1]))


def _delete_policy(h):
    if not h.arc.query.governor.delete_policy(_policy_target(h)[1]):
        raise HttpError(404, "no policy for token")
    h.json(200, {"deleted": True})


# -- continuous queries and the maintenance scheduler -----------------------
def _list_cqs(h):
    h.json(200, {"continuous_queries": [
        {"name": c.name, "sql": c.sql, "dest_db": c.dest_db,
         "dest_measurement": c.dest_measurement,
         "interval_seconds": c.interval_seconds}
        for c in h.arc.cqs.values()
    ]})


def _register_cq(h):
    req = h.json_body()
    missing = [k for k in ("name", "sql", "dest_db", "dest_measurement",
                           "interval_seconds") if not req.get(k)]
    if missing:
        raise HttpError(400, f"missing {missing}")
    interval = _int_arg(req, "interval_seconds")

    def _register():
        import os

        from arc_spark.plans.validator import validate_read_only
        from arc_spark.streaming.cq import ContinuousQuery

        validate_read_only(h.arc.query.spark, req["sql"].format(
            start_time="TIMESTAMP '2024-01-01 00:00:00'",
            end_time="TIMESTAMP '2024-01-01 01:00:00'"))
        h.arc.cqs[req["name"]] = ContinuousQuery(
            name=req["name"], sql=req["sql"], dest_db=req["dest_db"],
            dest_measurement=req["dest_measurement"],
            interval_seconds=interval, tag_columns=req.get("tag_columns"),
            # checkpoints live with the data, never in CWD
            checkpoint_dir=os.path.join(h.arc.ingest.root, ".cq_checkpoints"))
        return {"registered": req["name"]}

    h.json(201, h.run(_register))


def _cq(h, name):
    cq = h.arc.cqs.get(name)
    if cq is None:
        raise HttpError(404, f"no CQ {name!r}")
    return cq


def _run_cq(h, name):
    cq = _cq(h, name)
    if cq.paused:
        raise HttpError(409, f"CQ {name!r} is paused")
    h.json(200, h.run(lambda: cq.run_once(
        h.arc.query.spark, h.arc.ingest.root, plan=h.arc.query.plan)))


def _pause_cq(h, name, paused):
    # CQ lifecycle verbs (reference cq routes /:id/pause, /:id/start): a
    # paused CQ is skipped by scheduler ticks and refuses manual /run
    cq = _cq(h, name)
    cq.paused = paused
    h.json(200, {"name": name, "paused": cq.paused})


def _delete_cq(h, name):
    removed = h.arc.cqs.pop(name, None) is not None
    h.json(200 if removed else 404, {"removed": removed, "name": name})


def _run_job(h, name):
    # manual trigger (internal/scheduler TriggerNow)
    if not any(j["name"] == name for j in h.arc.scheduler.status()):
        raise HttpError(404, f"no job {name!r}")
    h.json(200, {"job": name,
                 "result": h.run(lambda: h.arc.scheduler.trigger_now(name))})


def _reconcile(h):
    # storage reconciliation sweep (internal/reconciliation; dry_run
    # defaults TRUE like the reference's conservative gate)
    dry = h.args.get("dry_run", "true").lower() != "false"
    h.json(200, h.run(lambda: h.arc.reconciler.reconcile(dry_run=dry)))


def _reconcile_runs(h):
    rc = h.arc.reconciler
    h.json(200, {"running": rc.is_running(), "runs": rc.recent_runs()})


# -- storage lifecycle ------------------------------------------------------
def _target(h) -> tuple[dict, str, str]:
    """The JSON body of a one-measurement storage operation."""
    req = h.json_body()
    db, meas = req.get("db"), req.get("measurement")
    if not db or not meas:
        raise HttpError(400, "missing db/measurement")
    return req, db, meas


def _measurement_dir(h, db, meas):
    from arc_spark.catalog import validate_identifier
    from arc_spark.storage import backend_for

    validate_identifier(db, "database")
    validate_identifier(meas, "measurement")
    bk = backend_for(h.arc.ingest.root)
    mp = bk.join(h.arc.ingest.root, db, meas)
    if not bk.isdir(mp):
        raise SqlValidationError(f"no measurement {db}.{meas}")
    return bk, mp


def _snapshots(h):
    # pinnable time-travel versions for one measurement (pair with
    # GET /api/v1/query/:m?snapshot=N)
    db, meas = h.args.get("db"), h.args.get("measurement")
    if not db or not meas:
        raise HttpError(400, "missing db/measurement")

    def _hist():
        from arc_spark import snapshots

        bk, mp = _measurement_dir(h, db, meas)
        return {"snapshots": snapshots.history(mp, bk=bk)}

    h.json(200, h.run(_hist))


def _export(h):
    # on-demand external-reader export for ONE measurement (the scheduler
    # job covers the periodic sweep; reference internal/iceberg): "delta"
    # (transaction log), "iceberg" (v2 metadata + version-hint), "tree"
    # (committed-only hardlink/copy tree + Delta log at dest_path)
    req, db, meas = _target(h)
    fmt = req.get("format", "delta")
    if fmt not in ("delta", "iceberg", "tree"):
        raise HttpError(400, "format must be delta|iceberg|tree")
    if fmt == "tree" and not req.get("dest_path"):
        raise HttpError(400, "tree export needs dest_path")

    def _export_one():
        bk, mp = _measurement_dir(h, db, meas)
        name = f"{db}.{meas}"
        if fmt == "iceberg":
            from arc_spark.operators.iceberg_export import export_iceberg

            return export_iceberg(mp, bk=bk, table_name=name)
        from arc_spark.operators.export import export_delta_log, export_tree

        if fmt == "tree":
            from arc_spark.storage import backend_for

            dbk = backend_for(req["dest_path"])
            return export_tree(mp, dbk.join(req["dest_path"], db, meas),
                               bk=bk, table_name=name)
        return export_delta_log(mp, bk=bk, table_name=name)

    h.json(200, h.run(_export_one))


def _backup(h):
    # reference internal/backup/manager.go CreateBackup: tree copy +
    # manifest
    req = h.json_body()
    if not req.get("backup_root"):
        raise HttpError(400, "missing backup_root")
    from arc_spark.operators.backup import create_backup

    h.json(200, h.run(lambda: create_backup(
        h.arc.ingest.root, req["backup_root"], db=req.get("db"),
        measurement=req.get("measurement"))))


def _restore(h):
    # RestoreBackup; partial restore via partition prefix
    req = h.json_body()
    if not req.get("backup_root"):
        raise HttpError(400, "missing backup_root")
    if not req.get("backup_id"):
        raise HttpError(400, "missing 'backup_id'")
    from arc_spark.operators.backup import restore_backup

    h.json(200, h.run(lambda: restore_backup(
        req["backup_root"], req["backup_id"], h.arc.ingest.root,
        db=req.get("db"), measurement=req.get("measurement"),
        prefix=req.get("prefix"),
        overwrite=bool(req.get("overwrite", False)))))


def _delete_where(h):
    # reference delete.go (A26)
    req, db, meas = _target(h)
    if not req.get("predicate"):
        raise HttpError(400, "missing 'predicate'")
    from arc_spark.operators.lifecycle import delete_where

    h.json(200, h.run(lambda: delete_where(
        h.arc.query.spark, h.arc.ingest.root, db, meas, req["predicate"],
        dry_run=bool(req.get("dry_run", False)))))


def _retention(h):
    # reference retention.go (A27)
    req, db, meas = _target(h)
    days = _float_arg(req, "retention_days", 30.0)
    buffer_days = _float_arg(req, "buffer_days", 1.0)
    from arc_spark.operators.lifecycle import apply_retention

    h.json(200, {"removed": h.run(lambda: apply_retention(
        h.arc.ingest.root, db, meas, retention_days=days,
        buffer_days=buffer_days,
        per_file=bool(req.get("per_file", True))))})


def _compaction(h):
    # reference compaction.go (A20/A23): hourly or daily tier
    req, db, meas = _target(h)
    spark, root = h.arc.query.spark, h.arc.ingest.root
    from arc_spark.operators.compaction import (
        compact_measurement,
        compact_measurement_daily,
    )

    if req.get("tier", "hourly") == "daily":
        daily_root = req.get("daily_root",
                             h.arc.query.catalog.daily_root or root + "_daily")
        min_files = _int_arg(req, "min_files", 12)
        min_age = _float_arg(req, "min_age_seconds", 86400.0)
        results = h.run(lambda: compact_measurement_daily(
            spark, root, db, meas, daily_root=daily_root,
            min_files=min_files, min_age_seconds=min_age))
    else:
        min_files = _int_arg(req, "min_files", 10)
        min_age = _float_arg(req, "min_age_seconds", 3600.0)
        batch = _int_arg(req, "max_files_per_batch", 30)
        results = h.run(lambda: compact_measurement(
            spark, root, db, meas, min_files=min_files,
            min_age_seconds=min_age, max_files_per_batch=batch))
    h.json(200, {"results": results})


def _measurements_under(h):
    """(db, measurement) pairs of the hot tier, ``?db=`` filtered."""
    from arc_spark.storage import backend_for

    root = h.arc.ingest.root
    bk = backend_for(root)
    if not bk.isdir(root):
        return
    for db in bk.list_dirs(root):
        if h.args.get("db") and db != h.args["db"]:
            continue
        for meas in bk.list_dirs(bk.join(root, db)):
            yield bk, root, db, meas


def _compaction_status(h):
    # reference internal/api/compaction.go getStatus/getCandidates: which
    # partitions are eligible NOW
    from arc_spark.operators.compaction import compaction_candidates

    min_files = _int_arg(h.args, "min_files", 10)
    min_age = _float_arg(h.args, "min_age_seconds", 3600.0)
    out = []
    for bk, root, db, meas in _measurements_under(h):
        mp = bk.join(root, db, meas)
        cands = compaction_candidates(mp, min_files=min_files,
                                      min_age_seconds=min_age)
        if cands:
            out.append({"db": db, "measurement": meas,
                        "candidates": [bk.relpath(c, mp) for c in cands]})
    h.json(200, {"eligible": out, "min_files": min_files,
                 "min_age_seconds": min_age})


def _tiering_status(h):
    # reference internal/api/tiering.go GetStatus/GetFiles: which day
    # partitions live on which tier
    cold = h.arc.query.catalog.cold_root
    if not cold:
        return h.json(200, {"enabled": False,
                            "detail": "no cold tier configured"})
    from arc_spark.operators.tiering import tier_report

    reports = []
    for _bk, root, db, meas in _measurements_under(h):
        rep = tier_report(root, cold, db, meas)
        rep.update({"db": db, "measurement": meas})
        reports.append(rep)
    h.json(200, {"enabled": True, "measurements": reports})


def _tiering_migrate(h):
    # reference internal/api/tiering.go TriggerMigration: move day
    # partitions older than N days to the cold tier (snapshot-committed
    # on both sides)
    cold = h.arc.query.catalog.cold_root
    if not cold:
        raise HttpError(409, "no cold tier configured")
    req, db, meas = _target(h)
    days = _float_arg(req, "older_than_days", 30.0)
    from arc_spark.operators.tiering import migrate_to_cold

    h.json(200, {"migrated": h.run(lambda: migrate_to_cold(
        h.arc.ingest.root, cold, db, meas, older_than_days=days))})


# -- tiering policies (tiering_policies.go; shipped ungated here, where the
#    reference needs an enterprise license — README §Non-goals) -------------
def _tiering_errors(fn):
    @functools.wraps(fn)
    def wrapper(h, **params):
        try:
            return fn(h, h.arc.tiering_policies, **params)
        except (ValueError, SqlValidationError) as e:
            raise HttpError(400, str(e)) from None
    return wrapper


@_tiering_errors
def _list_tiering(h, store):
    pol = store.list()
    h.json(200, {"policies": pol, "count": len(pol)})


@_tiering_errors
def _get_tiering(h, store, db):
    p = store.get(db)
    if p is None:
        raise HttpError(404, f"no policy for {db}")
    h.json(200, p)


@_tiering_errors
def _effective_tiering(h, store, db):
    # resolved against the global default
    h.json(200, store.effective(db, h.arc.tiering_default_days))


@_tiering_errors
def _set_tiering(h, store, db):
    req = h.json_body()
    h.json(200, store.set(db, hot_only=bool(req.get("hot_only", False)),
                          hot_max_age_days=req.get("hot_max_age_days")))


@_tiering_errors
def _delete_tiering(h, store, db):
    if not store.delete(db):
        raise HttpError(404, f"no policy for {db}")
    h.json(200, {"message": "Policy deleted, database now uses global "
                            "defaults", "database": db})


# -- MQTT subscriptions (mqtt_subscriptions.go; password rides the body) ----
def _mqtt_errors(fn):
    @functools.wraps(fn)
    def wrapper(h, **params):
        try:
            return fn(h, h.arc.mqtt_subs, **params)
        except HttpError:
            raise
        except MqttValidationError as e:
            raise HttpError(400, str(e)) from None
        except SubscriptionNotFound as e:
            raise HttpError(404, str(e)) from None
        except (SubscriptionRunning, SubscriptionConflict) as e:
            raise HttpError(409, str(e)) from None
        except Exception as e:
            # broker connect failures etc. — operational, not 5xx engine
            # faults (the breaker must not trip)
            raise HttpError(502, str(e)[:300]) from None
    return wrapper


@_mqtt_errors
def _list_subs(h, mgr):
    h.json(200, {"subscriptions": [s.to_public() for s in mgr.list()]})


@_mqtt_errors
def _create_sub(h, mgr):
    req = h.json_body()
    h.json(201, mgr.create(req, password=req.pop("password", "")).to_public())


@_mqtt_errors
def _get_sub(h, mgr, sub_id):
    h.json(200, mgr.get(sub_id).to_public())


@_mqtt_errors
def _update_sub(h, mgr, sub_id):
    h.json(200, mgr.update(sub_id, h.json_body()).to_public())


@_mqtt_errors
def _sub_stats(h, mgr, sub_id):
    h.json(200, mgr.stats(sub_id))


@_mqtt_errors
def _sub_lifecycle(h, mgr, sub_id, verb):
    out = getattr(mgr, verb)(sub_id)  # start/restart return the sub
    h.json(200, (out if verb in ("start", "restart")
                 else mgr.get(sub_id)).to_public())


@_mqtt_errors
def _delete_sub(h, mgr, sub_id):
    mgr.delete(sub_id)
    h.json(200, {"deleted": sub_id})


# -- RBAC: organizations → teams → roles → measurement permissions → token
#    memberships (reference rbac_routes.go) --------------------------------
def _rbac_errors(fn):
    @functools.wraps(fn)
    def wrapper(h, **params):
        try:
            return fn(h, h.arc.rbac, **params)
        except RBACError as e:
            msg = str(e)
            raise HttpError(409 if "already" in msg else
                            404 if "not found" in msg else 400, msg) from None
    return wrapper


def _rbac_id(s: str) -> int:
    try:
        return int(s)
    except ValueError:
        raise HttpError(400, f"invalid id {s!r}") from None


@_rbac_errors
def _list_orgs(h, rb):
    h.json(200, {"organizations": rb.list_organizations()})


@_rbac_errors
def _create_org(h, rb):
    req = h.json_body()
    h.json(201, rb.create_organization(req.get("name", ""),
                                       req.get("description", "")))


@_rbac_errors
def _get_org(h, rb, org_id):
    h.json(200, rb.get_organization(
        _rbac_id(org_id), with_teams=h.args.get("with") == "teams"))


@_rbac_errors
def _update_org(h, rb, org_id):
    req = h.json_body()
    h.json(200, rb.update_organization(
        _rbac_id(org_id), name=req.get("name"),
        description=req.get("description"), enabled=req.get("enabled")))


@_rbac_errors
def _delete_org(h, rb, org_id):
    oid = _rbac_id(org_id)
    rb.delete_organization(oid)
    h.json(200, {"deleted": oid})


@_rbac_errors
def _list_teams(h, rb, org_id):
    h.json(200, {"teams": rb.list_teams(_rbac_id(org_id))})


@_rbac_errors
def _create_team(h, rb, org_id):
    req = h.json_body()
    h.json(201, rb.create_team(_rbac_id(org_id), req.get("name", ""),
                               req.get("description", "")))


@_rbac_errors
def _get_team(h, rb, team_id):
    h.json(200, rb.get_team(_rbac_id(team_id),
                            with_roles=h.args.get("with") == "roles"))


@_rbac_errors
def _update_team(h, rb, team_id):
    req = h.json_body()
    h.json(200, rb.update_team(
        _rbac_id(team_id), name=req.get("name"),
        description=req.get("description"), enabled=req.get("enabled")))


@_rbac_errors
def _delete_team(h, rb, team_id):
    tid = _rbac_id(team_id)
    rb.delete_team(tid)
    h.json(200, {"deleted": tid})


@_rbac_errors
def _list_roles(h, rb, team_id):
    h.json(200, {"roles": rb.list_roles(_rbac_id(team_id))})


@_rbac_errors
def _create_role(h, rb, team_id):
    req = h.json_body()
    h.json(201, rb.create_role(_rbac_id(team_id),
                               req.get("database_pattern", ""),
                               req.get("permissions") or []))


@_rbac_errors
def _list_team_tokens(h, rb, team_id):
    h.json(200, {"tokens": rb.list_team_tokens(_rbac_id(team_id))})


@_rbac_errors
def _add_team_token(h, rb, team_id):
    h.json(201, rb.add_token_to_team(h.json_body().get("token_name", ""),
                                     _rbac_id(team_id)))


@_rbac_errors
def _remove_team_token(h, rb, team_id, token_name):
    tid = _rbac_id(team_id)
    rb.remove_token_from_team(token_name, tid)
    h.json(200, {"removed": token_name, "team_id": tid})


@_rbac_errors
def _get_role(h, rb, role_id):
    h.json(200, rb.get_role(
        _rbac_id(role_id),
        with_measurements=h.args.get("with") == "measurements"))


@_rbac_errors
def _update_role(h, rb, role_id):
    req = h.json_body()
    h.json(200, rb.update_role(
        _rbac_id(role_id), database_pattern=req.get("database_pattern"),
        permissions=req.get("permissions")))


@_rbac_errors
def _delete_role(h, rb, role_id):
    rid = _rbac_id(role_id)
    rb.delete_role(rid)
    h.json(200, {"deleted": rid})


@_rbac_errors
def _list_measurement_perms(h, rb, role_id):
    h.json(200, {"measurement_permissions":
                 rb.list_measurement_permissions(_rbac_id(role_id))})


@_rbac_errors
def _create_measurement_perm(h, rb, role_id):
    req = h.json_body()
    h.json(201, rb.create_measurement_permission(
        _rbac_id(role_id), req.get("measurement_pattern", ""),
        req.get("permissions") or []))


@_rbac_errors
def _delete_measurement_perm(h, rb, perm_id):
    rb.delete_measurement_permission(_rbac_id(perm_id))
    h.json(200, {"deleted": perm_id})


@_rbac_errors
def _effective_perms(h, rb, name):
    # resolved grants for a token
    perms = next((t["permissions"] for t in
                  (h.arc.auth.list_tokens() if h.arc.auth else ())
                  if t["name"] == name), None)
    if perms is None:
        raise HttpError(404, f"token {name!r} not found")
    h.json(200, {"effective_permissions": rb.get_effective_permissions(
        {"name": name, "permissions": perms})})


# -- the route table --------------------------------------------------------
PUBLIC, TOKEN, WRITER, ADMIN = "public", "token", "writer", "admin"
_FORBIDDEN = {WRITER: "write requires an unrestricted token",
              ADMIN: "admin token required"}

# required components: (ArcServer attribute, 503 message when it is None)
_INGEST = ("ingest", "ingest disabled")
_STORAGE = ("ingest", "no storage attached")
_EDGE = ("edge_receiver", "edge sync disabled")
_BUNDLES = ("bundle_importer", "bundle import not configured "
                               "(edge_sync.hub_bundle_import_dirs)")
_SPOKES = ("bundle_registry", "bundle import not configured")
_AUTH = ("auth", "auth disabled")
_AUDIT = ("audit", "audit disabled")
_BREAKER = ("breaker", "breaker disabled")
_SCHEDULER = ("scheduler", "scheduler disabled")
_RECONCILER = ("reconciler", "reconciler disabled")
_TIMESERIES = ("timeseries", "time-series collector not enabled")
_MQTT = ("mqtt", "mqtt bridge not attached")
_MQTT_SUBS = ("mqtt_subs", "mqtt subscriptions not configured "
                           "([mqtt] enabled = true)")
_TIERING = ("tiering_policies", "tiering policies not configured "
                                "([tiering] requires a cold tier)")
_RBAC = ("rbac", "rbac not configured")


class Route(NamedTuple):
    method: str
    template: str  # "/a/{name}/b": a {name} segment is a path parameter
    auth: str  # PUBLIC | TOKEN | WRITER | ADMIN
    needs: tuple[str, str] | None  # required component, see above
    handler: Callable


_p = functools.partial
_ok = {"status": "ok"}

ROUTES = [Route(*row) for row in [
    # probes
    ("GET", "/health", PUBLIC, None, lambda h: h.json(200, _ok)),
    ("GET", "/ready", PUBLIC, None, _ready),
    ("GET", "/api/v1/ready", PUBLIC, None, _ready),
    ("GET", "/api/v1/write/msgpack/spec", PUBLIC, None, _msgpack_spec),
    ("GET", "/api/v1/auth/verify", PUBLIC, None, _auth_verify),
    # observability
    ("GET", "/metrics", TOKEN, None, _prometheus),
    ("GET", "/api/v1/metrics", TOKEN, None, _metrics_json),
    ("GET", "/api/v1/metrics/endpoints", TOKEN, None, _metrics_endpoints),
    ("GET", "/api/v1/metrics/timeseries/{metric_type}", TOKEN, _TIMESERIES,
     _metrics_timeseries),
    ("GET", "/api/v1/metrics/memory", TOKEN, None, _metrics_memory),
    ("GET", "/api/v1/metrics/query-pool", TOKEN, None, _query_pool),
    ("POST", "/api/v1/metrics/memory/trim", ADMIN, None, _memory_trim),
    ("GET", "/api/v1/debug/memstats", ADMIN, None, _memstats),
    ("GET", "/api/v1/logs", TOKEN, None, _logs),
    ("GET", "/api/v1/import/stats", TOKEN, None, _import_stats),
    ("GET", "/api/v1/write/tle/stats", TOKEN, None, _tle_stats),
    ("GET", "/api/v1/write/msgpack/stats", TOKEN, _INGEST, _ingest_stats),
    ("GET", "/api/v1/write/line-protocol/stats", TOKEN, _INGEST, _ingest_stats),
    ("GET", "/api/v1/write/line-protocol/health", TOKEN, _INGEST,
     lambda h: h.json(200, _ok)),
    ("GET", "/api/v1/mqtt/health", TOKEN, _MQTT, _mqtt_health),
    ("GET", "/api/v1/mqtt/stats", TOKEN, _MQTT,
     lambda h: h.json(200, dict(h.arc.mqtt.stats))),
    ("GET", "/api/v1/audit", ADMIN, _AUDIT, _audit),
    ("GET", "/api/v1/audit/stats", ADMIN, _AUDIT, _audit_stats),
    ("GET", "/api/v1/breaker", ADMIN, _BREAKER,
     lambda h: h.json(200, h.arc.breaker.stats())),
    ("GET", "/api/v1/cache/stats", ADMIN, None, _cache_stats),
    ("POST", "/api/v1/cache/invalidate", ADMIN, None, _cache_invalidate),
    # databases
    ("GET", "/api/v1/databases", TOKEN, None, lambda h: h.json(
        200, {"databases": h.arc.query.catalog.databases()})),
    ("POST", "/api/v1/databases", ADMIN, None, _create_database),
    ("GET", "/api/v1/databases/{name}", TOKEN, None, _database),
    ("DELETE", "/api/v1/databases/{name}", ADMIN, None, _delete_database),
    ("GET", "/api/v1/databases/{name}/measurements", TOKEN, None,
     _db_measurements),
    ("GET", "/api/v1/measurements", TOKEN, None, _measurements),
    # queries
    ("POST", "/api/v1/query", TOKEN, None, _post_query),
    ("POST", "/api/v1/query/arrow", TOKEN, None, _p(_post_query, fmt="arrow")),
    ("POST", "/api/v1/query/msgpack", TOKEN, None,
     _p(_post_query, fmt="msgpack")),
    ("POST", "/api/v1/query/estimate", TOKEN, None, _estimate),
    ("GET", "/api/v1/query/{measurement}", TOKEN, None, _get_measurement),
    ("GET", "/api/v1/queries", ADMIN, None, _p(_list_queries, which="list")),
    ("GET", "/api/v1/queries/active", ADMIN, None,
     _p(_list_queries, which="active")),
    ("GET", "/api/v1/queries/history", ADMIN, None,
     _p(_list_queries, which="history")),
    ("GET", "/api/v1/queries/{query_id}", ADMIN, None, _get_query),
    ("DELETE", "/api/v1/queries/{query_id}", ADMIN, None, _cancel_query),
    # writes and imports
    ("POST", "/api/v1/write/msgpack", WRITER, _INGEST, _write_msgpack),
    ("POST", "/api/v1/write/line", WRITER, _INGEST, _write_line),
    ("POST", "/api/v1/write/line-protocol", WRITER, _INGEST, _write_line),
    ("POST", "/write", WRITER, _INGEST, _p(_influx_write, v2=False)),
    ("POST", "/api/v2/write", WRITER, _INGEST, _p(_influx_write, v2=True)),
    ("POST", "/api/v1/write/line-protocol/flush", ADMIN, _INGEST, _flush),
    ("POST", "/api/v1/import/line", ADMIN, _INGEST, _import_lp),
    ("POST", "/api/v1/import/lp", ADMIN, _INGEST, _import_lp),
    ("POST", "/api/v1/import/csv", ADMIN, _INGEST, _p(_import_file, kind="csv")),
    ("POST", "/api/v1/import/parquet", ADMIN, _INGEST,
     _p(_import_file, kind="parquet")),
    ("POST", "/api/v1/import/tle", ADMIN, _INGEST, _import_tle),
    ("POST", "/api/v1/write/tle", ADMIN, _INGEST, _import_tle),
    # edge sync, air-gap bundles and spokes
    ("GET", "/api/v1/edge/status", TOKEN, _EDGE, _edge_status),
    ("POST", "/api/v1/edge/reconcile", WRITER, _EDGE, _edge_reconcile),
    ("POST", "/api/v1/edge/upload", WRITER, _EDGE, _edge_upload),
    ("POST", "/api/v1/edge/upload/begin", WRITER, _EDGE, _edge_begin),
    ("POST", "/api/v1/edge/upload/append", WRITER, _EDGE, _edge_append),
    ("POST", "/api/v1/edge/upload/finish", WRITER, _EDGE, _edge_finish),
    ("POST", "/api/v1/bundle-import", ADMIN, _BUNDLES, _bundle_import),
    ("GET", "/api/v1/bundle-import/history/{spoke_id}", ADMIN, _BUNDLES,
     _bundle_history),
    ("GET", "/api/v1/sync-spokes", ADMIN, _SPOKES, _list_spokes),
    ("POST", "/api/v1/sync-spokes", ADMIN, _SPOKES, _register_spoke),
    ("GET", "/api/v1/sync-spokes/{spoke_id}", ADMIN, _SPOKES, _get_spoke),
    ("DELETE", "/api/v1/sync-spokes/{spoke_id}", ADMIN, _SPOKES, _delete_spoke),
    ("POST", "/api/v1/sync-spokes/{spoke_id}/rotate", ADMIN, _SPOKES,
     _rotate_spoke),
    ("POST", "/api/v1/sync-spokes/{spoke_id}/enable", ADMIN, _SPOKES,
     _p(_enable_spoke, enabled=True)),
    ("POST", "/api/v1/sync-spokes/{spoke_id}/disable", ADMIN, _SPOKES,
     _p(_enable_spoke, enabled=False)),
    # tokens and governance
    ("GET", "/api/v1/auth/tokens", ADMIN, _AUTH,
     lambda h: h.json(200, {"tokens": h.arc.auth.list_tokens()})),
    ("POST", "/api/v1/auth/tokens", ADMIN, _AUTH, _create_token),
    ("POST", "/api/v1/auth/tokens/{name}/rotate", ADMIN, _AUTH, _rotate_token),
    ("DELETE", "/api/v1/auth/tokens/{name}", ADMIN, _AUTH, _revoke_token),
    ("GET", "/api/v1/governance", ADMIN, None, _list_policies),
    ("POST", "/api/v1/governance", ADMIN, None, _set_policy),
    ("POST", "/api/v1/governance/usage", ADMIN, None, _policy_usage),
    ("POST", "/api/v1/governance/delete", ADMIN, None, _delete_policy),
    # continuous queries and the maintenance scheduler
    ("GET", "/api/v1/continuous_queries", ADMIN, None, _list_cqs),
    ("POST", "/api/v1/continuous_queries", ADMIN, _STORAGE, _register_cq),
    ("POST", "/api/v1/continuous_queries/{name}/run", ADMIN, _STORAGE,
     _run_cq),
    ("POST", "/api/v1/continuous_queries/{name}/pause", ADMIN, None,
     _p(_pause_cq, paused=True)),
    ("POST", "/api/v1/continuous_queries/{name}/resume", ADMIN, None,
     _p(_pause_cq, paused=False)),
    ("DELETE", "/api/v1/continuous_queries/{name}", ADMIN, None, _delete_cq),
    ("GET", "/api/v1/scheduler/status", ADMIN, _SCHEDULER,
     lambda h: h.json(200, {"jobs": h.arc.scheduler.status()})),
    ("POST", "/api/v1/scheduler/jobs/{name}/run", ADMIN, _SCHEDULER, _run_job),
    ("POST", "/api/v1/reconcile", ADMIN, _RECONCILER, _reconcile),
    ("GET", "/api/v1/reconcile/runs", ADMIN, _RECONCILER, _reconcile_runs),
    # storage lifecycle
    ("GET", "/api/v1/snapshots", ADMIN, _STORAGE, _snapshots),
    ("POST", "/api/v1/export", ADMIN, _STORAGE, _export),
    ("POST", "/api/v1/backup", ADMIN, _STORAGE, _backup),
    ("POST", "/api/v1/restore", ADMIN, _STORAGE, _restore),
    ("POST", "/api/v1/delete", ADMIN, _STORAGE, _delete_where),
    ("POST", "/api/v1/retention", ADMIN, _STORAGE, _retention),
    ("POST", "/api/v1/compaction", ADMIN, _STORAGE, _compaction),
    ("GET", "/api/v1/compaction/status", ADMIN, _STORAGE, _compaction_status),
    ("GET", "/api/v1/tiering/status", ADMIN, _STORAGE, _tiering_status),
    ("POST", "/api/v1/tiering/migrate", ADMIN, _STORAGE, _tiering_migrate),
    ("GET", "/api/v1/tiering/policies", ADMIN, _TIERING, _list_tiering),
    ("GET", "/api/v1/tiering/policies/{db}", ADMIN, _TIERING, _get_tiering),
    ("GET", "/api/v1/tiering/policies/{db}/effective", ADMIN, _TIERING,
     _effective_tiering),
    ("PUT", "/api/v1/tiering/policies/{db}", ADMIN, _TIERING, _set_tiering),
    ("DELETE", "/api/v1/tiering/policies/{db}", ADMIN, _TIERING,
     _delete_tiering),
    # MQTT subscriptions
    ("GET", "/api/v1/mqtt/subscriptions", ADMIN, _MQTT_SUBS, _list_subs),
    ("POST", "/api/v1/mqtt/subscriptions", ADMIN, _MQTT_SUBS, _create_sub),
    ("GET", "/api/v1/mqtt/subscriptions/{sub_id}", ADMIN, _MQTT_SUBS,
     _get_sub),
    ("POST", "/api/v1/mqtt/subscriptions/{sub_id}", ADMIN, _MQTT_SUBS,
     _update_sub),
    ("DELETE", "/api/v1/mqtt/subscriptions/{sub_id}", ADMIN, _MQTT_SUBS,
     _delete_sub),
    ("GET", "/api/v1/mqtt/subscriptions/{sub_id}/stats", ADMIN, _MQTT_SUBS,
     _sub_stats),
    *(("POST", f"/api/v1/mqtt/subscriptions/{{sub_id}}/{verb}", ADMIN,
       _MQTT_SUBS, _p(_sub_lifecycle, verb=verb))
      for verb in ("start", "stop", "pause", "restart")),
    # RBAC
    ("GET", "/api/v1/rbac/organizations", ADMIN, _RBAC, _list_orgs),
    ("POST", "/api/v1/rbac/organizations", ADMIN, _RBAC, _create_org),
    ("GET", "/api/v1/rbac/organizations/{org_id}", ADMIN, _RBAC, _get_org),
    ("PATCH", "/api/v1/rbac/organizations/{org_id}", ADMIN, _RBAC,
     _update_org),
    ("DELETE", "/api/v1/rbac/organizations/{org_id}", ADMIN, _RBAC,
     _delete_org),
    ("GET", "/api/v1/rbac/organizations/{org_id}/teams", ADMIN, _RBAC,
     _list_teams),
    ("POST", "/api/v1/rbac/organizations/{org_id}/teams", ADMIN, _RBAC,
     _create_team),
    ("GET", "/api/v1/rbac/teams/{team_id}", ADMIN, _RBAC, _get_team),
    ("PATCH", "/api/v1/rbac/teams/{team_id}", ADMIN, _RBAC, _update_team),
    ("DELETE", "/api/v1/rbac/teams/{team_id}", ADMIN, _RBAC, _delete_team),
    ("GET", "/api/v1/rbac/teams/{team_id}/roles", ADMIN, _RBAC, _list_roles),
    ("POST", "/api/v1/rbac/teams/{team_id}/roles", ADMIN, _RBAC, _create_role),
    ("GET", "/api/v1/rbac/teams/{team_id}/tokens", ADMIN, _RBAC,
     _list_team_tokens),
    ("POST", "/api/v1/rbac/teams/{team_id}/tokens", ADMIN, _RBAC,
     _add_team_token),
    ("DELETE", "/api/v1/rbac/teams/{team_id}/tokens/{token_name}", ADMIN,
     _RBAC, _remove_team_token),
    ("GET", "/api/v1/rbac/roles/{role_id}", ADMIN, _RBAC, _get_role),
    ("PATCH", "/api/v1/rbac/roles/{role_id}", ADMIN, _RBAC, _update_role),
    ("DELETE", "/api/v1/rbac/roles/{role_id}", ADMIN, _RBAC, _delete_role),
    ("GET", "/api/v1/rbac/roles/{role_id}/measurements", ADMIN, _RBAC,
     _list_measurement_perms),
    ("POST", "/api/v1/rbac/roles/{role_id}/measurements", ADMIN, _RBAC,
     _create_measurement_perm),
    ("DELETE", "/api/v1/rbac/measurement-permissions/{perm_id}", ADMIN, _RBAC,
     _delete_measurement_perm),
    ("GET", "/api/v1/rbac/tokens/{name}/effective", ADMIN, _RBAC,
     _effective_perms),
]]

# exact paths hit a dict; templates are tried in table order among those
# with the request's method and segment count
_EXACT: dict[tuple[str, str], Route] = {}
_TEMPLATES: dict[tuple[str, int], list] = {}
for _r in ROUTES:
    assert _r.auth in (PUBLIC, TOKEN, WRITER, ADMIN), _r
    if "{" not in _r.template:
        assert (_r.method, _r.template) not in _EXACT, _r
        _EXACT[_r.method, _r.template] = _r
    else:
        _segs = _r.template.split("/")
        _TEMPLATES.setdefault((_r.method, len(_segs)), []).append(
            (_segs, _r))


def _match(method: str, path: str) -> tuple[Route, dict] | None:
    """The route serving ``method path`` and its path parameters, or None.
    A parameter is one non-empty segment, so extra segments never match."""
    r = _EXACT.get((method, path))
    if r is not None:
        return r, {}
    segs = path.split("/")
    for tsegs, r in _TEMPLATES.get((method, len(segs)), ()):
        params = {}
        for t, s in zip(tsegs, segs):
            if t.startswith("{"):
                if not s:
                    break
                params[t[1:-1]] = s
            elif t != s:
                break
        else:
            return r, params
    return None


class ArcServer:
    def __init__(
        self,
        query_service: QueryService,
        ingest_service: IngestService | None = None,
        auth: AuthStore | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        mqtt_bridge=None,
        audit: AuditLogger | None = None,
        breaker: CircuitBreaker | None = None,
        reconciler=None,
        scheduler=None,
        tls_cert: str | None = None,
        tls_key: str | None = None,
        timeseries=None,
        rbac=None,
    ):
        self.query = query_service
        # optional rbac.RBACStore for /api/v1/rbac/* (reference
        # internal/api/rbac_routes.go); when both rbac and auth are wired,
        # the query path enforces hierarchical grants too
        self.rbac = rbac
        self.ingest = ingest_service
        self.auth = auth
        # optional audit trail (reference internal/audit middleware)
        self.audit = audit
        # optional engine-fault circuit breaker (internal/circuitbreaker):
        # guards engine calls; user errors (400/403/429) don't trip it
        self.breaker = breaker
        # memtrim throttle (internal/memtrim + internal/throttle): at most
        # one JVM GC hint per interval regardless of how often the trim
        # route is hit
        self.memtrim = Debouncer(30.0)
        # optional operators.reconciliation.Reconciler for /api/v1/reconcile
        self.reconciler = reconciler
        # optional scheduler.MaintenanceScheduler for /api/v1/scheduler/*
        self.scheduler = scheduler
        # optional metrics.TimeSeriesCollector for
        # /api/v1/metrics/timeseries/<type>
        self.timeseries = timeseries
        # optional sources.edgesync.HubReceiver for /api/v1/edge/*
        self.edge_receiver = None
        # single-request body cap for edge uploads: larger files must use
        # the chunked begin/append/finish routes (bounded memory per
        # request on a ThreadingHTTPServer)
        self.max_upload_bytes = 64 << 20
        # air-gap bundle import (edgesync_bundle): importer + replay
        # index + spoke registry + directory policy, wired by config
        self.bundle_importer = None
        self.bundle_registry = None
        self.bundle_policy = None
        # global request-body ceiling, checked BEFORE the body is read:
        # a hostile Content-Length must cost a 413, not a 2 GiB
        # allocation (the reference's fiber BodyLimit middleware)
        self.max_request_bytes = 1 << 30
        # optional sources.mqtt.MqttIngestBridge for /api/v1/mqtt/* routes
        self.mqtt = mqtt_bridge
        # optional operators.tiering.TieringPolicyStore for the
        # /api/v1/tiering/policies surface (reference tiering_policies.go);
        # wired by config [tiering] when a cold tier exists
        self.tiering_policies = None
        self.tiering_default_days = 30
        # optional mqtt_subscriptions.SubscriptionManager for the
        # /api/v1/mqtt/subscriptions CRUD+lifecycle surface (reference
        # internal/api/mqtt_subscriptions.go); wired by config [mqtt]
        self.mqtt_subs = None
        # request counters for /metrics (reference internal/monitoring):
        # "METHOD template code" -> n, plus "unmatched 404" for every miss
        self.metrics: dict[str, int] = {}
        # per-endpoint latency accumulators (reference
        # /api/v1/metrics/endpoints): "METHOD template" -> [n, sum_ms, max_ms]
        self.endpoint_ms: dict[str, list] = {}
        # per-lane import counters (reference /api/v1/import/stats,
        # /api/v1/write/tle/stats): kind -> {files, rows}
        self.import_stats: dict[str, dict] = {}
        # guards metrics, endpoint_ms, import_stats and logs. reply() takes
        # it, so a route snapshots under it and replies outside it
        self._metrics_lock = threading.Lock()
        # recent-request ring for /api/v1/logs (reference's log endpoint
        # serves its in-process ring buffer; ours records request lines)
        self.logs: "deque[dict]" = deque(maxlen=1000)
        # registered continuous queries, name → ContinuousQuery
        self.cqs: dict = {}
        if auth is not None:
            # RBAC source becomes the persisted store (reference internal/auth)
            self.query.allowed_tables = auth.tables_view()
        if rbac is not None and auth is not None:
            self.query.rbac = rbac
            self.query.token_info_fn = auth.verify

        # a per-server handler class: wrapping its methods (perfbench
        # tracing) touches this server only
        handler = type("Handler", (_Handler,), {"arc": self})
        self._httpd = ThreadingHTTPServer((host, port), handler)
        # TLS termination (reference server TLS options, arc.toml [server]
        # tls_enabled/tls_cert_file/tls_key_file): wrap the listening
        # socket; per-connection handshakes happen in the handler threads
        self.tls = bool(tls_cert)
        if tls_cert:
            import ssl

            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(certfile=tls_cert, keyfile=tls_key or None)
            self._httpd.socket = ctx.wrap_socket(
                self._httpd.socket, server_side=True)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------
    def _count_import(self, kind: str, rows: int) -> None:
        with self._metrics_lock:
            st = self.import_stats.setdefault(kind, {"files": 0, "rows": 0})
            st["files"] += 1
            st["rows"] += int(rows)

    def start(self) -> "ArcServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="arc-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        # shutdown() handshakes with a RUNNING serve_forever loop and
        # blocks forever otherwise — a built-but-never-started server
        # (config boot aborted, tests) must still stop cleanly
        if self._thread is not None:
            self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
