"""HTTP wire layer over QueryService/IngestService (reference internal/api/
server.go routes, minus TLS/metrics).

Endpoints (reference names in parens):

- ``POST /api/v1/query``            JSON ``{"sql", "format"}`` → rows as
  typed JSON, Arrow IPC stream, or columnar MessagePack (query.go:1396).
- ``GET  /api/v1/query/<measurement>?db=&where=&order_by=&limit=`` —
  single-measurement endpoint (query.go:3923, A13).
- ``POST /api/v1/write/msgpack?db=``  raw body → IngestService (msgpack.go).
- ``POST /api/v1/write/line?db=&precision=`` — line protocol (write.go).
- ``GET  /api/v1/databases`` / ``GET /api/v1/measurements?db=`` (A12).
- ``GET  /health`` — unauthenticated liveness.

Management surface (reference admin routes; all require an ADMIN token —
one stored without a table restriction):

- ``POST /api/v1/query/estimate``        (query.go estimate, A14)
- ``GET  /api/v1/queries[/active]`` / ``DELETE /api/v1/queries/<id>`` —
  registry listing + cancellation (query_management.go, A38)
- ``POST /api/v1/delete``                (delete.go, A26)
- ``POST /api/v1/retention``             (retention.go, A27)
- ``POST /api/v1/compaction``            (compaction.go, A20/A23; hourly or
  daily tier)
- ``POST /api/v1/backup|restore``        (internal/backup/manager.go; tree
  copy + manifest, partial restore via partition prefix)
- ``POST /api/v1/export``                (internal/iceberg on-demand: one
  measurement → Delta log / Iceberg v2 metadata / committed-only tree)
- ``GET  /api/v1/query/:m?snapshot=N``   (time travel: pin the trivial
  read to a committed snapshot version — reproducible dataset reads)
- ``GET  /api/v1/snapshots?db&measurement`` (pinnable version listing)
- ``/api/v1/mqtt/subscriptions[...]``    (mqtt_subscriptions.go CRUD +
  start/stop/pause/restart + per-subscription stats)
- ``/api/v1/tiering/policies[...]``      (tiering_policies.go: per-db
  hot_only / hot_max_age_days, effective resolution, PUT/DELETE)
- ``GET/POST /api/v1/auth/tokens``, ``DELETE /api/v1/auth/tokens/<name>``
  (auth_routes.go)
- ``GET /api/v1/auth/verify`` — public credential probe: self-reports
  token validity + permissions (auth_routes.go:54 verifyToken)
- ``GET /api/v1/sync-spokes[/<id>]``, ``POST /api/v1/sync-spokes/<id>/
  rotate|enable|disable``, ``DELETE /api/v1/sync-spokes/<id>`` — spoke
  admin verbs, admin-token audience (edgesync_admin.go:64; secrets
  readable only at register/rotate time)
- ``POST /api/v1/import/line|lp|tle?db=`` (import.go bulk lanes; LP routes
  through the distributed decode path)
- ``POST /api/v1/query/arrow|msgpack``   (dedicated wire-format routes,
  query_arrow.go / query_msgpack.go)
- database management (databases.go): ``GET/POST /api/v1/databases``,
  ``GET /api/v1/databases/<name>[/measurements]``,
  ``DELETE /api/v1/databases/<name>?confirm=true``
- LP operational routes: ``POST /api/v1/write/line-protocol`` (alias),
  ``POST .../flush``, ``GET .../stats``, ``GET .../health``
- ``POST /api/v1/import/csv|parquet?db=&measurement=&tags=&time_column=``
  (import_inprocess.go:35-1166; body = raw file, staged then imported via
  the distributed reader with Catalyst-side time coercion)
- ``GET /api/v1/audit[?event_type=&actor=&database=&since=&until=&limit=
  &offset=]`` and ``GET /api/v1/audit/stats`` — audit trail
  (internal/audit; requires an attached :class:`AuditLogger`)
- ``GET /api/v1/breaker`` — circuit-breaker state/stats
  (internal/circuitbreaker; engine failures open it, user errors don't;
  open circuit → 503 + Retry-After on engine routes)
- ``POST /api/v1/metrics/memory/trim`` — throttled JVM GC hint
  (internal/memtrim + internal/throttle; 429 + Retry-After inside the
  debounce window)
- ``POST /api/v1/reconcile?dry_run=`` / ``GET /api/v1/reconcile/runs`` —
  storage reconciliation sweeps (internal/reconciliation)
- ``GET /ready`` — readiness (SparkSession answering), vs /health liveness
- ``POST /api/v2/write?org=&bucket=&precision=`` and
  ``POST /write?db=&rp=&precision=`` — InfluxDB-2.x and -1.x compatible
  LP writes, 204 on success, ``x-arc-database`` header precedence,
  upfront precision validation (reference lineprotocol.go:96-144;
  Telegraf-compatible)
- ``GET /api/v1/write/msgpack/spec`` — columnar-msgpack wire spec doc
- ``GET /api/v1/cache/stats`` / ``POST /api/v1/cache/invalidate`` —
  pruned-plan (A9) cache observability + drop
- ``POST /api/v1/continuous_queries/<name>/pause|resume`` — CQ lifecycle
  verbs; paused CQs are skipped by scheduler ticks and refuse /run
- ``GET /api/v1/scheduler/status`` / ``POST /api/v1/scheduler/jobs/
  <name>/run`` — background maintenance scheduler (internal/scheduler:
  per-job interval + jitter, failure isolation, manual TriggerNow)

Auth: ``Authorization: Bearer <token>`` verified against
:class:`arc_spark.auth.AuthStore` (hashed tokens, SQLite). RBAC reuses the
engine-side plan-walk check — the store is plugged in as
``QueryService.allowed_tables``.

stdlib ``ThreadingHTTPServer``: no framework dependency; each request
handles on its own thread, and Spark jobs launched per request run
concurrently under the engine's existing governance (rate window, row cap,
duration watchdog, cancellable job groups).
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from arc_spark import api
from arc_spark.api import IngestService, AccessDeniedError, QueryService
from arc_spark.audit import AuditLogger
from arc_spark.auth import AuthStore
from arc_spark.governance import QueryTimeout, RateLimitExceeded
from arc_spark.plans.validator import SqlValidationError
from arc_spark.resilience import CircuitBreaker, CircuitOpenError, Debouncer
from arc_spark.sources.ingest import DecompressionBombError, MalformedPayloadError
from arc_spark.sources.line_protocol import LineProtocolError

# client-input faults: HTTP 400, breaker-neutral (a hostile payload must
# not open the circuit for everyone else — reference api/errors.go)
_PAYLOAD_ERRORS = (LineProtocolError, DecompressionBombError,
                   MalformedPayloadError)

_FMT_CONTENT_TYPES = {
    "json": "application/json",
    "arrow": "application/vnd.apache.arrow.stream",
    "msgpack": "application/msgpack",
}


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
        # request counters for /metrics (reference internal/monitoring)
        self.metrics: dict[str, int] = {}
        # per-endpoint latency accumulators (reference
        # /api/v1/metrics/endpoints): "METHOD path" -> [n, sum_ms, max_ms]
        self.endpoint_ms: dict[str, list] = {}
        # per-lane import counters (reference /api/v1/import/stats,
        # /api/v1/write/tle/stats): kind -> {files, rows}
        self.import_stats: dict[str, dict] = {}
        self._metrics_lock = threading.Lock()
        # recent-request ring for /api/v1/logs (reference's log endpoint
        # serves its in-process ring buffer; ours records request lines)
        from collections import deque

        self.logs: "deque[dict]" = deque(maxlen=1000)
        # registered continuous queries, name → ContinuousQuery
        self.cqs: dict = {}
        if auth is not None:
            # RBAC source becomes the persisted store (reference internal/auth)
            self.query.allowed_tables = auth.tables_view()
        if rbac is not None and auth is not None:
            self.query.rbac = rbac
            self.query.token_info_fn = auth.verify
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test runs
                pass

            def parse_request(self):
                # request start time for audit duration_ms (middleware.go
                # stamps start before the handler runs)
                self._t0 = time.time()
                self._actor = "anonymous"
                return super().parse_request()

            # -- helpers --------------------------------------------------
            def _token(self) -> str:
                h = self.headers.get("Authorization", "")
                return h.removeprefix("Bearer ").strip() if h.startswith("Bearer ") else ""

            def _reply(self, code: int, body: bytes, ctype: str = "application/json",
                       extra_headers: dict | None = None):
                dur_ms = (time.time() - getattr(self, "_t0", time.time())) * 1000
                with outer._metrics_lock:
                    path = urlparse(self.path).path
                    key = f"{self.command} {path} {code}"
                    outer.metrics[key] = outer.metrics.get(key, 0) + 1
                    ep = outer.endpoint_ms.setdefault(
                        f"{self.command} {path}", [0, 0.0, 0.0])
                    ep[0] += 1
                    ep[1] += dur_ms
                    ep[2] = max(ep[2], dur_ms)
                    outer.logs.append({
                        "ts": time.time(), "method": self.command,
                        "path": path, "status": code,
                    })
                if outer.audit is not None:
                    q = {k: v[0] for k, v in
                         parse_qs(urlparse(self.path).query).items()}
                    outer.audit.record_request(
                        method=self.command, path=path, status_code=code,
                        actor=getattr(self, "_actor", "anonymous"),
                        database=(self.headers.get("x-arc-database")
                                  or q.get("db", "")),
                        measurement=(self.headers.get("x-arc-measurement")
                                     or q.get("measurement", "")),
                        ip_address=self.client_address[0],
                        user_agent=self.headers.get("User-Agent", ""),
                        duration_ms=int(dur_ms),
                    )
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                for k, v in (extra_headers or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _json(self, code: int, obj):
                # default=str: timestamps/decimals serialize as ISO text
                # (the typed-JSON streaming path handles types precisely;
                # this covers the row-dict endpoints)
                self._reply(code, json.dumps(obj, default=str).encode())

            def _authenticate(self) -> str | None:
                """Returns the token, or None after sending 401."""
                token = self._token()
                if outer.auth is None:
                    return token  # auth disabled (embedded/test use)
                info = outer.auth.verify(token)
                if info is None:
                    self._json(401, {"error": "invalid or missing token"})
                    return None
                self._actor = info["name"]  # audit actor (middleware.go)
                return token

            def _require_admin(self, token: str) -> bool:
                """Management routes need an unrestricted (admin) token."""
                if outer.auth is None:
                    return True
                info = outer.auth.verify(token)
                if info is None or info["allowed_tables"] is not None:
                    self._json(403, {"error": "admin token required"})
                    return False
                return True

            def _mqtt_subs(self, method: str, url, body: bytes,
                           token: str):
                """/api/v1/mqtt/subscriptions CRUD + lifecycle (reference
                internal/api/mqtt_subscriptions.go RegisterRoutes):
                POST /            create (password rides the body)
                GET  /            list    GET /<id>       get
                POST /<id>        update  DELETE /<id>    delete
                POST /<id>/start|stop|pause|restart       lifecycle
                GET  /<id>/stats  per-subscription counters"""
                if not self._require_admin(token):
                    return
                mgr = outer.mqtt_subs
                if mgr is None:
                    return self._json(503, {
                        "error": "mqtt subscriptions not configured "
                                 "([mqtt] enabled = true)"})
                from arc_spark.sources.mqtt_subscriptions import (
                    MqttValidationError,
                    SubscriptionConflict,
                    SubscriptionNotFound,
                    SubscriptionRunning,
                )

                rest = url.path[len("/api/v1/mqtt/subscriptions"):] \
                    .strip("/")
                parts = [p for p in rest.split("/") if p]
                try:
                    req = json.loads(body or b"{}")
                except json.JSONDecodeError:
                    return self._json(400, {"error": "body must be JSON"})
                try:
                    if method == "GET":
                        if not parts:
                            return self._json(200, {"subscriptions": [
                                s.to_public() for s in mgr.list()]})
                        if len(parts) == 2 and parts[1] == "stats":
                            return self._json(200, mgr.stats(parts[0]))
                        if len(parts) == 1:
                            return self._json(
                                200, mgr.get(parts[0]).to_public())
                    elif method == "POST":
                        if not parts:
                            sub = mgr.create(
                                req, password=req.pop("password", ""))
                            return self._json(201, sub.to_public())
                        if len(parts) == 2 and parts[1] in (
                                "start", "stop", "pause", "restart"):
                            sub_id = parts[0]
                            if parts[1] == "start":
                                return self._json(
                                    200, mgr.start(sub_id).to_public())
                            if parts[1] == "restart":
                                return self._json(
                                    200, mgr.restart(sub_id).to_public())
                            getattr(mgr, parts[1])(sub_id)
                            return self._json(
                                200, mgr.get(sub_id).to_public())
                        if len(parts) == 1:
                            return self._json(
                                200, mgr.update(parts[0], req).to_public())
                    elif method == "DELETE" and len(parts) == 1:
                        mgr.delete(parts[0])
                        return self._json(200, {"deleted": parts[0]})
                except MqttValidationError as e:
                    return self._json(400, {"error": str(e)})
                except SubscriptionNotFound as e:
                    return self._json(404, {"error": str(e)})
                except (SubscriptionRunning, SubscriptionConflict) as e:
                    return self._json(409, {"error": str(e)})
                except Exception as e:
                    # broker connect failures etc. — operational, not 5xx
                    # engine faults (the breaker must not trip)
                    return self._json(502, {"error": str(e)[:300]})
                return self._json(404, {"error": "not found"})

            def _tiering_policies(self, method: str, url, body: bytes,
                                  token: str):
                """/api/v1/tiering/policies surface (reference
                tiering_policies.go RegisterRoutes):
                GET /                  list custom policies
                GET /<db>              the stored policy (404 if none)
                GET /<db>/effective    resolved vs the global default
                PUT /<db>              set {hot_only, hot_max_age_days}
                DELETE /<db>           revert to global defaults
                (the reference gates these behind an enterprise tiering
                license; shipped ungated here — README §Non-goals)"""
                if not self._require_admin(token):
                    return
                store = outer.tiering_policies
                if store is None:
                    return self._json(503, {
                        "error": "tiering policies not configured "
                                 "([tiering] requires a cold tier)"})
                rest = url.path[len("/api/v1/tiering/policies"):].strip("/")
                parts = [p for p in rest.split("/") if p]
                default_days = outer.tiering_default_days
                try:
                    if method == "GET":
                        if not parts:
                            pol = store.list()
                            return self._json(200, {"policies": pol,
                                                    "count": len(pol)})
                        if len(parts) == 2 and parts[1] == "effective":
                            return self._json(200, store.effective(
                                parts[0], default_days))
                        if len(parts) == 1:
                            p = store.get(parts[0])
                            if p is None:
                                return self._json(404, {
                                    "error": f"no policy for {parts[0]}"})
                            return self._json(200, p)
                    elif method == "PUT" and len(parts) == 1:
                        try:
                            req = json.loads(body or b"{}")
                        except json.JSONDecodeError:
                            return self._json(400,
                                              {"error": "body must be JSON"})
                        return self._json(200, store.set(
                            parts[0],
                            hot_only=bool(req.get("hot_only", False)),
                            hot_max_age_days=req.get("hot_max_age_days")))
                    elif method == "DELETE" and len(parts) == 1:
                        if not store.delete(parts[0]):
                            return self._json(404, {
                                "error": f"no policy for {parts[0]}"})
                        return self._json(200, {
                            "message": "Policy deleted, database now "
                                       "uses global defaults",
                            "database": parts[0]})
                except (ValueError, SqlValidationError) as e:
                    return self._json(400, {"error": str(e)})
                return self._json(404, {"error": "not found"})

            def _lp_precision(self, q: dict) -> str | None:
                """Validated ?precision= for the LP write surfaces, or
                None after replying 400. The whitelist is the PARSER's
                own table (single source of truth — a deferred flush must
                never see a precision the boundary admitted but the
                parser rejects; the reference 400s upfront the same way,
                lineprotocol.go:180-188).

                Intentional compat SUPERSET of the reference: the table
                also admits ``u`` (InfluxDB-1.x spelling of µs) which
                the reference's handleWrite rejects — clients written
                against real InfluxDB 1.x send it, so compat tests that
                diff our 400 set against the reference will see this one
                extra accepted value."""
                from arc_spark.sources.line_protocol import PRECISION_TO_US

                prec = q.get("precision", "ns")
                if prec not in PRECISION_TO_US:
                    self._json(400, {
                        "error": f"invalid precision {prec!r}: must be "
                                 "one of " + ", ".join(
                                     sorted(PRECISION_TO_US))})
                    return None
                return prec

            def _require_writer(self, token: str) -> bool:
                """Write endpoints refuse table-RESTRICTED tokens: the RBAC
                model scopes reads by table, and a read-scoped token must
                not be able to inject rows anywhere (an LP payload names
                arbitrary measurements). Writes need an unrestricted token
                (reference: write permission is a separate grant)."""
                if outer.auth is None:
                    return True
                info = outer.auth.verify(token)
                if info is None or info["allowed_tables"] is not None:
                    self._json(403, {"error": "write requires an unrestricted token"})
                    return False
                return True

            def _run(self, fn):
                """Engine-error → HTTP-status mapping (reference
                api/errors.go semantics). When a breaker is attached,
                engine-internal failures and timeouts trip it; USER errors
                (validation/RBAC/rate) deliberately do not — a client
                sending bad SQL must not be able to open the circuit for
                everyone else."""
                cb = outer.breaker
                try:
                    if cb is not None:
                        cb.allow()  # raises CircuitOpenError when open
                    try:
                        result = fn()
                    except (SqlValidationError, AccessDeniedError,
                            RateLimitExceeded, *_PAYLOAD_ERRORS):
                        if cb is not None:
                            # neutral, not success: in half-open a user
                            # error must release the probe slot without
                            # counting toward closing the circuit
                            cb.record_neutral()
                        raise
                    except Exception:
                        if cb is not None:
                            cb.record(False)
                        raise
                    if cb is not None:
                        cb.record(True)
                    return True, result
                except CircuitOpenError as e:
                    self._reply(
                        503, json.dumps({"error": str(e)}).encode(),
                        extra_headers={"Retry-After": str(
                            max(1, int(cb.remaining() + 0.999)))})
                except (SqlValidationError, *_PAYLOAD_ERRORS) as e:
                    self._json(400, {"error": str(e)})
                except AccessDeniedError as e:
                    self._json(403, {"error": str(e)})
                except RateLimitExceeded as e:
                    self._json(429, {"error": str(e)})
                except QueryTimeout as e:
                    self._json(408, {"error": str(e)})
                except Exception as e:  # engine-internal
                    self._json(500, {"error": f"{type(e).__name__}: {e}"})
                return False, None

            # -- rbac admin surface (reference rbac_routes.go) ------------
            def _rbac(self, method: str, url, q: dict, body: bytes,
                      token: str):
                """Dispatch /api/v1/rbac/* (organizations → teams → roles →
                measurement permissions → token memberships). Admin-gated;
                503 when RBAC isn't configured (the reference returns the
                same for an absent enterprise license)."""
                from arc_spark.rbac import RBACError

                rb = outer.rbac
                if rb is None:
                    return self._json(503, {"error": "rbac not configured"})
                if not self._require_admin(token):
                    return
                parts = url.path.removeprefix("/api/v1/rbac/").split("/")
                try:
                    req = json.loads(body) if body else {}
                except json.JSONDecodeError:
                    return self._json(400, {"error": "body must be JSON"})

                def _id(s):
                    try:
                        return int(s)
                    except ValueError:
                        raise RBACError(f"invalid id {s!r}")

                try:
                    # /organizations[/:id[/teams]]
                    if parts[0] == "organizations":
                        if len(parts) == 1:
                            if method == "GET":
                                return self._json(200, {
                                    "organizations": rb.list_organizations()})
                            if method == "POST":
                                org = rb.create_organization(
                                    req.get("name", ""),
                                    req.get("description", ""))
                                return self._json(201, org)
                        elif len(parts) == 2:
                            oid = _id(parts[1])
                            if method == "GET":
                                return self._json(200, rb.get_organization(
                                    oid, with_teams=q.get("with") == "teams"))
                            if method == "PATCH":
                                return self._json(200, rb.update_organization(
                                    oid, name=req.get("name"),
                                    description=req.get("description"),
                                    enabled=req.get("enabled")))
                            if method == "DELETE":
                                rb.delete_organization(oid)
                                return self._json(200, {"deleted": oid})
                        elif len(parts) == 3 and parts[2] == "teams":
                            oid = _id(parts[1])
                            if method == "GET":
                                return self._json(
                                    200, {"teams": rb.list_teams(oid)})
                            if method == "POST":
                                return self._json(201, rb.create_team(
                                    oid, req.get("name", ""),
                                    req.get("description", "")))
                    # /teams/:id[/roles | /tokens[/:name]]
                    elif parts[0] == "teams" and len(parts) >= 2:
                        tid = _id(parts[1])
                        if len(parts) == 2:
                            if method == "GET":
                                return self._json(200, rb.get_team(
                                    tid, with_roles=q.get("with") == "roles"))
                            if method == "PATCH":
                                return self._json(200, rb.update_team(
                                    tid, name=req.get("name"),
                                    description=req.get("description"),
                                    enabled=req.get("enabled")))
                            if method == "DELETE":
                                rb.delete_team(tid)
                                return self._json(200, {"deleted": tid})
                        elif parts[2] == "roles" and len(parts) == 3:
                            if method == "GET":
                                return self._json(
                                    200, {"roles": rb.list_roles(tid)})
                            if method == "POST":
                                return self._json(201, rb.create_role(
                                    tid, req.get("database_pattern", ""),
                                    req.get("permissions") or []))
                        elif parts[2] == "tokens":
                            if len(parts) == 3:
                                if method == "GET":
                                    return self._json(200, {
                                        "tokens": rb.list_team_tokens(tid)})
                                if method == "POST":
                                    return self._json(
                                        201, rb.add_token_to_team(
                                            req.get("token_name", ""), tid))
                            elif len(parts) == 4 and method == "DELETE":
                                rb.remove_token_from_team(parts[3], tid)
                                return self._json(200, {
                                    "removed": parts[3], "team_id": tid})
                    # /roles/:id[/measurements]
                    elif parts[0] == "roles" and len(parts) >= 2:
                        rid = _id(parts[1])
                        if len(parts) == 2:
                            if method == "GET":
                                return self._json(200, rb.get_role(
                                    rid, with_measurements=(
                                        q.get("with") == "measurements")))
                            if method == "PATCH":
                                return self._json(200, rb.update_role(
                                    rid,
                                    database_pattern=req.get(
                                        "database_pattern"),
                                    permissions=req.get("permissions")))
                            if method == "DELETE":
                                rb.delete_role(rid)
                                return self._json(200, {"deleted": rid})
                        elif parts[2] == "measurements" and len(parts) == 3:
                            if method == "GET":
                                return self._json(200, {
                                    "measurement_permissions":
                                        rb.list_measurement_permissions(rid)})
                            if method == "POST":
                                return self._json(
                                    201, rb.create_measurement_permission(
                                        rid,
                                        req.get("measurement_pattern", ""),
                                        req.get("permissions") or []))
                    # /measurement-permissions/:id
                    elif (parts[0] == "measurement-permissions"
                          and len(parts) == 2 and method == "DELETE"):
                        rb.delete_measurement_permission(_id(parts[1]))
                        return self._json(200, {"deleted": parts[1]})
                    # /tokens/:name/effective — resolved grants for a token
                    elif (parts[0] == "tokens" and len(parts) == 3
                          and parts[2] == "effective" and method == "GET"):
                        perms = None
                        if outer.auth is not None:
                            for t in outer.auth.list_tokens():
                                if t["name"] == parts[1]:
                                    perms = t["permissions"]
                                    break
                        if perms is None:
                            return self._json(404, {
                                "error": f"token {parts[1]!r} not found"})
                        eff = rb.get_effective_permissions(
                            {"name": parts[1], "permissions": perms})
                        return self._json(
                            200, {"effective_permissions": eff})
                except RBACError as e:
                    code = 404 if "not found" in str(e) else 400
                    if "already" in str(e):
                        code = 409
                    return self._json(code, {"error": str(e)})
                return self._json(404, {"error": "not found"})

            # -- routes ---------------------------------------------------
            def do_GET(self):
                url = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                if url.path == "/health":
                    return self._json(200, {"status": "ok"})
                if url.path in ("/ready", "/api/v1/ready"):
                    # readiness (reference /ready): the engine is ready when
                    # its SparkSession answers — liveness (/health) is not
                    # enough for a load balancer to route queries
                    try:
                        outer.query.spark.sparkContext.applicationId
                        return self._json(200, {"status": "ready"})
                    except Exception:
                        return self._json(503, {"status": "not ready"})
                if url.path == "/api/v1/write/msgpack/spec":
                    # the columnar MessagePack wire spec (reference
                    # /api/v1/write/msgpack/spec serves its protocol doc)
                    return self._json(200, {
                        "format": "columnar",
                        "fields": {
                            "m": "measurement name (string, required)",
                            "columns": "map column -> array of values; "
                                       "'time' required (int64 epoch)",
                            "tags": "list of column names treated as tags",
                        },
                        "time_units": "auto-normalized: s/ms/us/ns by "
                                      "magnitude; stored as microseconds",
                        "compression": ["none", "gzip", "zstd"],
                        "batch_alternative":
                            "list of row maps also accepted (row form)",
                    })
                if url.path == "/metrics":
                    # authenticated: request patterns, ingest volumes and
                    # query stats are operational data, not public
                    if self._authenticate() is None:
                        return
                    # Prometheus text exposition (reference internal/monitoring):
                    # engine counters + per-route request counts + query registry
                    lines = [
                        "# TYPE arc_http_requests_total counter",
                    ]
                    with outer._metrics_lock:
                        snap = dict(outer.metrics)
                    for key, n in sorted(snap.items()):
                        method, path, code = key.split(" ")
                        lines.append(
                            f'arc_http_requests_total{{method="{method}",'
                            f'path="{path}",code="{code}"}} {n}'
                        )
                    if outer.ingest is not None:
                        st = outer.ingest.stats
                        lines += [
                            "# TYPE arc_ingest_rows_acked_total counter",
                            f"arc_ingest_rows_acked_total {st['acked']}",
                            "# TYPE arc_ingest_rows_flushed_total counter",
                            f"arc_ingest_rows_flushed_total {st['flushed']}",
                            "# TYPE arc_ingest_flushes_total counter",
                            f"arc_ingest_flushes_total {st['flushes']}",
                        ]
                    by_status, total_secs = outer.query.registry.totals()
                    lines.append("# TYPE arc_queries_total counter")
                    for status, n in sorted(by_status.items()):
                        lines.append(f'arc_queries_total{{status="{status}"}} {n}')
                    lines += [
                        "# TYPE arc_query_seconds_total counter",
                        f"arc_query_seconds_total {total_secs:.6f}",
                    ]
                    return self._reply(200, ("\n".join(lines) + "\n").encode(),
                                       "text/plain; version=0.0.4")
                if url.path == "/api/v1/auth/verify":
                    # cheap credential probe for agents/load balancers
                    # (reference auth_routes.go:54 verifyToken — a public
                    # route that self-reports validity instead of the
                    # generic 401, so a prober can distinguish "bad
                    # token" from "route missing"). Never echoes the
                    # token; allowed_tables stays server-side (the RBAC
                    # views are enumerable through their own admin
                    # routes, not through a read probe).
                    tok = self._token()
                    if outer.auth is None:
                        return self._json(200, {"valid": True,
                                                "auth_disabled": True})
                    if not tok:
                        return self._json(401, {
                            "valid": False, "error": "no token provided"})
                    info = outer.auth.verify(tok)
                    if info is None:
                        return self._json(401, {
                            "valid": False,
                            "error": "invalid or expired token"})
                    return self._json(200, {
                        "valid": True,
                        "token_info": {
                            "name": info["name"],
                            "restricted": info["allowed_tables"]
                            is not None,
                        },
                        "permissions": info["permissions"],
                    })
                token = self._authenticate()
                if token is None:
                    return
                if url.path.startswith("/api/v1/rbac/"):
                    return self._rbac("GET", url, q, b"", token)
                if url.path == "/api/v1/sync-spokes":
                    # operator observability: which spokes exist, enabled
                    # state, registration time — secrets excluded
                    # (reference edgesync_admin.go list; admin-only
                    # including the read path: the spoke list is a map of
                    # edge deployments)
                    if outer.bundle_registry is None:
                        return self._json(503, {
                            "error": "bundle import not configured"})
                    if not self._require_admin(token):
                        return
                    return self._json(200, {
                        "spokes": outer.bundle_registry.list()})
                if url.path.startswith("/api/v1/sync-spokes/"):
                    if outer.bundle_registry is None:
                        return self._json(503, {
                            "error": "bundle import not configured"})
                    if not self._require_admin(token):
                        return
                    sid = url.path.rsplit("/", 1)[-1]
                    s = outer.bundle_registry.get(sid)
                    if s is None:
                        return self._json(404,
                                          {"error": "spoke not registered"})
                    return self._json(200, {"spoke_id": sid,
                                            "enabled": s["enabled"]})
                if url.path == "/api/v1/databases":
                    return self._json(200, {"databases": outer.query.catalog.databases()})
                if url.path == "/api/v1/measurements":
                    return self._json(
                        200,
                        {"measurements": outer.query.catalog.measurements(q.get("db", ""))},
                    )
                if (url.path.startswith("/api/v1/databases/")
                        and url.path.endswith("/measurements")):
                    name = url.path.rsplit("/", 2)[-2]
                    return self._json(
                        200,
                        {"measurements": outer.query.catalog.measurements(name)},
                    )
                if url.path.startswith("/api/v1/databases/"):
                    # GET /api/v1/databases/<name> (reference databases.go
                    # handleGet: existence + measurement count)
                    name = url.path.rsplit("/", 1)[-1]
                    if name not in outer.query.catalog.databases():
                        return self._json(404,
                                          {"error": f"database {name!r} not found"})
                    meas = outer.query.catalog.measurements(name)
                    return self._json(200, {"database": name,
                                            "measurement_count": len(meas),
                                            "measurements": meas})
                if url.path == "/api/v1/logs":
                    # recent-request ring buffer (reference /api/v1/logs)
                    try:
                        limit = int(q.get("limit", "100"))
                    except ValueError:
                        return self._json(400, {"error": "bad limit"})
                    with outer._metrics_lock:
                        entries = list(outer.logs)[-max(limit, 0):]
                    return self._json(200, {"logs": entries})
                if url.path == "/api/v1/edge/status":
                    # hub-side edge-sync observability (edgesync
                    # registry.go spoke activity + hubindex size)
                    if outer.edge_receiver is None:
                        return self._json(503, {"error": "edge sync disabled"})
                    return self._json(200, {
                        "indexed_files": outer.edge_receiver.index.count(),
                        "spokes": outer.edge_receiver.activity,
                    })
                if url.path.startswith("/api/v1/bundle-import/history/"):
                    # reference edgesync_import.go history/:spoke_id
                    if outer.bundle_importer is None:
                        return self._json(503, {
                            "error": "bundle import not configured"})
                    if not self._require_admin(token):
                        return
                    spoke_id = url.path.rsplit("/", 1)[-1]
                    try:
                        limit = int(q.get("limit", "50"))
                    except ValueError:
                        return self._json(400, {"error": "bad limit"})
                    return self._json(200, {
                        "spoke_id": spoke_id,
                        "bundles": outer.bundle_importer.index
                        .list_by_spoke(spoke_id, limit=limit)})
                if url.path == "/api/v1/snapshots":
                    # pinnable time-travel versions for one measurement
                    # (GET ?db=&measurement= → snapshots.history; pair
                    # with /api/v1/query/:m?snapshot=N)
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    db, meas = q.get("db"), q.get("measurement")
                    if not db or not meas:
                        return self._json(400, {"error": "missing db/measurement"})

                    def _hist():
                        from arc_spark import snapshots as _sn
                        from arc_spark.catalog import validate_identifier
                        from arc_spark.storage import backend_for as _bf

                        validate_identifier(db, "database")
                        validate_identifier(meas, "measurement")
                        bk = _bf(outer.ingest.root)
                        mp = bk.join(outer.ingest.root, db, meas)
                        if not bk.isdir(mp):
                            raise SqlValidationError(
                                f"no measurement {db}.{meas}")
                        return {"snapshots": _sn.history(mp, bk=bk)}

                    ok, out = self._run(_hist)
                    if ok:
                        self._json(200, out)
                    return

                if url.path == "/api/v1/compaction/status":
                    # reference internal/api/compaction.go getStatus/
                    # getCandidates: which partitions are eligible NOW
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    from arc_spark.operators.compaction import (
                        compaction_candidates,
                    )
                    from arc_spark.storage import backend_for as _bf

                    root = outer.ingest.root
                    bk = _bf(root)
                    min_files = int(q.get("min_files", "10"))
                    min_age = float(q.get("min_age_seconds", "3600"))
                    out = []
                    if bk.isdir(root):
                        for db in bk.list_dirs(root):
                            if q.get("db") and db != q["db"]:
                                continue
                            for meas in bk.list_dirs(bk.join(root, db)):
                                cands = compaction_candidates(
                                    bk.join(root, db, meas),
                                    min_files=min_files,
                                    min_age_seconds=min_age)
                                if cands:
                                    out.append({
                                        "db": db, "measurement": meas,
                                        "candidates": [bk.relpath(
                                            c, bk.join(root, db, meas))
                                            for c in cands]})
                    return self._json(200, {
                        "eligible": out, "min_files": min_files,
                        "min_age_seconds": min_age})
                if url.path == "/api/v1/governance":
                    # reference governance.go ListPolicies (keys MASKED)
                    if not self._require_admin(token):
                        return
                    pol = outer.query.governor.list_policies()
                    return self._json(200, {"policies": pol,
                                            "count": len(pol)})
                if url.path.startswith("/api/v1/tiering/policies"):
                    return self._tiering_policies("GET", url, b"", token)
                if url.path == "/api/v1/tiering/status":
                    # reference internal/api/tiering.go GetStatus/GetFiles:
                    # which day partitions live on which tier
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    cold = outer.query.catalog.cold_root
                    if not cold:
                        return self._json(200, {
                            "enabled": False,
                            "detail": "no cold tier configured"})
                    from arc_spark.operators.tiering import tier_report
                    from arc_spark.storage import backend_for as _bf

                    root = outer.ingest.root
                    bk = _bf(root)
                    reports = []
                    if bk.isdir(root):
                        for db in bk.list_dirs(root):
                            if q.get("db") and db != q["db"]:
                                continue
                            for meas in bk.list_dirs(bk.join(root, db)):
                                rep = tier_report(root, cold, db, meas)
                                rep.update({"db": db, "measurement": meas})
                                reports.append(rep)
                    return self._json(200, {"enabled": True,
                                            "measurements": reports})
                if url.path == "/api/v1/metrics/endpoints":
                    # per-endpoint latency summary (reference
                    # /api/v1/metrics/endpoints)
                    with outer._metrics_lock:
                        snap = {k: list(v) for k, v in outer.endpoint_ms.items()}
                    return self._json(200, {"endpoints": {
                        k: {"count": n, "avg_ms": round(s_ / n, 2) if n else 0,
                            "max_ms": round(mx, 2)}
                        for k, (n, s_, mx) in sorted(snap.items())
                    }})
                if url.path.startswith("/api/v1/metrics/timeseries/"):
                    # ring-buffer time-series metrics (reference
                    # server.go:183 timeseriesMetricsHandler over
                    # internal/metrics/timeseries.go)
                    if outer.timeseries is None:
                        return self._json(404, {
                            "error": "time-series collector not enabled"})
                    mtype = url.path.rsplit("/", 1)[-1]
                    try:
                        dm = int(q.get("duration_minutes", "30"))
                    except ValueError:
                        return self._json(400, {"error": "bad duration_minutes"})
                    try:
                        pts = outer.timeseries.get(mtype, dm)
                    except ValueError as e:
                        return self._json(400, {
                            "error": str(e),
                            "valid_types": list(
                                outer.timeseries.VALID_TYPES)})
                    import datetime as _dt

                    return self._json(200, {
                        "timestamp": _dt.datetime.now(
                            _dt.timezone.utc).isoformat(),
                        "type": mtype,
                        "duration_minutes": max(1, min(dm, 1440)),
                        "points_count": len(pts),
                        "data": pts,
                    })
                if url.path == "/api/v1/metrics":
                    # JSON counters view (reference /api/v1/metrics; the
                    # Prometheus exposition lives at /metrics)
                    with outer._metrics_lock:
                        snap = dict(outer.metrics)
                    body_obj = {"http_requests": snap}
                    if outer.ingest is not None:
                        body_obj["ingest"] = dict(outer.ingest.stats)
                    return self._json(200, body_obj)
                if url.path == "/api/v1/metrics/memory":
                    # driver process + JVM heap view (reference
                    # /api/v1/metrics/memory)
                    import resource

                    rt = outer.query.spark._jvm.java.lang.Runtime.getRuntime()
                    return self._json(200, {
                        "driver_max_rss_kb":
                            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
                        "jvm_total_bytes": rt.totalMemory(),
                        "jvm_free_bytes": rt.freeMemory(),
                        "jvm_max_bytes": rt.maxMemory(),
                    })
                if url.path == "/api/v1/metrics/query-pool":
                    # in-flight/recent query pool stats (reference
                    # /api/v1/metrics/query-pool over the registry)
                    infos = outer.query.registry.list()
                    by_status: dict[str, int] = {}
                    for i in infos:
                        by_status[i.status] = by_status.get(i.status, 0) + 1
                    return self._json(200, {
                        "total_tracked": len(infos),
                        "by_status": by_status,
                        "running": by_status.get("running", 0),
                    })
                if url.path == "/api/v1/debug/memstats":
                    # memory attribution for support cases (reference
                    # internal/api/debug.go handleMemstats: Go heap vs
                    # native heap vs process RSS; here Python heap vs JVM
                    # heap vs process RSS) — admin, like the reference
                    if not self._require_admin(token):
                        return
                    import gc
                    import resource
                    import sys as _sys

                    rt = outer.query.spark._jvm.java.lang.Runtime.getRuntime()
                    alloc = (_sys.getallocatedblocks()
                             if hasattr(_sys, "getallocatedblocks") else None)
                    return self._json(200, {
                        "process": {
                            "max_rss_kb": resource.getrusage(
                                resource.RUSAGE_SELF).ru_maxrss,
                        },
                        "python": {
                            "allocated_blocks": alloc,
                            "gc_objects": len(gc.get_objects()),
                            "gc_counts": gc.get_count(),
                        },
                        "jvm": {
                            "total_bytes": rt.totalMemory(),
                            "free_bytes": rt.freeMemory(),
                            "max_bytes": rt.maxMemory(),
                            "used_bytes": rt.totalMemory() - rt.freeMemory(),
                        },
                    })
                if url.path == "/api/v1/audit":
                    # audit trail query (reference audit.go Query; admin —
                    # the trail names actors and databases)
                    if outer.audit is None:
                        return self._json(503, {"error": "audit disabled"})
                    if not self._require_admin(token):
                        return
                    outer.audit.flush()  # serve a read-your-writes view
                    try:
                        entries = outer.audit.query(
                            event_type=q.get("event_type", ""),
                            actor=q.get("actor", ""),
                            database=q.get("database", ""),
                            since=float(q["since"]) if "since" in q else None,
                            until=float(q["until"]) if "until" in q else None,
                            limit=int(q.get("limit", "100")),
                            offset=int(q.get("offset", "0")),
                        )
                    except ValueError:
                        return self._json(400, {"error": "bad filter value"})
                    return self._json(200, {"entries": entries,
                                            "dropped": outer.audit.dropped})
                if url.path == "/api/v1/audit/stats":
                    if outer.audit is None:
                        return self._json(503, {"error": "audit disabled"})
                    if not self._require_admin(token):
                        return
                    outer.audit.flush()
                    since = None
                    try:
                        since = float(q["since"]) if "since" in q else None
                    except ValueError:
                        return self._json(400, {"error": "bad since"})
                    return self._json(200, {"stats": outer.audit.stats(since)})
                if url.path == "/api/v1/cache/stats":
                    # pruned-plan cache observability (reference
                    # /cache/stats over its SQL transform cache, A9)
                    if not self._require_admin(token):
                        return
                    cat = outer.query.catalog
                    cache = getattr(cat, "_prune_plan_cache", None) or {}
                    stats = getattr(cat, "_prune_cache_stats", None) or {
                        "hits": 0, "misses": 0}
                    return self._json(200, {
                        "entries": len(cache), "capacity": 256,
                        "hits": stats["hits"], "misses": stats["misses"],
                        "epoch": getattr(cat, "epoch", None),
                    })
                if url.path == "/api/v1/scheduler/status":
                    # background maintenance jobs (internal/scheduler Status)
                    if outer.scheduler is None:
                        return self._json(503, {"error": "scheduler disabled"})
                    if not self._require_admin(token):
                        return
                    return self._json(200, {"jobs": outer.scheduler.status()})
                if url.path == "/api/v1/reconcile/runs":
                    if outer.reconciler is None:
                        return self._json(503, {"error": "reconciler disabled"})
                    if not self._require_admin(token):
                        return
                    return self._json(200, {
                        "running": outer.reconciler.is_running(),
                        "runs": outer.reconciler.recent_runs()})
                if url.path == "/api/v1/breaker":
                    if outer.breaker is None:
                        return self._json(503, {"error": "breaker disabled"})
                    if not self._require_admin(token):
                        return
                    return self._json(200, outer.breaker.stats())
                if url.path.startswith("/api/v1/mqtt/subscriptions"):
                    return self._mqtt_subs("GET", url, b"", token)
                if url.path in ("/api/v1/mqtt/health", "/api/v1/mqtt/stats"):
                    # reference internal/mqtt health/stats surface
                    if outer.mqtt is None:
                        return self._json(503, {"error": "mqtt bridge not attached"})
                    if url.path.endswith("health"):
                        return self._json(200, {
                            "status": "ok",
                            "subscriptions": len(outer.mqtt.subscriptions),
                        })
                    return self._json(200, dict(outer.mqtt.stats))
                if url.path == "/api/v1/import/stats":
                    # per-lane import totals (reference /api/v1/import/stats)
                    # snapshot UNDER the lock, reply OUTSIDE it: _reply
                    # itself takes _metrics_lock for the request counters
                    with outer._metrics_lock:
                        snap = {k: dict(v)
                                for k, v in outer.import_stats.items()}
                    return self._json(200, {"imports": snap})
                if url.path == "/api/v1/write/tle/stats":
                    with outer._metrics_lock:
                        st = dict(outer.import_stats.get(
                            "tle", {"files": 0, "rows": 0}))
                    return self._json(200, st)
                if url.path == "/api/v1/write/msgpack/stats":
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    return self._json(200, dict(outer.ingest.stats))
                if url.path == "/api/v1/write/line-protocol/health":
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    return self._json(200, {"status": "ok"})
                if url.path == "/api/v1/write/line-protocol/stats":
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    return self._json(200, dict(outer.ingest.stats))
                if url.path in ("/api/v1/queries", "/api/v1/queries/active",
                                "/api/v1/queries/history"):
                    if not self._require_admin(token):
                        return
                    if url.path.endswith("/active"):
                        infos = outer.query.registry.active()
                    elif url.path.endswith("/history"):
                        # finished queries, most recent first (reference
                        # queryregistry GetHistory ring buffer)
                        infos = outer.query.registry.history()
                    else:
                        infos = outer.query.registry.list()
                    return self._json(200, {"queries": [
                        {"query_id": i.query_id, "sql": i.sql,
                         "status": i.status, "started_at": i.started_at,
                         "finished_at": i.finished_at, "rows": i.rows,
                         "error": i.error}
                        for i in infos
                    ]})
                if url.path.startswith("/api/v1/queries/"):
                    # GET one query by id — active first, then history
                    # (reference GetQuery)
                    if not self._require_admin(token):
                        return
                    qid = url.path.rsplit("/", 1)[-1]
                    i = outer.query.registry.get(qid)
                    if i is None:
                        return self._json(
                            404, {"error": f"query {qid!r} not found"})
                    return self._json(200, {
                        "query_id": i.query_id, "sql": i.sql,
                        "status": i.status, "started_at": i.started_at,
                        "finished_at": i.finished_at, "rows": i.rows,
                        "error": i.error})
                if url.path == "/api/v1/auth/tokens":
                    if outer.auth is None:
                        return self._json(503, {"error": "auth disabled"})
                    if not self._require_admin(token):
                        return
                    return self._json(200, {"tokens": outer.auth.list_tokens()})
                if url.path == "/api/v1/continuous_queries":
                    if not self._require_admin(token):
                        return
                    return self._json(200, {"continuous_queries": [
                        {"name": c.name, "sql": c.sql, "dest_db": c.dest_db,
                         "dest_measurement": c.dest_measurement,
                         "interval_seconds": c.interval_seconds}
                        for c in outer.cqs.values()
                    ]})
                if url.path.startswith("/api/v1/query/"):
                    measurement = url.path.rsplit("/", 1)[-1]
                    fmt = q.get("format", "json")
                    if fmt not in ("json", "arrow", "msgpack"):
                        return self._json(400, {"error": f"bad format {fmt!r}"})
                    snap = q.get("snapshot")
                    if snap is not None and not snap.lstrip("-").isdigit():
                        return self._json(400, {
                            "error": "snapshot must be an integer version"})
                    if snap is not None and (q.get("where")
                                             or q.get("order_by")):
                        # pinned reads support the trivial shape only
                        return self._json(400, {
                            "error": "snapshot reads do not support "
                                     "where/order_by"})
                    where = q.get("where")
                    # native-eligible shapes: trivial (no where), or a
                    # pure time-range where — both with no order_by.
                    # The time-range route is the reference's "Time
                    # Range (7d) LIMIT 10K" serving shape: snapshot
                    # file list pruned by hive prefix + exact pyarrow
                    # row filter, no Spark job. Any shape the native
                    # path can't express falls through (in-band, not
                    # via exception-to-HTTP) to the Spark path below.
                    native_eligible = not q.get("order_by") and (
                        not where or (not snap
                                      and api.parse_time_range(where)
                                      is not None))
                    table = None
                    fell_back = False
                    if native_eligible:
                        # ?snapshot=N pins the read to that committed
                        # snapshot version (time travel)
                        def _fast():
                            try:
                                return outer.query.scan_measurement_arrow(
                                    q.get("db", "default"), measurement,
                                    limit=int(q.get("limit", "1000")),
                                    token=token,
                                    snapshot=int(snap) if snap else None,
                                    where=where)
                            except api.NativeScanUnsupported:
                                return None  # → Spark path keeps semantics

                        ok, table = self._run(_fast)
                        if not ok:
                            return
                        # a post-admit fallback (no time column / lossy
                        # type) already consumed the rate-limit slot —
                        # the Spark path below must not charge it again
                        fell_back = table is None
                    # this route's JSON is {"rows": [row dicts]}, built
                    # from the same Row shape on both paths
                    wire = "rows" if fmt == "json" else fmt
                    if table is not None:
                        from arc_spark.serving import encode

                        out = encode(table, wire)
                    else:
                        ok, out = self._run(
                            lambda: outer.query.query_measurement(
                                q.get("db", "default"),
                                measurement,
                                where=q.get("where"),
                                order_by=q.get("order_by"),
                                limit=int(q.get("limit", "1000")),
                                token=token,
                                _admitted=fell_back,
                                fmt=wire,
                            ))
                        if not ok:
                            return
                    if fmt == "json":
                        return self._json(
                            200, {"rows": [r.asDict() for r in out]})
                    return self._reply(200, out, _FMT_CONTENT_TYPES[fmt])
                self._json(404, {"error": "not found"})

            def do_POST(self):
                url = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                token = self._authenticate()
                if token is None:
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    return self._json(400, {"error": "bad Content-Length"})
                if length > outer.max_request_bytes:
                    # refused BEFORE reading: the declared size alone must
                    # not buy a giant allocation
                    return self._json(413, {
                        "error": f"request body {length} bytes exceeds "
                                 f"limit {outer.max_request_bytes}"})
                body = self.rfile.read(length) if length else b""

                if url.path.startswith("/api/v1/rbac/"):
                    return self._rbac("POST", url, q, body, token)
                if url.path.startswith("/api/v1/mqtt/subscriptions"):
                    return self._mqtt_subs("POST", url, body, token)
                if url.path in ("/api/v1/query", "/api/v1/query/arrow",
                                "/api/v1/query/msgpack"):
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    sql = req.get("sql") or req.get("query")
                    if not sql:
                        return self._json(400, {"error": "missing 'sql'"})
                    # dedicated wire-format routes (reference query_arrow.go /
                    # query_msgpack.go) fix the format; /query takes it from
                    # the body
                    if url.path.endswith("/arrow"):
                        fmt = "arrow"
                    elif url.path.endswith("/msgpack"):
                        fmt = "msgpack"
                    else:
                        fmt = req.get("format", "json")
                    if fmt not in ("json", "arrow", "msgpack"):
                        return self._json(400, {"error": f"unknown format {fmt!r}"})
                    # x-arc-database scopes the request to one database
                    # (reference query.go:1484-1495)
                    header_db = self.headers.get("x-arc-database") or None
                    import time as _time

                    t0 = _time.perf_counter()
                    ok, out = self._run(
                        lambda: outer.query.execute(sql, token=token, fmt=fmt,
                                                    db=header_db)
                    )
                    if not ok:
                        return
                    # the reference reports execution time alongside the
                    # Arrow payload (query_arrow.go:27-31); HTTP equivalent
                    exec_hdr = {
                        "X-Arc-Execution-Time-Ms":
                            f"{(_time.perf_counter() - t0) * 1000:.1f}"
                    }
                    if fmt == "json":
                        if isinstance(out, list) and out and isinstance(out[0], dict):
                            return self._json(200, {"rows": out})  # SHOW intercepts
                        return self._reply(
                            200, ("[" + ",".join(out) + "]").encode()
                            if isinstance(out, list) else json.dumps(out).encode(),
                            extra_headers=exec_hdr,
                        )
                    return self._reply(200, out, _FMT_CONTENT_TYPES[fmt],
                                       extra_headers=exec_hdr)

                if url.path == "/api/v1/edge/reconcile":
                    # hub-side "which of these do you have?" (reference
                    # edgesync reconcile.go; capped batch, spoke pages)
                    if outer.edge_receiver is None:
                        return self._json(503, {"error": "edge sync disabled"})
                    if not self._require_writer(token):
                        return
                    from arc_spark.sources.edgesync import ReconcileTooLarge

                    try:
                        req = json.loads(body or b"{}")
                        out = outer.edge_receiver.reconcile(
                            req.get("entries") or [])
                    except ReconcileTooLarge as e:
                        return self._json(413, {"error": str(e)})
                    except (ValueError, KeyError, TypeError) as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, out)
                if url.path == "/api/v1/edge/upload":
                    # hub-side verified file receive (edgesync receive.go:
                    # stage → verify sha → promote → commit); 409 on an
                    # immutability conflict, 400 on a digest mismatch,
                    # 413 over the single-request cap (chunked routes
                    # below carry larger files in bounded parts)
                    if outer.edge_receiver is None:
                        return self._json(503, {"error": "edge sync disabled"})
                    if not self._require_writer(token):
                        return
                    if len(body) > outer.max_upload_bytes:
                        return self._json(413, {
                            "error": f"payload {len(body)} bytes exceeds "
                                     f"single-request cap "
                                     f"{outer.max_upload_bytes}; use the "
                                     "chunked /edge/upload/begin routes"})
                    from arc_spark.sources.edgesync import SyncConflict

                    path, sha = q.get("path", ""), q.get("sha256", "")
                    spoke = self.headers.get("X-Arc-Spoke-Id", "")
                    try:
                        out = outer.edge_receiver.receive(
                            path, sha, body, spoke_id=spoke)
                    except SyncConflict as e:
                        return self._json(409, {"error": str(e)})
                    except ValueError as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, out)
                if url.path == "/api/v1/edge/upload/begin":
                    # chunked transfer (edgesync transfer path): open or
                    # resume a session; the response offset lets a spoke
                    # continue an interrupted upload
                    if outer.edge_receiver is None:
                        return self._json(503, {"error": "edge sync disabled"})
                    if not self._require_writer(token):
                        return
                    from arc_spark.sources.edgesync import SyncConflict

                    try:
                        req = json.loads(body or b"{}")
                        out = outer.edge_receiver.begin(
                            req.get("path", ""), req.get("sha256", ""),
                            int(req.get("size", -1)),
                            spoke_id=self.headers.get("X-Arc-Spoke-Id", ""))
                    except SyncConflict as e:
                        return self._json(409, {"error": str(e)})
                    except (ValueError, TypeError) as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, out)
                if url.path == "/api/v1/edge/upload/append":
                    if outer.edge_receiver is None:
                        return self._json(503, {"error": "edge sync disabled"})
                    if not self._require_writer(token):
                        return
                    if len(body) > outer.max_upload_bytes:
                        return self._json(413, {
                            "error": "chunk exceeds single-request cap"})
                    try:
                        out = outer.edge_receiver.append(
                            q.get("upload_id", ""),
                            int(q.get("offset", "-1")), body)
                    except (ValueError, TypeError) as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, out)
                if url.path == "/api/v1/edge/upload/finish":
                    if outer.edge_receiver is None:
                        return self._json(503, {"error": "edge sync disabled"})
                    if not self._require_writer(token):
                        return
                    from arc_spark.sources.edgesync import SyncConflict

                    try:
                        out = outer.edge_receiver.finish(
                            q.get("upload_id", ""))
                    except SyncConflict as e:
                        return self._json(409, {"error": str(e)})
                    except ValueError as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, out)
                if (url.path.startswith("/api/v1/scheduler/jobs/")
                        and url.path.endswith("/run")):
                    # manual trigger (internal/scheduler TriggerNow)
                    if outer.scheduler is None:
                        return self._json(503, {"error": "scheduler disabled"})
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 2)[-2]
                    if not any(j["name"] == name
                               for j in outer.scheduler.status()):
                        return self._json(404, {"error": f"no job {name!r}"})
                    ok, out = self._run(
                        lambda: outer.scheduler.trigger_now(name))
                    if ok:
                        self._json(200, {"job": name, "result": out})
                    return
                if url.path == "/api/v1/reconcile":
                    # storage reconciliation sweep (internal/reconciliation
                    # handleReconcile; dry_run defaults TRUE like the
                    # reference's conservative gate)
                    if outer.reconciler is None:
                        return self._json(503, {"error": "reconciler disabled"})
                    if not self._require_admin(token):
                        return
                    dry = q.get("dry_run", "true").lower() != "false"

                    def _reconcile():
                        return outer.reconciler.reconcile(dry_run=dry)

                    ok, summary = self._run(_reconcile)
                    if ok:
                        self._json(200, summary)
                    return
                if url.path == "/api/v1/metrics/memory/trim":
                    # memtrim analogue (reference internal/memtrim trims the
                    # native allocator after cache churn, debounced by
                    # internal/throttle): here the managed heap is the JVM's,
                    # so the trim is a GC hint — throttled process-wide
                    if not self._require_admin(token):
                        return
                    if not outer.memtrim.try_acquire():
                        return self._reply(
                            429,
                            json.dumps({"error": "trim throttled"}).encode(),
                            extra_headers={"Retry-After": str(
                                max(1, int(outer.memtrim.remaining() + 0.999)))})
                    outer.query.spark._jvm.java.lang.System.gc()
                    return self._json(200, {"status": "trimmed"})
                if url.path == "/api/v1/write/msgpack":
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_writer(token):
                        return
                    ok, n = self._run(
                        lambda: outer.ingest.write_msgpack(q.get("db", "default"), body)
                    )
                    if ok:
                        self._json(200, {"written": n})
                    return

                if url.path in ("/write", "/api/v2/write"):
                    # InfluxDB-compatible line-protocol writes (reference
                    # lineprotocol.go:96-144): the 1.x shape
                    # ``POST /write?db=&rp=&precision=`` (rp accepted and
                    # ignored) and the 2.x shape ``POST /api/v2/write?org=
                    # &bucket=&precision=`` (org ignored). The
                    # ``x-arc-database`` header takes precedence over the
                    # query param on both, precision is validated UPFRONT
                    # (a bad precision must 400 here, not poison a deferred
                    # flush later), and success is 204 — the contract
                    # Telegraf/Influx clients expect
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_writer(token):
                        return
                    prec = self._lp_precision(q)
                    if prec is None:
                        return
                    db = (self.headers.get("x-arc-database")
                          or (q.get("db") if url.path == "/write"
                              else q.get("bucket") or q.get("db"))
                          or "default")
                    ok, n = self._run(
                        lambda: outer.ingest.write_line_protocol(
                            db, body, precision=prec))
                    if ok:
                        self._reply(204, b"")
                    return

                if url.path == "/api/v1/cache/invalidate":
                    # drop the pruned-plan cache (reference /cache/invalidate)
                    if not self._require_admin(token):
                        return
                    cat = outer.query.catalog
                    cache = getattr(cat, "_prune_plan_cache", None)
                    n = len(cache) if cache else 0
                    if cache:
                        cache.clear()
                    return self._json(200, {"invalidated": n})

                if url.path == "/api/v1/databases":
                    # create database = create the namespace prefix
                    # (reference databases.go handleCreate)
                    if not self._require_admin(token):
                        return
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    name = req.get("name") or req.get("database")
                    if not name or not outer.query._IDENT_RE.match(name):
                        return self._json(400, {"error": "invalid database name"})
                    from arc_spark.storage import backend_for

                    root = outer.query.catalog.root
                    bk = backend_for(root)
                    if bk.isdir(bk.join(root, name)):
                        return self._json(409,
                                          {"error": f"database {name!r} exists"})
                    bk.mkdirs(bk.join(root, name))
                    return self._json(201, {"created": name})

                if (url.path.startswith("/api/v1/auth/tokens/")
                        and url.path.endswith("/rotate")):
                    # re-mint a token's secret in place (reference rotate)
                    if outer.auth is None:
                        return self._json(503, {"error": "auth disabled"})
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 2)[-2]
                    new = outer.auth.rotate(name)
                    if new is None:
                        return self._json(404, {"error": f"no token {name!r}"})
                    return self._json(200, {"name": name, "token": new})

                if url.path == "/api/v1/write/line-protocol/flush":
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_admin(token):
                        return
                    ok, n = self._run(outer.ingest.flush)
                    if ok:
                        self._json(200, {"flushed_rows": n})
                    return

                if url.path in ("/api/v1/write/line",
                                "/api/v1/write/line-protocol"):
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_writer(token):
                        return
                    prec = self._lp_precision(q)
                    if prec is None:
                        return
                    ok, n = self._run(
                        lambda: outer.ingest.write_line_protocol(
                            self.headers.get("x-arc-database")
                            or q.get("db", "default"), body,
                            precision=prec,
                        )
                    )
                    if ok:
                        self._json(200, {"written": n})
                    return

                if url.path == "/api/v1/query/estimate":
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    sql = req.get("sql")
                    if not sql:
                        return self._json(400, {"error": "missing 'sql'"})

                    def _estimate():
                        from arc_spark.governance import estimate_rows
                        from arc_spark.plans.validator import validate_read_only

                        validate_read_only(outer.query.spark, sql)
                        outer.query._check_rbac(token, sql)
                        rows, method = estimate_rows(outer.query.plan(sql))
                        return {"estimated_rows": rows, "method": method}

                    ok, out = self._run(_estimate)
                    if ok:
                        self._json(200, out)
                    return

                if url.path == "/api/v1/auth/tokens":
                    if outer.auth is None:
                        return self._json(503, {"error": "auth disabled"})
                    if not self._require_admin(token):
                        return
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    if not req.get("name"):
                        return self._json(400, {"error": "missing 'name'"})
                    ok, tok = self._run(lambda: outer.auth.create_token(
                        req["name"], req.get("allowed_tables")))
                    if ok:
                        self._json(201, {"token": tok, "name": req["name"]})
                    return

                if url.path in ("/api/v1/backup", "/api/v1/restore"):
                    # reference internal/backup/manager.go CreateBackup /
                    # RestoreBackup over the admin API
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    if not req.get("backup_root"):
                        return self._json(400, {"error": "missing backup_root"})

                    def _bk():
                        from arc_spark.operators.backup import (
                            create_backup,
                            restore_backup,
                        )

                        if url.path.endswith("backup"):
                            return create_backup(
                                outer.ingest.root, req["backup_root"],
                                db=req.get("db"),
                                measurement=req.get("measurement"),
                            )
                        if not req.get("backup_id"):
                            raise SqlValidationError("missing 'backup_id'")
                        return restore_backup(
                            req["backup_root"], req["backup_id"],
                            outer.ingest.root, db=req.get("db"),
                            measurement=req.get("measurement"),
                            prefix=req.get("prefix"),
                            overwrite=bool(req.get("overwrite", False)),
                        )

                    ok, out = self._run(_bk)
                    if ok:
                        self._json(200, out)
                    return

                if url.path == "/api/v1/export":
                    # on-demand external-reader export for ONE measurement
                    # (the scheduler job covers the periodic all-tables
                    # sweep; reference internal/iceberg/scheduler.go) —
                    # format: "delta" (transaction log), "iceberg" (v2
                    # metadata + version-hint), "tree" (committed-only
                    # hardlink/copy tree + Delta log at dest_path)
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    db, meas = req.get("db"), req.get("measurement")
                    if not db or not meas:
                        return self._json(400, {"error": "missing db/measurement"})
                    fmt = req.get("format", "delta")
                    if fmt not in ("delta", "iceberg", "tree"):
                        return self._json(400, {
                            "error": "format must be delta|iceberg|tree"})
                    if fmt == "tree" and not req.get("dest_path"):
                        return self._json(400, {
                            "error": "tree export needs dest_path"})

                    def _export():
                        from arc_spark.catalog import validate_identifier
                        from arc_spark.storage import backend_for

                        validate_identifier(db, "database")
                        validate_identifier(meas, "measurement")
                        bk = backend_for(outer.ingest.root)
                        mp = bk.join(outer.ingest.root, db, meas)
                        if not bk.isdir(mp):
                            raise SqlValidationError(
                                f"no measurement {db}.{meas}")
                        if fmt == "iceberg":
                            from arc_spark.operators.iceberg_export import (
                                export_iceberg,
                            )

                            return export_iceberg(
                                mp, bk=bk, table_name=f"{db}.{meas}")
                        if fmt == "tree":
                            from arc_spark.operators.export import export_tree

                            dbk = backend_for(req["dest_path"])
                            return export_tree(
                                mp, dbk.join(req["dest_path"], db, meas),
                                bk=bk, table_name=f"{db}.{meas}")
                        from arc_spark.operators.export import export_delta_log

                        return export_delta_log(
                            mp, bk=bk, table_name=f"{db}.{meas}")

                    ok, out = self._run(_export)
                    if ok:
                        self._json(200, out)
                    return

                if url.path in ("/api/v1/delete", "/api/v1/retention",
                                "/api/v1/compaction"):
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    db, meas = req.get("db"), req.get("measurement")
                    if not db or not meas:
                        return self._json(400, {"error": "missing db/measurement"})
                    root = outer.ingest.root
                    spark = outer.query.spark

                    def _manage():
                        if url.path.endswith("delete"):
                            from arc_spark.operators.lifecycle import delete_where

                            if not req.get("predicate"):
                                raise SqlValidationError("missing 'predicate'")
                            out = delete_where(
                                spark, root, db, meas, req["predicate"],
                                dry_run=bool(req.get("dry_run", False)),
                            )
                        elif url.path.endswith("retention"):
                            from arc_spark.operators.lifecycle import apply_retention

                            out = {"removed": apply_retention(
                                root, db, meas,
                                retention_days=float(req.get("retention_days", 30)),
                                buffer_days=float(req.get("buffer_days", 1)),
                                per_file=bool(req.get("per_file", True)),
                            )}
                        else:
                            from arc_spark.operators.compaction import (
                                compact_measurement,
                                compact_measurement_daily,
                            )

                            if req.get("tier", "hourly") == "daily":
                                out = {"results": compact_measurement_daily(
                                    spark, root, db, meas,
                                    daily_root=req.get(
                                        "daily_root",
                                        outer.query.catalog.daily_root or
                                        root + "_daily",
                                    ),
                                    min_files=int(req.get("min_files", 12)),
                                    min_age_seconds=float(
                                        req.get("min_age_seconds", 86400)),
                                )}
                            else:
                                out = {"results": compact_measurement(
                                    spark, root, db, meas,
                                    min_files=int(req.get("min_files", 10)),
                                    min_age_seconds=float(
                                        req.get("min_age_seconds", 3600)),
                                    max_files_per_batch=int(
                                        req.get("max_files_per_batch", 30)),
                                )}
                        return out

                    ok, out = self._run(_manage)
                    if ok:
                        self._json(200, out)
                    return

                if url.path == "/api/v1/bundle-import":
                    # air-gap bundle import (reference edgesync_import.go:
                    # operator route, admin token — a different audience
                    # from the spoke-facing HMAC'd upload routes)
                    if outer.bundle_importer is None:
                        return self._json(503, {
                            "error": "bundle import not configured "
                                     "(edge_sync.hub_bundle_import_dirs)"})
                    if not self._require_admin(token):
                        return
                    from arc_spark.sources.edgesync_bundle import (
                        BundleAlreadyImported,
                        BundleError,
                    )

                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    if not req.get("dir"):
                        return self._json(400, {"error": "missing 'dir'"})
                    try:
                        bdir = outer.bundle_policy.resolve(req["dir"])
                        out = outer.bundle_importer.import_bundle(bdir)
                    except BundleAlreadyImported as e:
                        return self._json(409, {"error": str(e)})
                    except BundleError as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, out)
                if url.path == "/api/v1/sync-spokes":
                    # register/replace an air-gap spoke + shared secret
                    # (reference spoke registry admin surface)
                    if outer.bundle_registry is None:
                        return self._json(503, {
                            "error": "bundle import not configured"})
                    if not self._require_admin(token):
                        return
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    if not req.get("spoke_id") or not req.get("secret"):
                        return self._json(400, {
                            "error": "missing spoke_id/secret"})
                    outer.bundle_registry.register(
                        req["spoke_id"], req["secret"],
                        enabled=bool(req.get("enabled", True)))
                    return self._json(201, {"registered": req["spoke_id"]})
                if url.path.startswith("/api/v1/sync-spokes/"):
                    # per-spoke admin verbs (reference edgesync_admin.go:64
                    # rotate/enable/disable): rotate re-mints the shared
                    # secret server-side and shows it exactly once —
                    # rotation-without-downtime the replace-on-register
                    # path can't provide; enable/disable are reversible
                    # (registration + counters survive, unlike DELETE)
                    if outer.bundle_registry is None:
                        return self._json(503, {
                            "error": "bundle import not configured"})
                    if not self._require_admin(token):
                        return
                    parts = url.path.rsplit("/", 2)
                    verb = parts[-1]
                    sid = parts[-2]
                    if verb == "rotate":
                        new = outer.bundle_registry.rotate(sid)
                        if new is None:
                            return self._json(
                                404, {"error": "spoke not registered"})
                        return self._json(200, {
                            "spoke_id": sid, "secret": new,
                            "warning": "The previous secret no longer "
                                       "authenticates. Reconfigure the "
                                       "spoke before its next contact "
                                       "window."})
                    if verb in ("enable", "disable"):
                        ok = outer.bundle_registry.set_enabled(
                            sid, verb == "enable")
                        if not ok:
                            return self._json(
                                404, {"error": "spoke not registered"})
                        return self._json(200, {
                            "spoke_id": sid,
                            "enabled": verb == "enable"})
                    return self._json(404, {"error": "not found"})
                if url.path == "/api/v1/tiering/migrate":
                    # reference internal/api/tiering.go TriggerMigration:
                    # move day partitions older than N days to the cold
                    # tier (snapshot-committed on both sides)
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    cold = outer.query.catalog.cold_root
                    if not cold:
                        return self._json(409, {
                            "error": "no cold tier configured"})
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    db, meas = req.get("db"), req.get("measurement")
                    if not db or not meas:
                        return self._json(400, {"error": "missing db/measurement"})
                    from arc_spark.operators.tiering import migrate_to_cold

                    def _migrate():
                        moved = migrate_to_cold(
                            outer.ingest.root, cold, db, meas,
                            older_than_days=float(
                                req.get("older_than_days", 30)))
                        return {"migrated": moved}

                    ok, out = self._run(_migrate)
                    if ok:
                        self._json(200, out)
                    return

                if url.path in ("/api/v1/governance/delete",
                                "/api/v1/governance/usage"):
                    # reference governance.go DeletePolicy / GetUsage;
                    # the target token rides the BODY (not a URL param)
                    # because our store keys by plaintext and tokens must
                    # never appear in paths/access logs
                    if not self._require_admin(token):
                        return
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    target = req.get("token")
                    if not target:
                        return self._json(400, {"error": "missing 'token'"})
                    gov = outer.query.governor
                    if url.path.endswith("usage"):
                        return self._json(200, gov.usage(target))
                    if not gov.delete_policy(target):
                        return self._json(404, {"error": "no policy for token"})
                    return self._json(200, {"deleted": True})

                if url.path == "/api/v1/governance":
                    # per-token limits (reference internal/api/governance.go);
                    # keyed by the plaintext token the caller supplies — the
                    # store only holds hashes, so names cannot resolve back
                    if not self._require_admin(token):
                        return
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    target = req.get("token")
                    if not target:
                        return self._json(400, {"error": "missing 'token'"})
                    from arc_spark.governance import TokenPolicy

                    outer.query.governor.set_policy(target, TokenPolicy(
                        max_queries_per_minute=req.get("max_queries_per_minute"),
                        max_rows=req.get("max_rows"),
                        max_duration_s=req.get("max_duration_s"),
                    ))
                    return self._json(200, {"status": "ok"})

                if url.path == "/api/v1/continuous_queries":
                    if not self._require_admin(token):
                        return
                    if outer.ingest is None:
                        return self._json(503, {"error": "no storage attached"})
                    try:
                        req = json.loads(body or b"{}")
                    except json.JSONDecodeError:
                        return self._json(400, {"error": "body must be JSON"})
                    missing = [k for k in ("name", "sql", "dest_db",
                                           "dest_measurement", "interval_seconds")
                               if not req.get(k)]
                    if missing:
                        return self._json(400, {"error": f"missing {missing}"})
                    from arc_spark.plans.validator import validate_read_only
                    from arc_spark.streaming.cq import ContinuousQuery

                    def _register_cq():
                        validate_read_only(
                            outer.query.spark,
                            req["sql"].format(
                                start_time="TIMESTAMP '2024-01-01 00:00:00'",
                                end_time="TIMESTAMP '2024-01-01 01:00:00'",
                            ),
                        )
                        import os as _os

                        outer.cqs[req["name"]] = ContinuousQuery(
                            name=req["name"], sql=req["sql"],
                            dest_db=req["dest_db"],
                            dest_measurement=req["dest_measurement"],
                            interval_seconds=int(req["interval_seconds"]),
                            tag_columns=req.get("tag_columns"),
                            # checkpoints live with the data, never in CWD
                            checkpoint_dir=_os.path.join(
                                outer.ingest.root, ".cq_checkpoints"),
                        )
                        return {"registered": req["name"]}

                    ok, out = self._run(_register_cq)
                    if ok:
                        self._json(201, out)
                    return

                if (url.path.startswith("/api/v1/continuous_queries/")
                        and url.path.endswith("/run")):
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 2)[-2]
                    cq = outer.cqs.get(name)
                    if cq is None:
                        return self._json(404, {"error": f"no CQ {name!r}"})
                    if cq.paused:
                        return self._json(409, {"error": f"CQ {name!r} is paused"})
                    ok, out = self._run(lambda: cq.run_once(
                        outer.query.spark, outer.ingest.root,
                        plan=outer.query.plan))
                    if ok:
                        self._json(200, out)
                    return

                if (url.path.startswith("/api/v1/continuous_queries/")
                        and url.path.endswith(("/pause", "/resume"))):
                    # CQ lifecycle verbs (reference cq routes /:id/pause,
                    # /:id/start): a paused CQ is skipped by scheduler
                    # ticks and refuses manual /run
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 2)[-2]
                    cq = outer.cqs.get(name)
                    if cq is None:
                        return self._json(404, {"error": f"no CQ {name!r}"})
                    cq.paused = url.path.endswith("/pause")
                    return self._json(200, {"name": name, "paused": cq.paused})

                if url.path in ("/api/v1/import/line", "/api/v1/import/lp"):
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_admin(token):
                        return
                    ok, n = self._run(
                        lambda: outer.ingest._write_line_protocol_distributed(
                            q.get("db", "default"), body,
                            q.get("precision", "ns"),
                        )
                    )
                    if ok:
                        outer._count_import("lp", n)
                        self._json(200, {"written": n})
                    return

                if url.path in ("/api/v1/import/csv", "/api/v1/import/parquet"):
                    # reference internal/api/import_inprocess.go:35-1166 —
                    # CSV/Parquet bulk import over HTTP. The body is the raw
                    # file; it is staged to a temp file and imported through
                    # the distributed reader (schema inference + time
                    # coercion all Catalyst-side), then written into the
                    # measurement tree. Query params: db, measurement,
                    # time_column, time_format, delimiter, header, tags.
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_admin(token):
                        return

                    def _bulk():
                        import os
                        import tempfile

                        from arc_spark.sources.bulk_import import (
                            import_csv,
                            import_parquet,
                            import_result,
                        )
                        from arc_spark.sources.writer import write_measurement

                        kind = url.path.rsplit("/", 1)[-1]
                        suffix = ".csv" if kind == "csv" else ".parquet"
                        fd, tmp = tempfile.mkstemp(
                            prefix="arc-import-", suffix=suffix
                        )
                        try:
                            with os.fdopen(fd, "wb") as f:
                                f.write(body)
                            if kind == "csv":
                                df = import_csv(
                                    outer.query.spark, tmp,
                                    time_column=q.get("time_column", "time"),
                                    time_format=q.get("time_format", ""),
                                    delimiter=q.get("delimiter", ","),
                                    header=q.get("header", "true").lower()
                                    != "false",
                                )
                            else:
                                df = import_parquet(
                                    outer.query.spark, tmp,
                                    time_column=q.get("time_column", "time"),
                                    time_format=q.get("time_format", ""),
                                )
                            tags = [t for t in q.get("tags", "").split(",") if t]
                            res = import_result(df)
                            write_measurement(
                                df, outer.ingest.root, q.get("db", "default"),
                                q.get("measurement", "imported"),
                                tag_columns=tags,
                            )
                            return res
                        finally:
                            os.unlink(tmp)

                    ok, out = self._run(_bulk)
                    if ok:
                        outer._count_import(url.path.rsplit("/", 1)[-1],
                                            out.get("rows_imported", 0))
                        self._json(200, out)
                    return

                if url.path in ("/api/v1/import/tle", "/api/v1/write/tle"):
                    # reference serves TLE on both the import and write
                    # families (internal/api/tle.go)
                    if outer.ingest is None:
                        return self._json(503, {"error": "ingest disabled"})
                    if not self._require_admin(token):
                        return

                    def _tle():
                        from arc_spark.sources.tle import tle_to_df
                        from arc_spark.sources.writer import write_measurement

                        df = tle_to_df(outer.query.spark,
                                       body.decode("utf-8", "replace"))
                        n = df.count()
                        write_measurement(
                            df, outer.ingest.root, q.get("db", "default"),
                            q.get("measurement", "tle"),
                            tag_columns=["norad_id"],
                        )
                        return n

                    ok, n = self._run(_tle)
                    if ok:
                        outer._count_import("tle", n)
                        self._json(200, {"written": n})
                    return

                self._json(404, {"error": "not found"})

            def do_PUT(self):
                # PUT exists for the tiering-policy surface (reference
                # tiering_policies.go uses Put for SetPolicy)
                url = urlparse(self.path)
                token = self._authenticate()
                if token is None:
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    return self._json(400, {"error": "bad Content-Length"})
                if length > outer.max_request_bytes:
                    return self._json(413, {
                        "error": f"request body {length} bytes exceeds "
                                 f"limit {outer.max_request_bytes}"})
                body = self.rfile.read(length) if length else b""
                if url.path.startswith("/api/v1/tiering/policies"):
                    return self._tiering_policies("PUT", url, body, token)
                self._json(404, {"error": "not found"})

            def do_PATCH(self):
                # PATCH exists only for the RBAC admin surface (reference
                # rbac_routes.go updates); other updates stay POST-shaped
                url = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                token = self._authenticate()
                if token is None:
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    return self._json(400, {"error": "bad Content-Length"})
                if length > outer.max_request_bytes:
                    return self._json(413, {
                        "error": f"request body {length} bytes exceeds "
                                 f"limit {outer.max_request_bytes}"})
                body = self.rfile.read(length) if length else b""
                if url.path.startswith("/api/v1/rbac/"):
                    return self._rbac("PATCH", url, q, body, token)
                self._json(404, {"error": "not found"})

            def do_DELETE(self):
                url = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                token = self._authenticate()
                if token is None:
                    return
                if url.path.startswith("/api/v1/rbac/"):
                    return self._rbac("DELETE", url, q, b"", token)
                if url.path.startswith("/api/v1/mqtt/subscriptions"):
                    return self._mqtt_subs("DELETE", url, b"", token)
                if url.path.startswith("/api/v1/tiering/policies"):
                    return self._tiering_policies("DELETE", url, b"", token)
                if url.path.startswith("/api/v1/databases/"):
                    # reference databases.go handleDelete: admin +
                    # ?confirm=true + existence check; removes the whole
                    # database prefix through the storage backend
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 1)[-1]
                    if q.get("confirm") != "true":
                        return self._json(400, {
                            "error": "confirmation required: add ?confirm=true"
                        })
                    cat = outer.query.catalog
                    if name not in cat.databases():
                        return self._json(404,
                                          {"error": f"database {name!r} not found"})
                    from arc_spark.storage import backend_for

                    removed = []
                    for tier in filter(None, (cat.root, cat.cold_root,
                                              cat.daily_root)):
                        bk = backend_for(tier)
                        p = bk.join(tier, name)
                        if bk.isdir(p):
                            bk.remove_tree(p)
                            removed.append(p)
                    return self._json(200, {"deleted": name,
                                            "tiers_removed": len(removed)})
                if url.path.startswith("/api/v1/queries/"):
                    if not self._require_admin(token):
                        return
                    qid = url.path.rsplit("/", 1)[-1]
                    cancelled = outer.query.registry.cancel(qid)
                    return self._json(200 if cancelled else 404,
                                      {"cancelled": cancelled, "query_id": qid})
                if url.path.startswith("/api/v1/auth/tokens/"):
                    if outer.auth is None:
                        return self._json(503, {"error": "auth disabled"})
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 1)[-1]
                    revoked = outer.auth.revoke(name)
                    return self._json(200 if revoked else 404,
                                      {"revoked": revoked, "name": name})
                if url.path.startswith("/api/v1/continuous_queries/"):
                    if not self._require_admin(token):
                        return
                    name = url.path.rsplit("/", 1)[-1]
                    removed = outer.cqs.pop(name, None) is not None
                    return self._json(200 if removed else 404,
                                      {"removed": removed, "name": name})
                if url.path.startswith("/api/v1/sync-spokes/"):
                    # reference edgesync_admin.go delete: registration
                    # gone; files already received are retained
                    if outer.bundle_registry is None:
                        return self._json(503, {
                            "error": "bundle import not configured"})
                    if not self._require_admin(token):
                        return
                    sid = url.path.rsplit("/", 1)[-1]
                    deleted = outer.bundle_registry.delete(sid)
                    return self._json(200 if deleted else 404,
                                      {"deleted": deleted, "spoke_id": sid})
                self._json(404, {"error": "not found"})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
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
