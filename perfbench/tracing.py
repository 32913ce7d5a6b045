"""Span recorder and the wrappers a traced run installs around each layer.

Nothing here edits the program: :func:`install_server` and
:func:`install_curate` replace attributes of arc_spark's modules and
classes with timing wrappers, in the process that runs them (the server
launcher, or the curate workload's process). Spans
(name, start, end, parent, request id) and counters are kept in memory and
written out once, when the run ends.

Only public entry points of each layer are wrapped, plus the two private
QueryService helpers that serve the native routes (their call is the only
place the route choice is observable from outside).
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict


class Recorder:
    """In-memory spans + counters. Thread-safe; one per process."""

    def __init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[tuple] = []  # (id, parent, rid, name, t0, t1)
        self.counters: dict[str, float] = defaultdict(float)
        self._next = 0

    def reset(self) -> None:
        with self._lock:
            self.spans.clear()
            self.counters.clear()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    @property
    def request_id(self) -> str | None:
        return getattr(self._local, "rid", None)

    @request_id.setter
    def request_id(self, rid: str | None) -> None:
        self._local.rid = rid

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    __slots__ = ("rec", "name", "sid", "parent", "t0")

    def __init__(self, rec: Recorder, name: str):
        self.rec = rec
        self.name = name

    def __enter__(self):
        rec = self.rec
        stack = getattr(rec._local, "stack", None)
        if stack is None:
            stack = rec._local.stack = []
        with rec._lock:
            rec._next += 1
            self.sid = rec._next
        self.parent = stack[-1] if stack else 0
        stack.append(self.sid)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        rec = self.rec
        rec._local.stack.pop()
        with rec._lock:
            rec.spans.append((self.sid, self.parent, rec.request_id,
                              self.name, self.t0, t1))
        return False


def _wrap(owner, attr: str, rec: Recorder, name: str, after=None):
    """Replace ``owner.attr`` with a span-recording wrapper. ``after(result,
    args, kwargs)`` may add counters from the call's result."""
    orig = getattr(owner, attr)
    if getattr(orig, "_perfbench", False):
        return

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        with rec.span(name):
            out = orig(*a, **kw)
        if after is not None:
            after(out, a, kw)
        return out

    wrapper._perfbench = True
    setattr(owner, attr, wrapper)


def _wrap_gen(owner, attr: str, rec: Recorder, name: str, bytes_key: str):
    """Like :func:`_wrap` for a generator function: the span covers full
    consumption (the callers materialize the chunks anyway)."""
    orig = getattr(owner, attr)
    if getattr(orig, "_perfbench", False):
        return

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        with rec.span(name):
            chunks = list(orig(*a, **kw))
        rec.count(bytes_key, sum(len(c) for c in chunks))
        return iter(chunks)

    wrapper._perfbench = True
    setattr(owner, attr, wrapper)


def install_server(rec: Recorder, server) -> None:
    """Wrap every layer below the HTTP handler of a built ArcServer."""
    import arc_spark.api as api
    import arc_spark.catalog as catalog
    import arc_spark.governance as governance
    import arc_spark.serving as serving
    import arc_spark.snapshots as snapshots
    import arc_spark.sources.ingest as ingest_src
    import arc_spark.sources.line_protocol as lp
    import arc_spark.sources.wal as wal
    import arc_spark.sources.writer as writer
    import arc_spark.storage as storage

    sc = server.query.spark.sparkContext

    # server: one span per request; the client's X-Bench-Req header names
    # it, and the Spark job group carries it so jobs map back to requests
    handler = server._httpd.RequestHandlerClass
    for verb in ("do_GET", "do_POST"):
        orig = getattr(handler, verb)

        def make(orig=orig):
            @functools.wraps(orig)
            def wrapper(self):
                rid = self.headers.get("X-Bench-Req")
                rec.request_id = rid
                if rid:
                    sc.setJobGroup("bench-" + rid, rid)
                try:
                    with rec.span("server.request"):
                        return orig(self)
                finally:
                    rec.request_id = None
            return wrapper

        setattr(handler, verb, make())

    Q, I = api.QueryService, api.IngestService
    _wrap(Q, "execute", rec, "query.execute")
    _wrap(Q, "_serve_native_count", rec, "query.serve_native_count",
          lambda o, a, k: rec.count("query.route_native_count"))
    _wrap(Q, "_serve_native_table", rec, "query.serve_native_scan",
          lambda o, a, k: rec.count("query.route_native_scan"))
    _wrap(api, "prune_sql", rec, "plans.prune",
          lambda o, a, k: rec.count("query.route_spark"))
    _wrap(api, "validate_read_only", rec, "plans.validate")
    _wrap(I, "write_msgpack", rec, "ingest.write")
    _wrap(I, "write_line_protocol", rec, "ingest.write")
    _wrap(I, "flush", rec, "ingest.flush",
          lambda o, a, k: rec.count("ingest.flush_rows", o or 0))

    _wrap(ingest_src, "decode_msgpack_payload", rec, "sources.decode")
    _wrap(lp, "parse_chunk_columnar", rec, "sources.decode")
    _wrap(wal.Wal, "append_nosync", rec, "wal.append",
          lambda o, a, k: rec.count("wal.bytes", len(a[1])))
    _wrap(wal.Wal, "sync_upto", rec, "wal.sync")

    orig_wma = writer.write_measurement_arrow
    if not getattr(orig_wma, "_perfbench", False):
        @functools.wraps(orig_wma)
        def wma(*a, **kw):
            lst = kw.get("written_out")
            before = len(lst) if lst is not None else 0
            with rec.span("writer.write"):
                out = orig_wma(*a, **kw)
            rec.count("writer.files",
                      (len(lst) - before) if lst is not None else 1)
            return out
        wma._perfbench = True
        writer.write_measurement_arrow = wma

    # snapshots: a commit that starts while another commit on the same
    # measurement is in flight has to wait for it (contention)
    inflight: dict[str, int] = defaultdict(int)
    in_lock = threading.Lock()
    orig_commit = snapshots.commit
    if not getattr(orig_commit, "_perfbench", False):
        @functools.wraps(orig_commit)
        def commit(meas_path, *a, **kw):
            with in_lock:
                if inflight[meas_path]:
                    rec.count("snapshots.commit_contention")
                inflight[meas_path] += 1
            try:
                with rec.span("snapshots.commit"):
                    return orig_commit(meas_path, *a, **kw)
            finally:
                with in_lock:
                    inflight[meas_path] -= 1
        commit._perfbench = True
        snapshots.commit = commit

    orig_excl = storage.StorageBackend.move_file_excl

    @functools.wraps(orig_excl)
    def move_excl(self, src, dst):
        ok = orig_excl(self, src, dst)
        if not ok:
            rec.count("snapshots.commit_contention")
        return ok
    storage.StorageBackend.move_file_excl = move_excl

    C = catalog.MeasurementCatalog
    _wrap(C, "register", rec, "catalog.register")
    _wrap(C, "invalidate", rec, "catalog.invalidate")
    _wrap(C, "scan_arrow", rec, "catalog.scan_arrow")
    _wrap(C, "count_rows", rec, "catalog.count_rows")
    orig_get = catalog._DecodedFileCache.get

    @functools.wraps(orig_get)
    def cache_get(self, *a, **kw):
        hit = orig_get(self, *a, **kw)
        rec.count("catalog.scan_cache_hits" if hit is not None
                  else "catalog.scan_cache_misses")
        return hit
    catalog._DecodedFileCache.get = cache_get

    _wrap(governance.QueryRegistry, "run", rec, "registry.run",
          lambda o, a, k: rec.count("registry.queries"))

    def _bytes(key):
        return lambda o, a, k: rec.count(key, len(o))

    _wrap_gen(serving, "stream_typed_json", rec, "serving.json",
              "serving.bytes_out")
    _wrap(serving, "to_arrow_ipc", rec, "serving.arrow",
          _bytes("serving.bytes_out"))
    _wrap(serving, "to_columnar_msgpack", rec, "serving.msgpack",
          _bytes("serving.bytes_out"))

    import arc_spark.operators.compaction as compaction

    orig_cpd = compaction.compact_partition_dir

    def _parquet(d):
        try:
            return {e.path: e.stat().st_size for e in os.scandir(d)
                    if e.name.endswith(".parquet")}
        except OSError:
            return {}

    @functools.wraps(orig_cpd)
    def compact_partition_dir(spark, root, db, measurement, part_dir, *a,
                              **kw):
        before = _parquet(part_dir)
        with rec.span("compaction.partition"):
            out = orig_cpd(spark, root, db, measurement, part_dir, *a, **kw)
        if isinstance(out, dict) and not out.get("skipped"):
            rec.count("compaction.partition_calls")
            rec.count("compaction.files_in", out.get("inputs", 0))
            rec.count("compaction.files_out", out.get("outputs", 0))
            rec.count("compaction.bytes_rewritten", sum(
                n for p, n in _parquet(part_dir).items() if p not in before))
        return out
    compaction.compact_partition_dir = compact_partition_dir


def install_curate(rec: Recorder) -> None:
    """Wrap the curation operators the curate workload calls."""
    import arc_spark.functions.text as text
    import arc_spark.operators.dedup as dedup

    for attr in ("dedup_exact", "ngram_jaccard_pairs", "minhash_lsh_pairs"):
        _wrap(dedup, attr, rec, "curate." + attr)
    for attr in ("quality_score", "lang_id"):
        _wrap(text, attr, rec, "curate." + attr)


# -- summaries ---------------------------------------------------------------

def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id → self time (duration minus the union of its children)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, parent, _rid, _name, t0, t1 in spans:
        if parent:
            kids[parent].append((t0, t1))
    out = {}
    for sid, _parent, _rid, _name, t0, t1 in spans:
        covered, end = 0.0, t0
        for c0, c1 in sorted(kids.get(sid, ())):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[sid] = (t1 - t0) - covered
    return out


def by_name(spans: list[tuple]) -> dict[str, list[float]]:
    """Span name → list of durations in ms."""
    out: dict[str, list[float]] = defaultdict(list)
    for _sid, _p, _rid, name, t0, t1 in spans:
        out[name].append((t1 - t0) * 1000.0)
    return out
