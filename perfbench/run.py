"""arc-spark end-to-end benchmark.

Usage:
  python3 perfbench/run.py --workload {ingest,dashboard,mixed,curate}
                           [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a source checkout. Starts the server as its own
process (perfbench/launcher.py: config → build_engine, the ``serve``
path), drives it over HTTP from this process, checks every answer against
the generator or DuckDB, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the run installs the layer
wrappers (perfbench/tracing.py) in the server and reports per-layer
metrics instead. ``--seconds`` sets the amount of work (a fixed number of
rounds per second of nominal run time), never a deadline: the same seed
and seconds always attempt the same operations. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SPARK_CPUS = 2            # local[2]; fixed, whatever the host
# End-to-end metrics printed on stdout, the ones BENCHMARK.json gates.
# Every other end-to-end metric goes to stderr: on this shared host the
# wall-time ones move with the host's CPU steal, 3-37 % of busy time from
# one run to the next, by far more than any bound, and the JVM's RSS with
# its heap sizing (README, "Steadiness").
GATED = ("setup_s", "write_cpu_us_per_row", "query_cpu_ms", "bytes_per_row",
         "server_peak_rss_mb")
DEFAULT_SEED = 1          # seed 7919 is held out (README)
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# work per nominal second of --seconds
INGEST_ROUNDS_PER_S = 0.55
WARM_ROUNDS = 2
DASH_REFRESHES_PER_S = 1.6
MIXED_BATCHES_PER_S = 10       # writer: one batch every 100 ms
MIXED_REFRESHES_PER_S = 2.0
HOT_MIN_FILES = 3   # compaction picks the history's newest block + the stream

CONFIG = """\
[server]
host = "127.0.0.1"
port = 0
[spark]
cpus = {cpus}
shuffle_partitions = {cpus}
[storage]
local_path = "{root}/data/arc"
[auth]
enabled = true
db_path = "{root}/auth.db"
[compaction]
enabled = false
[reconciliation]
enabled = false
[maintenance]
cleanup_spark_temp_on_boot = false
"""


# -- statistics ------------------------------------------------------------------

def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_pct(n: int) -> float:
    """Highest ladder percentile with at least ten samples beyond it."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:  # 100 * 0.1 is 9.99..
            return p
    return 50.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# -- the server process ------------------------------------------------------------

def child_env(work: str) -> dict:
    """Environment of a process that starts a JVM: every temp dir inside
    ``work``; the JVM's GC and JIT thread pools sized to local[SPARK_CPUS]
    rather than to the host (by default they number the host's cores, and
    on a shared 4-vCPU host they contend with the server's Python threads
    and the client); and a 2 GB initial heap. The JVM default starts G1 at
    1/64 of RAM and lets it size the heap by GC timing; on a small heap,
    Arrow's humongous allocations start a concurrent mark cycle every second
    or so, and in about one run in four the GC threads then burned 0.35 CPU
    seconds per second, a third of the server's CPU."""
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             f"-XX:ParallelGCThreads={SPARK_CPUS} "
                             "-XX:ConcGCThreads=1 -XX:CICompilerCount=2",
        # the driver JVM only: spark-submit's own launcher JVM also reads
        # JAVA_TOOL_OPTIONS, and it runs with -Xmx128m
        "SPARK_SUBMIT_OPTS": "-Xms2g",
        "PYSPARK_PYTHON": sys.executable,
        # the same set and dict orders in every run of the server
        "PYTHONHASHSEED": "0",
    })
    return env


class Server:
    """The arc-spark server in its own process group, booted by
    launcher.py from a config file in ``work``."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        with open(os.path.join(work, "arc.toml"), "w") as fh:
            fh.write(CONFIG.format(cpus=SPARK_CPUS, root=work))
        env = child_env(work)
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "launcher.py"), work,
             "1" if trace else "0"],
            cwd=work, env=env, stdout=self.log, stderr=subprocess.STDOUT,
            start_new_session=True)
        self.sampler = None

    def wait_ready(self, timeout: float = 150.0) -> None:
        import procstat

        path = os.path.join(self.work, "ready.json")
        t_end = time.monotonic() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                raise RuntimeError("server exited during boot; see "
                                   + os.path.join(self.work, "server.log"))
            if time.monotonic() > t_end:
                raise RuntimeError("server boot timed out")
            time.sleep(0.02)
        with open(path) as fh:
            r = json.load(fh)
        self.port, self.token = r["port"], r["token"]
        self.sampler = procstat.TreeSampler(self.proc.pid).start()

    def mark(self) -> None:
        """Start of the measured window (trace reset, Spark job baseline)."""
        import procstat

        self.sampler.sample()
        self.cpu0 = self.sampler.cpu_by_kind()
        self.steal0 = procstat.steal_s()
        path = os.path.join(self.work, "marked")
        os.kill(self.proc.pid, signal.SIGUSR1)
        t_end = time.monotonic() + 30
        while not os.path.exists(path) and time.monotonic() < t_end:
            time.sleep(0.01)

    def stop(self) -> None:
        """End the server. A traced server is asked to write its trace
        (SIGTERM) first; nothing else of a graceful shutdown is measured,
        so the process group is then killed outright."""
        if self.log.closed:
            return
        if self.sampler is not None:
            self.sampler.stop()
        trace = os.path.join(self.work, "trace.json")
        if self.trace and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            t_end = time.monotonic() + 60
            while (not os.path.exists(trace) and self.proc.poll() is None
                   and time.monotonic() < t_end):
                time.sleep(0.02)
        kill_group(self.proc)
        self.log.close()


def kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL whatever is left of a process group, and reap the leader."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    t_end = time.monotonic() + 10
    while time.monotonic() < t_end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


# -- query shapes --------------------------------------------------------------------

class Shape:
    def __init__(self, name, cls, fmt, sql, lo=None, hi=None, limit=None):
        self.name, self.cls, self.fmt, self.sql = name, cls, fmt, sql
        self.lo, self.hi, self.limit = lo, hi, limit

    def request(self) -> tuple[str, bytes]:
        path = {"json": "/api/v1/query", "arrow": "/api/v1/query/arrow",
                "msgpack": "/api/v1/query/msgpack"}[self.fmt]
        body = {"sql": self.sql}
        if self.fmt == "json":
            body["format"] = "json"
        return path, json.dumps(body).encode()


def _iso(us: int) -> str:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def refresh_shapes(end: int) -> list[Shape]:
    """The dashboard refresh: five query shapes over the ``cpu`` data
    ending at ``end`` (µs). Lookup = COUNT(*) and raw time-range LIMIT;
    agg = time-bucket and GROUP BY."""
    import gen

    h = gen.HOUR_US

    def rng(hours):
        lo = end - hours * h
        return (f"time >= '{_iso(lo)}' AND time < '{_iso(end)}'", lo, end)

    w2, lo2, hi2 = rng(2)
    w12, lo12, hi12 = rng(12)
    w24, lo24, hi24 = rng(24)
    return [
        Shape("count_json", "lookup", "json", "SELECT COUNT(*) FROM cpu"),
        Shape("recent_arrow", "lookup", "arrow",
              f"SELECT * FROM cpu WHERE {w2} LIMIT 1000", lo2, hi2, 1000),
        Shape("bucket_json", "agg", "json",
              "SELECT host, date_trunc('hour', time) AS bucket, "
              f"AVG(usage_user) AS avg_user FROM cpu WHERE {w12} "
              "GROUP BY host, date_trunc('hour', time)", lo12, hi12),
        Shape("hosts_json", "agg", "json",
              "SELECT host, COUNT(*) AS n, SUM(usage_idle) AS s, "
              "MIN(time) AS t0, MAX(time) AS t1 FROM cpu GROUP BY host"),
        Shape("page_msgpack", "lookup", "msgpack",
              f"SELECT * FROM cpu WHERE {w24} LIMIT 20000", lo24, hi24,
              20000),
    ]


# -- the load generator ------------------------------------------------------------------

class Run:
    """State shared by one workload run: the server, the client log of
    every operation, and the failure count."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.server: Server | None = None
        self.lock = threading.Lock()
        self.ops: list[dict] = []       # every measured operation
        self.bodies: dict[str, bytes] = {}
        self.failures: list[str] = []
        self.seq = 0
        self.t_launch = time.perf_counter()
        self.extra: dict = {}      # storage totals and plan-cache stats
        self.proc: dict = {}       # proc.* CPU and steal readings
        self.curate: dict = {}     # the curate process's result
        self.proc_sampler = None   # curate's process-tree sampler

    def client(self, timeout: float = 120.0):
        import wire

        return wire.Client(self.server.port, self.server.token, timeout)

    def call(self, cl, method: str, path: str, body: bytes = b"",
             db: str | None = None, kind: str = "", record: bool = True,
             keep_body: bool = False, **extra) -> tuple[int, bytes, float]:
        with self.lock:
            self.seq += 1
            rid = str(self.seq)
        headers = {"X-Bench-Req": rid}
        if db is not None:
            headers["x-arc-database"] = db
        t_send = time.perf_counter()
        try:
            status, data, secs = cl.request(method, path, body, headers)
        except OSError as e:
            status, data, secs = 0, str(e).encode(), \
                time.perf_counter() - t_send
        if record:
            op = {"rid": rid, "kind": kind, "status": status,
                  "sent": t_send, "secs": secs, **extra}
            if status not in (200, 204):
                op["error"] = data[:300].decode("utf-8", "replace")
            if keep_body and status == 200:
                key = hashlib.sha1(data).hexdigest()
                op["body"] = key
                with self.lock:
                    self.bodies.setdefault(key, data)
            with self.lock:
                self.ops.append(op)
        return status, data, secs

    def admin(self, cl, path: str, payload: dict | None = None) -> dict:
        status, data, _ = self.call(
            cl, "POST", path, json.dumps(payload or {}).encode(),
            record=False)
        if status != 200:
            raise RuntimeError(f"{path}: HTTP {status} {data[:200]!r}")
        return json.loads(data)

    def count(self, cl, db: str, meas: str) -> int:
        """Committed rows via the native footer COUNT(*), in Arrow (the
        cheapest route; used only to wait for commits, never measured)."""
        import pyarrow.ipc as ipc

        status, data, _ = self.call(
            cl, "POST", "/api/v1/query/arrow",
            json.dumps({"sql": f"SELECT COUNT(*) FROM {meas}"}).encode(),
            db=db, record=False)
        if status != 200:
            if b"NOT_FOUND" in data:  # nothing written yet
                return 0
            raise RuntimeError(f"count {db}.{meas}: HTTP {status} "
                               f"{data[:200]!r}")
        return ipc.open_stream(data).read_all().column(0)[0].as_py()

    def wait_count(self, cl, db: str, meas: str, want: int,
                   timeout: float = 90.0) -> int:
        t_end = time.monotonic() + timeout
        while True:
            n = self.count(cl, db, meas)
            if n >= want or time.monotonic() > t_end:
                return n
            time.sleep(0.01)

    def refresh(self, cl, db: str, shapes: list[Shape], tag: str,
                keep_body: bool = True, lock=None) -> None:
        for s in shapes:
            path, body = s.request()
            with lock or contextlib.nullcontext():
                self.call(cl, "POST", path, body, db=db, kind="query",
                          shape=s.name, cls=s.cls, tag=tag, qdb=db,
                          keep_body=keep_body, record=tag != "warmup")

    def write_cpu(self, cl, db: str, payload: bytes, rows: int,
                  tag: str) -> int:
        status, data, _ = self.call(
            cl, "POST", f"/api/v1/write/msgpack?db={db}", payload,
            kind="write", rows=rows, tag=tag)
        return status

    def server_cpu(self) -> float:
        """CPU seconds used so far by the server's process tree: its Python
        process, the JVM and the JVM's Python workers. Time the host
        steals is charged to no process, so these readings do not move
        with host steal the way wall times do. The JVM's JIT compiler
        threads are left out: they compile a query's generated code for
        seconds after it ran, so their CPU lands on whatever unit comes
        next, an ingest round most of all."""
        sampler = self.server.sampler
        sampler.sample()
        return sum(sampler.cpu_by_kind().values()) - sampler.jit_cpu()

    def phase(self, name: str) -> None:
        """Timeline on stderr: seconds since launch, phase reached."""
        print(f"# {time.perf_counter() - self.t_launch:7.2f}s {name}",
              file=sys.stderr, flush=True)

    def fail(self, what: str) -> None:
        with self.lock:
            self.failures.append(what)


def _payloads(batches) -> list[tuple[bytes, int]]:
    import wire

    return [(wire.columnar_payload("cpu", b.columns(), ["host"]), b.rows)
            for b in batches]


def preload(run: Run, cl, db: str, seed: int) -> dict:
    """Write the dashboard history through the HTTP write path: each
    (8-hour block, host group) batch as 4 sub-batches, then a flush, so
    every hour partition gets 3 small files. Returns the write readings."""
    import gen

    batches = gen.preload_batches(seed)
    run.count(cl, db, "cpu")  # the server's first SQL parse, outside the timer
    subs = []
    for b in batches:
        step = -(-b.rows // 4)
        for k in range(0, b.rows, step):
            subs.append(gen.CpuBatch(
                b.time[k:k + step], b.host[k:k + step],
                {f: v[k:k + step] for f, v in b.values.items()}))
    payloads = _payloads(subs)
    total = sum(b.rows for b in batches)
    # one sample per batch: its 4 sends and the flush that commits them
    # (the flush route returns once the files are committed)
    samples = []
    cpu0 = run.server_cpu()
    for i in range(0, len(payloads), 4):
        t0 = time.perf_counter()
        for p, n in payloads[i:i + 4]:
            if run.write_cpu(cl, db, p, n, "preload") != 200:
                run.fail("preload write refused")
        run.admin(cl, "/api/v1/write/line-protocol/flush")
        samples.append((sum(n for _p, n in payloads[i:i + 4]),
                        time.perf_counter() - t0))
    cpu = run.server_cpu() - cpu0
    got = run.wait_count(cl, db, "cpu", total)
    if got != total:
        run.fail(f"preload: COUNT(*) {got} != {total} written")
    return {"rows": total, "samples": samples, "cpu": cpu,
            "batches": batches}


def warm_up(run: Run, db: str, shapes: list[Shape], conns: int) -> None:
    """One discarded pass of every shape on each reader connection."""
    threads = [threading.Thread(
        target=run.refresh, args=(run.client(), db, shapes, "warmup", False))
        for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def committed_bytes(meas_dirs: list[str]) -> tuple[int, int]:
    import checks

    files = [f for d in meas_dirs for f in checks.parquet_files(d)]
    return len(files), sum(os.path.getsize(f) for f in files)


# -- metrics from the client log ------------------------------------------------------------

def weighted_median(samples: list[tuple[int, float]]) -> float:
    """Rate of the median row: ``samples`` are (rows, seconds) of each
    commit unit, sorted by rate, and the unit holding the middle row wins.
    A burst of host noise moves one unit, not the run's figure, and small
    units count for as many rows as they carry."""
    rated = sorted((rows / secs, rows) for rows, secs in samples)
    half, acc = sum(rows for _r, rows in rated) / 2, 0
    for rate, rows in rated:
        acc += rows
        if acc >= half:
            return rate
    raise ValueError("no samples")


def write_metrics(ops: list[dict], samples: list[tuple[int, float]],
                  cpu_us_per_row: float | None) -> dict:
    """``samples`` are (rows, wall seconds) of each commit unit: an ingest
    round, a preload batch."""
    acks = [o["secs"] * 1000 for o in ops
            if o["kind"] == "write" and o["status"] == 200]
    # ack latencies spread too far from run to run on a shared host to
    # gate on (README, "What is left out"): stderr only
    tp = tail_pct(len(acks))
    print(f"# write acks n={len(acks)} p50={statistics.median(acks):.2f} ms "
          f"p{tp:g}={pct(acks, tp):.2f} ms", file=sys.stderr)
    rates = [rows / wall for rows, wall in samples]
    print("# write rows/s per unit: " + " ".join(f"{r:.0f}" for r in rates),
          file=sys.stderr)
    out = {"write_rows_per_s": metric(weighted_median(samples), "rows/s")}
    if cpu_us_per_row is not None:
        out["write_cpu_us_per_row"] = metric(cpu_us_per_row, "us")
    return out


def class_ms(qs: list[dict], cls: str) -> float:
    """Geometric mean, over the shapes of one class, of each shape's
    median latency. The class median itself would sit between the shapes'
    clusters and jump between them from run to run. For the same reason a
    shape sent in several roles (ingest's first and repeat read-back of a
    new database) has a median per role."""
    by_shape: dict[tuple, list[float]] = {}
    for o in qs:
        if o["cls"] == cls:
            by_shape.setdefault((o["shape"], o.get("tag")), []).append(
                o["secs"] * 1000)
    meds = [statistics.median(v) for v in by_shape.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def query_metrics(ops: list[dict], wall: float,
                  cpu_ms: float | None) -> dict:
    qs = [o for o in ops if o["kind"] == "query" and o["status"] == 200]
    lat = [o["secs"] * 1000 for o in qs]
    for name, tag in sorted({(o["shape"], o["tag"]) for o in qs}):
        ms = [o["secs"] * 1000 for o in qs
              if o["shape"] == name and o["tag"] == tag]
        print(f"# {name:14s} {tag:10s} n={len(ms):4d} "
              f"p50={statistics.median(ms):9.2f} ms max={max(ms):9.2f} ms",
              file=sys.stderr)
    print(f"# lookup_p50_ms={class_ms(qs, 'lookup'):.2f}", file=sys.stderr)
    out = {
        "query_per_s": metric(len(qs) / wall, "1/s"),
        "agg_p50_ms": metric(class_ms(qs, "agg"), "ms"),
        "query_tail_ms": metric(pct(lat, tail_pct(len(lat))), "ms"),
    }
    if cpu_ms is not None:
        out["query_cpu_ms"] = metric(cpu_ms, "ms")
    return out


def compact(run: Run, cl, db: str, min_files: int) -> float:
    """One POST /api/v1/compaction over ``db.cpu`` (every partition with
    ``min_files`` or more committed files); returns its wall seconds."""
    t0 = time.perf_counter()
    status, data, _ = run.call(
        cl, "POST", "/api/v1/compaction",
        json.dumps({"db": db, "measurement": "cpu", "min_files": min_files,
                    "min_age_seconds": 0}).encode(), kind="compaction")
    secs = time.perf_counter() - t0
    if status != 200:
        run.fail(f"compaction: HTTP {status} {data[:200]!r}")
    return secs


# -- workloads ----------------------------------------------------------------------------

def workload_ingest(run: Run, t_launch: float) -> dict:
    """Writes only: rounds of msgpack ``cpu`` + line-protocol ``mem``
    batches into a fresh database each over one connection, then a flush
    and a wait until COUNT(*) shows every acked row. Each
    round ends with two read-back refreshes of its database (no reader has
    a view open while the next round writes)."""
    import gen

    rnd = gen.ingest_round(run.args.seed)
    cpu = _payloads(rnd.cpu)
    items = []  # interleave msgpack and line-protocol batches
    ratio = len(cpu) // len(rnd.mem)
    for i, (p, n) in enumerate(cpu):
        items.append(("cpu", p, n))
        if i % ratio == ratio - 1 and i // ratio < len(rnd.mem):
            lp = rnd.mem[i // ratio]
            items.append(("mem", lp, lp.count(b"\n") + 1))
    cpu_rows = sum(b.rows for b in rnd.cpu)
    mem_rows = rnd.rows - cpu_rows
    end = gen.preload_end(run.args.seed) + 4 * gen.HOUR_US
    shapes = refresh_shapes(end)
    n_rounds = max(1, round(run.args.seconds * INGEST_ROUNDS_PER_S))

    run.server.wait_ready()
    run.phase("ready")
    cl = run.client()
    # warm-up: WARM_ROUNDS discarded rounds' worth of each operation (the
    # first measured rounds still sped up after a single one)
    for k in range(WARM_ROUNDS):
        _ingest_round(run, f"warm{k}", items, cpu_rows, mem_rows,
                      record=False)
        run.refresh(cl, f"warm{k}", shapes, "warmup", keep_body=False)
    setup_s = time.perf_counter() - t_launch
    run.phase("warmed up")
    run.server.mark()
    stats0 = _cache_stats(run, cl)

    # server CPU per round: a median over rounds, like the write rate, so
    # a JIT or GC burst in one round does not move the run's figure
    walls, dbs, write_cpu, read_cpu = [], [], [], []
    for r in range(n_rounds):
        db = f"ingest{r}"
        dbs.append(db)
        c0 = run.server_cpu()
        walls.append(_ingest_round(run, db, items, cpu_rows, mem_rows))
        c1 = run.server_cpu()
        for k in range(2):
            run.refresh(cl, db, shapes, f"readback{k}")
        write_cpu.append((c1 - c0) * 1e6 / rnd.rows)
        read_cpu.append((run.server_cpu() - c1) * 1000 / (2 * len(shapes)))
    read_wall = sum(o["secs"] for o in run.ops if o["kind"] == "query")
    run.phase("measured")
    stats1 = _cache_stats(run, cl)

    # checks: every round's committed files against the generator
    import checks

    want_cpu = gen.cpu_expect(rnd.cpu)
    root = os.path.join(run.work, "data", "arc")
    for db in dbs:
        con = checks.duck(checks.parquet_files(os.path.join(root, db, "cpu")))
        checks.same_per_host(checks.per_host(con, gen.FIELDS), want_cpu,
                             gen.FIELDS, f"{db}.cpu")
        con = checks.duck(checks.parquet_files(os.path.join(root, db, "mem")))
        checks.same_per_host(checks.per_host(con, ("used", "free")),
                             rnd.mem_expect, ("used", "free"), f"{db}.mem")
    _check_readback(run, shapes, root)
    meas_dirs = [os.path.join(root, db, m) for db in dbs
                 for m in ("cpu", "mem")]
    n_files, n_bytes = committed_bytes(meas_dirs)
    committed = n_rounds * rnd.rows
    out = {"setup_s": metric(setup_s, "s"),
           **write_metrics(run.ops, [(rnd.rows, w) for w in walls],
                           statistics.median(write_cpu)),
           **query_metrics(run.ops, read_wall, statistics.median(read_cpu)),
           "bytes_per_row": metric(n_bytes / committed, "B")}
    run.extra = {"storage.files": n_files, "storage.bytes": n_bytes,
                 "cache": (stats0, stats1)}
    return out


def _ingest_round(run: Run, db: str, items, cpu_rows: int, mem_rows: int,
                  record: bool = True) -> float:
    """Send every batch of one round, one after another on one connection,
    flush, and wait for COUNT(*) to show every acked row. Returns the
    round's wall time."""
    cl = run.client()
    t0 = time.perf_counter()
    for meas, p, n in items:
        path = (f"/api/v1/write/msgpack?db={db}" if meas == "cpu"
                else f"/api/v1/write/line-protocol?db={db}")
        status, data, _ = run.call(cl, "POST", path, p, kind="write",
                                   rows=n, record=record, tag=db)
        if status != 200:
            run.fail(f"{db}: write HTTP {status} {data[:120]!r}")
    run.admin(cl, "/api/v1/write/line-protocol/flush")
    got_cpu = run.wait_count(cl, db, "cpu", cpu_rows)
    got_mem = run.wait_count(cl, db, "mem", mem_rows)
    wall = time.perf_counter() - t0
    if (got_cpu, got_mem) != (cpu_rows, mem_rows):
        run.fail(f"{db}: COUNT(*) cpu {got_cpu}/{cpu_rows} "
                 f"mem {got_mem}/{mem_rows}")
    return wall


def _check_readback(run: Run, shapes, root: str) -> None:
    """Every read-back answer against DuckDB over that round's files."""
    import checks

    by_db: dict[str, list] = {}
    for o in run.ops:
        if o["kind"] == "query" and o["status"] == 200:
            by_db.setdefault(o["qdb"], []).append(o)
    for db, ops in by_db.items():
        con = checks.duck(checks.parquet_files(os.path.join(root, db, "cpu")))
        _check_answers(run, ops, shapes, con)


def _check_answers(run: Run, ops: list[dict], shapes: list[Shape],
                   con) -> None:
    """Check each distinct response body once against DuckDB."""
    import checks

    by_name = {s.name: s for s in shapes}
    done = set()
    for o in ops:
        key = (o["shape"], o["body"])
        if key in done:
            continue
        done.add(key)
        check_answer(by_name[o["shape"]], run.bodies[o["body"]], con)


def check_answer(s: Shape, body: bytes, con) -> None:
    import checks
    import wire

    if s.name == "count_json":
        checks.check_count(wire.json_rows(body)[1][0][0], con)
    elif s.name == "bucket_json":
        checks.check_bucket(wire.json_rows(body)[1], con, s.lo, s.hi)
    elif s.name == "hosts_json":
        checks.check_groupby(wire.json_rows(body)[1], con)
    else:
        n = min(s.limit, checks.rows_in_range(con, s.lo, s.hi))
        checks.check_page(_page_times(s, body), s.lo, s.hi, n, n)


def _page_times(s: Shape, body: bytes) -> list[int]:
    import pyarrow as pa
    import pyarrow.ipc as ipc

    import wire

    if s.fmt == "arrow":
        col = ipc.open_stream(body).read_all().column("time")
        return col.cast(pa.int64()).to_pylist()
    return wire.columnar_rows(body)["time"]


def _cache_stats(run: Run, cl) -> dict:
    status, data, _ = run.call(cl, "GET", "/api/v1/cache/stats",
                               record=False)
    return json.loads(data) if status == 200 else {}


def workload_dashboard(run: Run, t_launch: float) -> dict:
    """Reads only: one connection repeats the refresh over the preloaded
    history, so each refresh's server CPU is its own. One compaction of
    the history closes the run."""
    import checks
    import gen

    seed = run.args.seed
    run.server.wait_ready()
    cl = run.client()
    run.phase("ready")
    pre = preload(run, cl, "bench", seed)
    run.phase("preloaded")
    shapes = refresh_shapes(gen.preload_end(seed))
    warm_up(run, "bench", shapes, 1)
    setup_s = time.perf_counter() - t_launch
    run.phase("warmed up")
    run.server.mark()
    stats0 = _cache_stats(run, cl)
    n = max(1, round(run.args.seconds * DASH_REFRESHES_PER_S))

    refresh_cpu = []  # server CPU per query, one reading per refresh
    t0 = time.perf_counter()
    for _ in range(n):
        c0 = run.server_cpu()
        run.refresh(cl, "bench", shapes, "dashboard")
        refresh_cpu.append((run.server_cpu() - c0) * 1000 / len(shapes))
    wall = time.perf_counter() - t0
    run.phase("measured")
    # one cold compaction, for the traced run's compaction layer; its
    # run-to-run spread is too wide to gate on (README): stderr only
    compact_s = compact(run, cl, "bench", HOT_MIN_FILES)
    print(f"# compact_s={compact_s:.3f}", file=sys.stderr)
    stats1 = _cache_stats(run, cl)
    run.phase("compacted")

    root = os.path.join(run.work, "data", "arc")
    meas = os.path.join(root, "bench", "cpu")
    con = checks.duck(checks.parquet_files(meas))
    checks.same_per_host(checks.per_host(con, gen.FIELDS),
                         gen.cpu_expect(pre["batches"]), gen.FIELDS,
                         "bench.cpu")
    _check_answers(run, [o for o in run.ops if o["kind"] == "query"
                         and o["status"] == 200], shapes, con)
    n_files, n_bytes = committed_bytes([meas])
    run.extra = {"storage.files": n_files, "storage.bytes": n_bytes,
                 "cache": (stats0, stats1)}
    return {"setup_s": metric(setup_s, "s"),
            **write_metrics(run.ops, pre["samples"],
                            pre["cpu"] * 1e6 / pre["rows"]),
            **query_metrics(run.ops, wall, statistics.median(refresh_cpu)),
            "bytes_per_row": metric(n_bytes / pre["rows"], "B")}


def workload_mixed(run: Run, t_launch: float) -> dict:
    """Writes beside reads: one connection streams msgpack batches (with
    exact duplicates in its first half) into the preloaded ``cpu`` at a
    fixed pace and flushes three times in its first half, one runs the
    dashboard refresh, and a third sends one compaction after those
    flushes."""
    import checks
    import gen

    seed = run.args.seed
    n_batches = max(8, round(run.args.seconds * MIXED_BATCHES_PER_S))
    batches, dups = gen.mixed_stream(seed, n_batches)
    payloads = _payloads(batches)
    distinct = sum(b.rows for b in batches) - sum(dups)
    run.server.wait_ready()
    cl = run.client()
    run.phase("ready")
    pre = preload(run, cl, "bench", seed)
    run.phase("preloaded")
    shapes = refresh_shapes(gen.preload_end(seed)
                            + gen.MIXED_HOURS * gen.HOUR_US)
    warm_up(run, "bench", shapes, 1)
    setup_s = time.perf_counter() - t_launch
    run.phase("warmed up")
    run.server.mark()
    stats0 = _cache_stats(run, cl)
    n_refresh = max(1, round(run.args.seconds * MIXED_REFRESHES_PER_S))

    # Spark-path reads racing the compaction's input deletion fail now and
    # then (PATH_NOT_FOUND, see CHANGES.md), so the reader holds this lock
    # per query and the compaction request holds it while it runs
    no_race = threading.Lock()
    acks: list[tuple[float, int, int]] = [(0.0, 0, 0)]  # (t, rows, dups)
    flushes: list[tuple[float, int]] = []   # (t_end, rows acked at start)
    flushed = threading.Event()
    compaction = {}
    # the writer flushes after these batches: each of the three intervals
    # adds a file to every stream hour, and every duplicate is committed
    # before the compaction is sent
    flush_after = {n_batches // 6, n_batches // 3, n_batches // 2}

    def writer():
        c = run.client()
        t0 = time.perf_counter()
        rows = dup = 0
        for k, (p, n) in enumerate(payloads):
            if k in flush_after:
                run.admin(c, "/api/v1/write/line-protocol/flush")
                flushes.append((time.perf_counter(), rows))
                if k == max(flush_after):
                    flushed.set()
            delay = t0 + k / MIXED_BATCHES_PER_S - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            status = run.write_cpu(c, "bench", p, n, "stream")
            if status != 200:
                run.fail(f"stream write HTTP {status}")
            rows, dup = rows + n, dup + dups[k]
            with run.lock:
                acks.append((time.perf_counter(), rows, dup))

    def compactor():
        flushed.wait()
        with no_race:
            compaction["sent"] = time.perf_counter()
            compaction["secs"] = compact(run, run.client(), "bench",
                                         HOT_MIN_FILES)

    def reader():
        c = run.client()
        for _ in range(n_refresh):
            run.refresh(c, "bench", shapes, "mixed", lock=no_race)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=f)
               for f in (writer, reader, compactor)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run.admin(cl, "/api/v1/write/line-protocol/flush")
    want = pre["rows"] + distinct
    got = run.wait_count(cl, "bench", "cpu", want)
    commit_wall = time.perf_counter() - t0
    run.phase("committed")
    read_wall = max(o["sent"] + o["secs"] for o in run.ops
                    if o.get("tag") == "mixed") - t0
    stats1 = _cache_stats(run, cl)

    checks.expect(got == want, f"mixed: final COUNT(*) {got} != history "
                               f"{pre['rows']} + distinct {distinct}")
    root = os.path.join(run.work, "data", "arc")
    meas = os.path.join(root, "bench", "cpu")
    con = checks.duck(checks.parquet_files(meas))
    kept = [gen.CpuBatch(b.time[:b.rows - d], b.host[:b.rows - d],
                         {f: v[:b.rows - d] for f, v in b.values.items()})
            for b, d in zip(batches, dups)]
    checks.same_per_host(checks.per_host(con, gen.FIELDS),
                         gen.cpu_expect(pre["batches"] + kept), gen.FIELDS,
                         "bench.cpu after compaction")
    # counts seen while writing
    import wire

    obs = []
    for o in sorted((o for o in run.ops if o.get("shape") == "count_json"
                     and o["status"] == 200), key=lambda o: o["sent"]):
        value = wire.json_rows(run.bodies[o["body"]])[1][0][0]
        committed = max([a for t, a in flushes if t <= o["sent"]],
                        default=0)
        sent_dups = max(d for t, _r, d in acks if t <= o["sent"])
        done_rows = max(r for t, r, _d in acks
                        if t <= o["sent"] + o["secs"])
        obs.append({"value": value, "sent": o["sent"],
                    "lo": pre["rows"] + committed - sent_dups,
                    "hi": pre["rows"] + done_rows + gen.MIXED_BATCH})
    checks.check_observed_counts(obs, compaction["sent"], sum(dups))
    # pages: the history (committed before any query) is a floor
    hist = checks.duck(checks.parquet_files(meas))
    hist.execute("CREATE TABLE h AS SELECT time FROM t WHERE "
                 f"epoch_us(time) < {gen.preload_end(seed)}")
    by_name = {s.name: s for s in shapes}
    for o in run.ops:
        if o.get("shape") in ("recent_arrow", "page_msgpack") \
                and o["status"] == 200:
            s = by_name[o["shape"]]
            floor = hist.execute(
                "SELECT COUNT(*) FROM h WHERE epoch_us(time) >= ? AND "
                "epoch_us(time) < ?", [s.lo, s.hi]).fetchone()[0]
            checks.check_page(_page_times(s, run.bodies[o["body"]]),
                              s.lo, s.hi, min(s.limit, floor), s.limit)
    n_files, n_bytes = committed_bytes([meas])
    run.extra = {"storage.files": n_files, "storage.bytes": n_bytes,
                 "cache": (stats0, stats1)}
    stream = [o for o in run.ops if o.get("tag") == "stream"]
    return {"setup_s": metric(setup_s, "s"),
            **write_metrics(stream, [(distinct, commit_wall)], None),
            **query_metrics([o for o in run.ops if o.get("tag") == "mixed"],
                            read_wall, None),
            "compact_s": metric(compaction["secs"], "s"),
            "bytes_per_row": metric(n_bytes / want, "B")}


# -- per-layer metrics (traced run) ------------------------------------------------------

def _unit(name: str) -> str:
    for suffix, unit in (("_ms_p50", "ms"), ("_ms_total", "ms"),
                         ("_ms", "ms"), ("_cpu_s", "s"), ("steal_s", "s"),
                         ("bytes_out", "B"), ("_bytes", "B"),
                         ("bytes_rewritten", "B"), (".bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


def layer_metrics(run: Run, e2e: dict) -> dict:
    """Per-layer readings of a traced server run: spans and counters from
    the launcher's trace.json, the client's request log, the Spark status
    store, the plan-cache stats route and /proc."""
    import tracing

    with open(os.path.join(run.work, "trace.json")) as fh:
        tr = json.load(fh)
    spans, cnt = tr["spans"], tr["counters"]
    dur = tracing.by_name(spans)
    own = tracing.self_times(spans)
    self_ms = {}
    for sid, _p, _rid, name, _t0, _t1 in spans:
        self_ms[name] = self_ms.get(name, 0.0) + own[sid] * 1000
    ops = {o["rid"]: o for o in run.ops}
    svc: dict[str, float] = {}
    for _sid, _p, rid, name, t0, t1 in spans:
        if rid and name in ("query.execute", "ingest.write"):
            svc[rid] = max(svc.get(rid, 0.0), (t1 - t0) * 1000)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def total(name):
        return sum(dur.get(name, ()))

    by_cls = {"lookup": [], "agg": []}
    for rid, ms in svc.items():
        o = ops.get(rid)
        if o is not None and o["kind"] == "query":
            by_cls[o["cls"]].append(ms)
    lookup_jobs = 0
    for group, n in tr["spark"]["groups"].items():
        o = ops.get(group.removeprefix("bench-"))
        if o is not None and o.get("cls") == "lookup":
            lookup_jobs += n
    s0, s1 = run.extra["cache"]
    out = {
        "server.overhead_ms_p50": med(
            [ops[r]["secs"] * 1000 - ms for r, ms in svc.items()
             if r in ops]),
        "query.execute_lookup_ms_p50": med(by_cls["lookup"]),
        "query.execute_agg_ms_p50": med(by_cls["agg"]),
        "query.execute_self_ms_total": self_ms.get("query.execute", 0.0),
        "query.route_native_count": cnt.get("query.route_native_count", 0),
        "query.route_native_scan": cnt.get("query.route_native_scan", 0),
        "query.route_spark": cnt.get("query.route_spark", 0),
        "ingest.write_ms_p50": med(dur.get("ingest.write", [])),
        "ingest.flush_calls": len(dur.get("ingest.flush", [])),
        "ingest.flush_ms_total": total("ingest.flush"),
        "ingest.flush_self_ms_total": self_ms.get("ingest.flush", 0.0),
        "ingest.flush_rows": cnt.get("ingest.flush_rows", 0),
        "sources.decode_ms_total": total("sources.decode"),
        "wal.append_calls": len(dur.get("wal.append", [])),
        "wal.append_ms_total": total("wal.append") + total("wal.sync"),
        "wal.bytes": cnt.get("wal.bytes", 0),
        "writer.write_ms_total": total("writer.write"),
        "writer.files": cnt.get("writer.files", 0),
        "snapshots.commit_calls": len(dur.get("snapshots.commit", [])),
        "snapshots.commit_ms_total": total("snapshots.commit"),
        "snapshots.commit_contention":
            cnt.get("snapshots.commit_contention", 0),
        "storage.files": run.extra["storage.files"],
        "storage.bytes": run.extra["storage.bytes"],
        "plans.validate_ms_total": total("plans.validate"),
        "plans.prune_ms_total": total("plans.prune"),
        "plans.prune_cache_hits": s1.get("hits", 0) - s0.get("hits", 0),
        "plans.prune_cache_misses":
            s1.get("misses", 0) - s0.get("misses", 0),
        "catalog.register_calls": len(dur.get("catalog.register", [])),
        "catalog.register_ms_total": total("catalog.register"),
        "catalog.invalidate_calls": len(dur.get("catalog.invalidate", [])),
        "catalog.invalidate_ms_total": total("catalog.invalidate"),
        "catalog.scan_arrow_ms_p50": med(dur.get("catalog.scan_arrow", [])),
        "catalog.scan_cache_hits": cnt.get("catalog.scan_cache_hits", 0),
        "catalog.scan_cache_misses": cnt.get("catalog.scan_cache_misses", 0),
        "catalog.count_rows_ms_total": total("catalog.count_rows"),
        "registry.run_ms_p50": med(dur.get("registry.run", [])),
        "registry.queries": cnt.get("registry.queries", 0),
        "serving.json_ms_total": total("serving.json"),
        "serving.arrow_ms_total": total("serving.arrow"),
        "serving.msgpack_ms_total": total("serving.msgpack"),
        "serving.bytes_out": cnt.get("serving.bytes_out", 0),
        **tr["spark"]["totals"],
        "spark.lookup_jobs": lookup_jobs,
        "compaction.partition_calls":
            cnt.get("compaction.partition_calls", 0),
        "compaction.partition_ms_p50": med(
            dur.get("compaction.partition", [])),
        "compaction.files_in": cnt.get("compaction.files_in", 0),
        "compaction.files_out": cnt.get("compaction.files_out", 0),
        "compaction.bytes_rewritten":
            cnt.get("compaction.bytes_rewritten", 0),
        **run.proc,
    }
    out = {k: metric(v, _unit(k)) for k, v in out.items()}
    for k, m in e2e.items():
        out["traced." + k] = m
    return out


# -- curate (no server) --------------------------------------------------------------------

def workload_curate(run: Run, t_launch: float) -> dict:
    """Batch curation in a child process of its own (perfbench/curate.py);
    its JVM and Python workers are sampled like the server's."""
    import procstat

    env = child_env(run.work)
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    out_path = os.path.join(run.work, "curate.json")
    log = open(os.path.join(run.work, "curate.log"), "wb")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "curate.py"), run.work,
         str(run.args.seed), str(run.args.seconds), str(run.args.trace),
         str(SPARK_CPUS)],
        cwd=run.work, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True)
    sampler = procstat.TreeSampler(proc.pid).start()
    try:
        rc = proc.wait(timeout=170)
    finally:
        sampler.stop()
        kill_group(proc)
        log.close()
    if rc != 0 or not os.path.exists(out_path):
        raise RuntimeError("curate process failed; see "
                           + os.path.join(run.work, "curate.log"))
    with open(out_path) as fh:
        res = json.load(fh)
    run.ops.extend(res["ops"])
    if res.get("error"):
        import checks

        raise checks.CheckFailed(res["error"])
    run.curate = res
    run.proc_sampler = sampler
    return {"setup_s": metric(res["setup_s"], "s"),
            "curate_docs_per_s": metric(res["docs_per_s"], "docs/s")}


WORKLOADS = {"ingest": workload_ingest, "dashboard": workload_dashboard,
             "mixed": workload_mixed, "curate": workload_curate}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arc_spark", "config.py")):
        print("perfbench: no arc_spark package next to perfbench/; run "
              "from a source checkout", file=sys.stderr)
        return 2
    import checks
    import procstat

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    correct, error = True, None
    try:
        t_launch = run.t_launch
        if args.workload != "curate":
            run.server = Server(work, bool(args.trace))
        run.steal0 = procstat.steal_s()
        e2e = WORKLOADS[args.workload](run, t_launch)
        if run.failures:
            raise checks.CheckFailed("; ".join(run.failures[:5]))
        sampler = (run.server.sampler if run.server is not None
                   else run.proc_sampler)
        sampler.sample()
        e2e["peak_rss_mb"] = metric(sampler.peak_rss_mb(), "MB")
        by_kind = sampler.peak_by_kind()
        print("# peak rss MB by kind: " + json.dumps(by_kind),
              file=sys.stderr)
        # the JVM's share of peak_rss_mb is its G1 heap, which grows with
        # GC timing (1.0-1.8 GB from run to run at the same work), and the
        # workers' share with how many Spark has running at the peak; the
        # server's own Python process repeats to about 1 %
        e2e["server_peak_rss_mb"] = metric(by_kind["python"], "MB")
        cpu = sampler.cpu_by_kind()
        cpu0 = run.server.cpu0 if run.server is not None else {}
        run.proc = {f"proc.{k}_cpu_s": v - cpu0.get(k, 0.0)
                    for k, v in cpu.items()}
        run.proc["proc.steal_s"] = procstat.steal_s() - (
            run.server.steal0 if run.server is not None else run.steal0)
        run.phase("checked")
        if run.server is not None:
            run.server.stop()
        run.phase("stopped")
        if args.trace:
            metrics = (layer_metrics(run, e2e) if args.workload != "curate"
                       else curate_layers(run, e2e))
        else:
            metrics = {k: m for k, m in e2e.items() if k in GATED}
        for k, m in e2e.items():
            if k not in GATED:
                print(f"# {k} = {m['value']:.6g} {m['unit']} (not gated)",
                      file=sys.stderr)
    except checks.CheckFailed as e:
        correct, error, metrics = False, str(e), {}
    finally:
        if run.server is not None:
            run.server.stop()
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for o in run.ops if o["status"] not in (200, 204))
    if error:
        print(f"perfbench: check failed: {error}", file=sys.stderr)
    for o in [o for o in run.ops if o["status"] not in (200, 204)][:5]:
        print(f"perfbench: failed {o['kind']} {o.get('shape', '')} "
              f"HTTP {o['status']}: {o.get('error', '')}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(run.ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def curate_layers(run: Run, e2e: dict) -> dict:
    out = {k: metric(v, _unit(k)) for k, v in run.curate["layers"].items()}
    out.update({k: metric(v, _unit(k)) for k, v in run.proc.items()})
    for k, m in e2e.items():
        out["traced." + k] = m
    return out


if __name__ == "__main__":
    sys.exit(main())
