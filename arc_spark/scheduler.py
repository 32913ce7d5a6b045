"""Background maintenance scheduler (reference internal/scheduler/:
cq_scheduler.go, retention_scheduler.go, plus internal/compaction/
scheduler.go's cron and internal/reconciliation/scheduler.go).

The reference runs one goroutine per concern; here ONE daemon thread
drives every registered job — maintenance work is Spark jobs against the
same session, and running compaction, retention, and CQs concurrently
with each other buys nothing but contention (the reference serializes
compaction against itself for the same reason). Semantics kept:

- per-job interval with ±jitter (retention_scheduler.go getNextRun adds
  jitter so a fleet doesn't thundering-herd shared storage);
- a job's failure is recorded and the schedule continues — one broken
  measurement must not stop retention for the rest
  (retention_scheduler.go runRetention recovers per policy);
- ``trigger_now`` for manual runs (TriggerNow), refused while that job
  is already running;
- ``status()`` mirrors Status(): per-job last run, outcome, duration,
  next due time.

Convenience registrars wire the engine's own operators: hourly/daily
compaction, retention, CQ ticks, reconciliation dry-runs. Each commits
a snapshot per file swap; catalog views pick it up on their next read.
"""

from __future__ import annotations

import random
import threading
import time


class _Job:
    def __init__(self, name: str, fn, interval_s: float, jitter_frac: float):
        self.name = name
        self.fn = fn
        self.interval_s = float(interval_s)
        self.jitter_frac = jitter_frac
        self.next_due = time.monotonic() + self._jittered()
        self.running = False
        self.runs = 0
        self.failures = 0
        self.last_started: float | None = None  # wall clock, for status
        self.last_duration_s: float | None = None
        self.last_error: str | None = None
        self.last_result = None

    def _jittered(self) -> float:
        if self.jitter_frac <= 0:
            return self.interval_s
        spread = self.interval_s * self.jitter_frac
        return self.interval_s + random.uniform(-spread, spread)


class MaintenanceScheduler:
    def __init__(self, poll_interval_s: float = 1.0):
        self._jobs: dict[str, _Job] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.poll_interval_s = poll_interval_s

    # -- registration ---------------------------------------------------
    def add_job(self, name: str, fn, interval_s: float,
                jitter_frac: float = 0.1) -> None:
        """``fn`` takes no args and returns a JSON-able result (stored on
        the job for status)."""
        with self._lock:
            if name in self._jobs:
                raise ValueError(f"job {name!r} already registered")
            self._jobs[name] = _Job(name, fn, interval_s, jitter_frac)

    def remove_job(self, name: str) -> bool:
        with self._lock:
            return self._jobs.pop(name, None) is not None

    # engine-wired conveniences (the reference's dedicated schedulers)
    def schedule_compaction(self, spark, root: str, db: str,
                            measurement: str, interval_s: float = 300,
                            **kw) -> None:
        from arc_spark.operators.compaction import compact_measurement

        self.add_job(
            f"compaction:{db}.{measurement}",
            lambda: compact_measurement(spark, root, db, measurement, **kw),
            interval_s)

    def schedule_retention(self, root: str, db: str, measurement: str,
                           retention_days: float, interval_s: float = 3600,
                           **kw) -> None:
        from arc_spark.operators.lifecycle import apply_retention

        self.add_job(
            f"retention:{db}.{measurement}",
            lambda: {"removed": apply_retention(
                root, db, measurement, retention_days=retention_days, **kw)},
            interval_s)

    def schedule_cq(self, cq_scheduler, interval_s: float = 10) -> None:
        """Drives CQScheduler.tick — each due CQ computes its window
        (cq_scheduler.go's per-CQ ticker collapses into one tick: a CQ
        whose window hasn't closed is a no-op inside run_once)."""
        self.add_job("continuous_queries",
                     lambda: cq_scheduler.tick(), interval_s)

    def schedule_reconcile(self, reconciler, interval_s: float = 86400,
                           dry_run: bool = True) -> None:
        self.add_job("reconcile",
                     lambda: reconciler.reconcile(dry_run=dry_run),
                     interval_s)

    # -- lifecycle ------------------------------------------------------
    def start(self) -> "MaintenanceScheduler":
        if self._thread is not None:
            return self
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def _loop(self) -> None:
        while not self._stop.wait(self.poll_interval_s):
            now = time.monotonic()
            with self._lock:
                due = [j for j in self._jobs.values()
                       if j.next_due <= now and not j.running]
            for job in due:
                self._run_job(job)

    def _run_job(self, job: _Job) -> None:
        with self._lock:
            if job.running:
                return
            job.running = True
        t0 = time.perf_counter()
        job.last_started = time.time()
        try:
            job.last_result = job.fn()
            job.last_error = None
        except Exception as e:  # record and keep the schedule alive
            job.failures += 1
            job.last_error = f"{type(e).__name__}: {e}"
        finally:
            job.runs += 1
            job.last_duration_s = round(time.perf_counter() - t0, 4)
            with self._lock:
                job.next_due = time.monotonic() + job._jittered()
                job.running = False

    def trigger_now(self, name: str):
        """Manual run (reference TriggerNow); raises for unknown jobs and
        refuses a job already in flight."""
        with self._lock:
            job = self._jobs.get(name)
            if job is None:
                raise KeyError(f"no scheduled job {name!r}")
            if job.running:
                raise RuntimeError(f"job {name!r} is already running")
        self._run_job(job)
        if job.last_error is not None:
            raise RuntimeError(job.last_error)
        return job.last_result

    # -- observability --------------------------------------------------
    def status(self) -> list[dict]:
        now = time.monotonic()
        with self._lock:
            return [{
                "name": j.name,
                "interval_seconds": j.interval_s,
                "running": j.running,
                "runs": j.runs,
                "failures": j.failures,
                "last_started": j.last_started,
                "last_duration_s": j.last_duration_s,
                "last_error": j.last_error,
                "next_due_in_s": round(max(0.0, j.next_due - now), 1),
            } for j in self._jobs.values()]
