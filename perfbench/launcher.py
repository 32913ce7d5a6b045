"""Benchmark server process: the ``python -m arc_spark serve`` boot path.

Usage: python3 perfbench/launcher.py <run_dir> <trace 0|1>

Reads ``<run_dir>/arc.toml`` through ``arc_spark.config.load_config``,
builds the engine with ``build_engine`` (the serve path), mints one admin
token through the engine's ``AuthStore`` before the listener starts, starts
serving on an ephemeral port and writes ``<run_dir>/ready.json``
({port, token, pid}). SIGUSR1 marks the start of the measured window (trace
counters reset, Spark job baseline taken); SIGTERM shuts the engine down the
way ``serve`` does. With trace=1 the layer wrappers of
:mod:`tracing` are installed and ``<run_dir>/trace.json`` is written at
shutdown.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def spark_stage_totals(spark, since_job: int) -> dict:
    """Sum the status store's stage metrics over jobs with id > since_job,
    plus job ids per job group (to attribute jobs to requests)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
           "spark.executor_run_ms": 0, "spark.executor_cpu_ms": 0.0,
           "spark.gc_ms": 0, "spark.shuffle_read_bytes": 0,
           "spark.shuffle_write_bytes": 0}
    groups: dict[str, int] = {}
    stage_ids: set[int] = set()
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= since_job:
            continue
        out["spark.jobs"] += 1
        g = j.jobGroup()
        if g.isDefined():
            groups[g.get()] = groups.get(g.get(), 0) + 1
        sit = j.stageIds().iterator()
        while sit.hasNext():
            stage_ids.add(int(sit.next()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stage: never attempted
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numCompleteTasks()
        out["spark.executor_run_ms"] += st.executorRunTime()
        out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
        out["spark.gc_ms"] += st.jvmGcTime()
        out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
    return {"totals": out, "groups": groups}


def last_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    hi = -1
    while it.hasNext():
        hi = max(hi, it.next().jobId())
    return hi


def main() -> int:
    run_dir, trace = sys.argv[1], sys.argv[2] == "1"
    from arc_spark.config import build_engine, load_config, shutdown

    done = threading.Event()
    mark = threading.Event()
    signal.signal(signal.SIGTERM, lambda s, f: done.set())
    signal.signal(signal.SIGINT, lambda s, f: done.set())
    signal.signal(signal.SIGUSR1, lambda s, f: mark.set())

    cfg = load_config(os.path.join(run_dir, "arc.toml"))
    engine = build_engine(cfg)
    server = engine["server"]
    token = engine["auth"].create_token("perfbench-admin")
    ingest = engine["ingest"]
    if ingest.wal is not None:
        ingest.recover()
    engine["scheduler"].start()

    rec = None
    if trace:
        import tracing

        rec = tracing.Recorder()
        tracing.install_server(rec, server)
    spark = engine["spark"]
    server.start()
    tmp = os.path.join(run_dir, "ready.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"port": server.port, "token": token,
                   "pid": os.getpid()}, fh)
    os.replace(tmp, os.path.join(run_dir, "ready.json"))

    since_job = -1
    while not done.is_set():
        if mark.wait(0.05):
            mark.clear()
            since_job = last_job_id(spark)
            if rec is not None:
                rec.reset()
            with open(os.path.join(run_dir, "marked"), "w") as fh:
                fh.write(str(time.time()))
    if rec is not None:
        # read the status store BEFORE shutdown; spans are complete once
        # the client has stopped sending
        sp = spark_stage_totals(spark, since_job)
        tmp = os.path.join(run_dir, "trace.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"spans": rec.spans, "counters": dict(rec.counters),
                       "spark": sp}, fh)
        os.replace(tmp, os.path.join(run_dir, "trace.json"))
    shutdown(engine)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
