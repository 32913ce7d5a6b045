"""QueryRegistry outcomes: run(), the duration-cap watchdog and cancel()
each move a live query out of ``running`` through one locked transition,
so exactly one outcome wins and run() reports the one history records."""

from __future__ import annotations

import sys
import time

import pytest

from arc_spark.governance import QueryCancelled, QueryRegistry, QueryTimeout


def test_timeout_racing_completion_has_one_outcome(spark):
    reg = QueryRegistry(spark, history_size=1000)
    df = spark.range(1)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # preempt between any two bytecodes
    outcomes = []
    try:
        for i in range(300):
            # completion lands within ±1 ms of the 5 ms cap
            delay = 0.004 + (i % 9) * 0.00025

            def collect(_df, delay=delay):
                time.sleep(delay)
                return "result", 1

            try:
                got = reg.run(df, sql=f"q{i}", collect=collect,
                              timeout_s=0.005)
                outcomes.append(("returned", got))
            except QueryTimeout:
                outcomes.append(("timeout", None))
    finally:
        sys.setswitchinterval(old)
    history = {h.sql: h.status for h in reg.history()}
    for i, (outcome, got) in enumerate(outcomes):
        if outcome == "returned":
            assert got == "result" and history[f"q{i}"] == "done", i
        else:
            assert history[f"q{i}"] == "timeout", i
    # both outcomes occurred, so the race was exercised
    assert {o for o, _ in outcomes} == {"returned", "timeout"}


def test_cancel_that_wins_fails_the_run(spark):
    """A cancel that lands while the query is still running wins, even
    when the result arrives afterwards: run() raises, as history says."""
    reg = QueryRegistry(spark)

    def collect(_df):
        assert reg.cancel(reg.active()[0].query_id)
        return ["late result"], 1

    with pytest.raises(QueryCancelled):
        reg.run(spark.range(1), sql="cancelled", collect=collect)
    assert reg.history()[0].status == "cancelled"
    assert reg.cancel(reg.history()[0].query_id) is False
