"""q16 in-context tax A/B (r11): every r10/r11 bench artifact reads
q16_ngram_jaccard ~2.2-2.8 s while in-session isolated runs read
~1.1 s (r10) — and attempt-21's artifact shows 2.4 with a CLEAN query
block (post_query mt 0.301), killing the r10 'mid-run spike' theory.
This interleaved A/B reproduces the bench's pass context (query lanes +
serve-lane driver collects) ahead of q16 to decide whether the tax is
session state built by the pass loop or something else entirely.
Alternating blocks cancel box drift; compare paired mins.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from arc_spark import cacheutil
    from arc_spark.catalog import read_parquet_normalized
    from arc_spark.serving import to_arrow_ipc, to_columnar_msgpack
    from arc_spark.session import get_spark
    from arc_spark.workload import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="q16-context-ab")
    ev = read_parquet_normalized(spark, os.path.join(sf_dir,
                                                     "events.parquet"))
    ev.count()

    context_lanes = [
        "q79_count_star", "q78_select_order_limit", "q07_time_bucket",
        "q08_date_trunc", "q06_events_conditional_agg",
        "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders",
        "q15_dedup_lww", "q22_token_stats", "q21_quality_score",
    ]

    def run_q16() -> float:
        cacheutil.clear_registry()
        t0 = time.perf_counter()
        QUERIES["q16_ngram_jaccard"](spark, sf_dir).count()
        return time.perf_counter() - t0

    def build_context() -> None:
        for name in context_lanes:
            cacheutil.clear_registry()
            QUERIES[name](spark, sf_dir).count()
        # the serve lanes' driver-side collects (bench runs these in the
        # same pass loop as q16)
        to_arrow_ipc(ev.toArrow())
        to_columnar_msgpack(ev.toArrow())

    # warm both shapes once
    run_q16()
    build_context()

    a, b = [], []
    for i in range(4):
        a.append(round(run_q16(), 3))             # A: back-to-back
        build_context()
        b.append(round(run_q16(), 3))             # B: after a full pass
        print(f"# block {i}: A={a[-1]} B={b[-1]}", file=sys.stderr)
    print(f"A (isolated, post-warm): {a} min {min(a)}")
    print(f"B (after bench-style pass): {b} min {min(b)}")
    print(f"paired B/A ratios: "
          f"{[round(x / y, 2) for x, y in zip(b, a)]}")


if __name__ == "__main__":
    main()
