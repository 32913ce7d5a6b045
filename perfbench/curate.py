"""The curate workload's process: batch calls into the curation operators,
no server.

Usage: python3 perfbench/curate.py <work_dir> <seed> <seconds> <trace> <cpus>

Boots a Spark session with ``arc_spark.session.get_spark``, builds the
seeded corpus, runs one discarded warm-up pass, then a fixed number of
passes of: quality + language gates → ``dedup_exact`` → near-duplicate
pairs through ``ngram_jaccard_pairs`` and ``minhash_lsh_pairs`` → write the
kept set as parquet. Every pass is checked (perfbench/checks.py). Writes
``<work_dir>/curate.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

N_DOCS = 3000
PASSES_PER_S = 0.4
THRESHOLD = 0.7
MARGIN = 0.1          # planted pairs at or above THRESHOLD + MARGIN must be found
QUALITY_MIN = 0.5


def one_pass(spark, df, out_dir: str, trace: bool) -> dict:
    from pyspark.sql import functions as F

    from arc_spark.functions.text import lang_id, quality_score
    from arc_spark.operators.dedup import (
        dedup_exact,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    t = {}
    t0 = time.perf_counter()
    gated = df.filter((quality_score("text") >= QUALITY_MIN)
                      & (lang_id("text") == "en")).persist()
    n_gated = gated.count()
    t1 = time.perf_counter()
    keep = dedup_exact(gated).select(F.col("keep_id").alias("doc_id"))
    kept = gated.join(keep, "doc_id").persist()
    n_kept = kept.count()
    t2 = time.perf_counter()
    ng = [(r.doc_a, r.doc_b) for r in
          ngram_jaccard_pairs(kept, threshold=THRESHOLD).collect()]
    mh = [(r.doc_a, r.doc_b) for r in
          minhash_lsh_pairs(kept, threshold=THRESHOLD).collect()]
    t3 = time.perf_counter()
    drop = [max(a, b) for a, b in ng + mh]
    final = kept.filter(~F.col("doc_id").isin(drop)) if drop else kept
    final.write.mode("overwrite").parquet(out_dir)
    t4 = time.perf_counter()
    t = {"curate.quality_ms": (t1 - t0) * 1000,
         "curate.exact_dedup_ms": (t2 - t1) * 1000,
         "curate.near_dup_ms": (t3 - t2) * 1000,
         "curate.write_ms": (t4 - t3) * 1000}
    if trace:
        # useful ÷ attempted: LSH candidates before exact verification
        t["curate.candidate_pairs"] = minhash_lsh_pairs(
            kept, threshold=THRESHOLD, verify=False).count()
        t["curate.verified_pairs"] = len(mh)
    gated.unpersist()
    kept.unpersist()
    return {"gated": n_gated, "kept": n_kept, "ng": ng, "mh": mh,
            "written": spark.read.parquet(out_dir).count(),
            "final": n_kept - len(set(drop)), "times": t}


def main() -> int:
    work, seed, seconds, trace, cpus = (
        sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
        sys.argv[4] == "1", int(sys.argv[5]))
    t_start = time.perf_counter()
    import checks
    import gen
    from arc_spark.session import get_spark

    rec = None
    if trace:
        import tracing

        rec = tracing.Recorder()
        tracing.install_curate(rec)
    spark = get_spark(cpus=cpus, shuffle_partitions=cpus)
    corpus = gen.curate_corpus(seed, N_DOCS)
    df = spark.createDataFrame(corpus.docs, "doc_id long, text string")
    df = df.repartition(cpus).persist()
    df.count()
    out_dir = os.path.join(work, "kept")
    result = {"ops": [], "error": None}
    try:
        one_pass(spark, df, out_dir, False)           # warm-up, discarded
        result["setup_s"] = time.perf_counter() - t_start
        import launcher

        since = launcher.last_job_id(spark)
        passes = max(1, round(seconds * PASSES_PER_S))
        layers: dict[str, float] = {}
        t0 = time.perf_counter()
        outs = []
        for _ in range(passes):
            p0 = time.perf_counter()
            out = one_pass(spark, df, out_dir, trace)
            result["ops"].append({"rid": str(len(outs)), "kind": "pass",
                                  "status": 200,
                                  "secs": time.perf_counter() - p0})
            outs.append(out)
            for k, v in out["times"].items():
                layers[k] = layers.get(k, 0.0) + v
        wall = time.perf_counter() - t0
        result["docs_per_s"] = passes * N_DOCS / wall
        for out in outs:
            checks.check_curate(corpus, out["kept"], out["ng"], out["mh"],
                                THRESHOLD, MARGIN)
            checks.expect(out["gated"] == len(corpus.good_ids),
                          f"gates kept {out['gated']}, generator marks "
                          f"{len(corpus.good_ids)} docs good")
            checks.expect(out["written"] == out["final"],
                          f"wrote {out['written']} rows, kept "
                          f"{out['final']}")
        if trace:
            layers = {k: v / passes for k, v in layers.items()}
            layers.update(launcher.spark_stage_totals(spark, since)["totals"])
            layers["curate.operator_calls"] = len(rec.spans)
        result["layers"] = layers
    except checks.CheckFailed as e:
        result["error"] = str(e)
    finally:
        spark.stop()
        shutil.rmtree(out_dir, ignore_errors=True)
    with open(os.path.join(work, "curate.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
