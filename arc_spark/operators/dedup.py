"""Deduplication operators for large-scale corpora.

Five families, each chosen for a different scale/precision point:

- exact          — hash-groupBy on a content fingerprint. One shuffle.
- last-writer    — arc's compaction dedup semantics: newest row per
                   (tags..., time) wins (reference
                   /root/reference/internal/compaction/dedup.go:166-236,
                   ROW_NUMBER() OVER (PARTITION BY tags,time ORDER BY time DESC) = 1).
- n-gram Jaccard — exact set-similarity via shingle inverted index
                   (shuffle on shingle, then on pair). Quadratic only within
                   shingle posting lists; prune hot shingles for 100 TB runs.
- MinHash + LSH  — sketch → band-bucket join → verify. The scale path: cost
                   is O(n·bands) + candidate verification, never all-pairs.
- SimHash        — 64-bit near-dup fingerprint, hamming-distance candidates
                   via rotated prefix buckets.
- embedding      — cosine-threshold near-dup over embedding vectors.

Everything is built-in Catalyst expressions (xxhash64, higher-order array
functions, window) — no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from arc_spark.functions.text import fingerprint_md5, words
from arc_spark.functions.vector import cosine_similarity


def _regex_literal(s: str) -> str:
    """Quote ``s`` as a java.util.regex LITERAL (Pattern.quote semantics).

    Plain ``\\Q + s + \\E`` breaks when ``s`` itself contains ``\\E`` —
    the remainder is silently interpreted as live regex (r10 advice).
    Re-open the quote around every embedded ``\\E``: the occurrence is
    emitted as close-quote, escaped-backslash + ``E``, re-open-quote."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the lowest-id row per exact (normalized) content fingerprint.

    One hash-aggregate shuffle on the fingerprint; the fingerprint is a
    Catalyst md5 so the map side is codegen'd. At 100 TB this is the cheap
    first pass that typically removes 30-50% of crawl data.
    """
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def dedup_last_writer_wins(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """arc compaction-dedup semantics: newest row per key wins.

    Reference: /root/reference/internal/compaction/dedup.go:219-233 —
    ``QUALIFY ROW_NUMBER() OVER (PARTITION BY tags..., time ORDER BY time
    DESC) = 1``. One window shuffle on the key columns; at scale, keys are
    (tags, time) so the shuffle matches the natural write partitioning.
    """
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact set similarity via inverted index)
# --------------------------------------------------------------------------

def _shingle_native_gen(k: int, extra_cols: tuple):
    """mapInArrow generator: vectorized shingling (r13, VERDICT r12 #1).

    **Kept as an OPT-IN (``ARC_SHINGLE_IMPL=native``), not the default.**
    The r12 scoping predicted the expr twin's higher-order lambdas were
    an interpreted CPU sink (~13 s CPU / 5k docs) worth the same 24×
    class of win as the minhash kernel. The r13 A/B refuted that
    premise on this Spark (4.1): the marginal cost of the per-word
    ``xxhash64`` HOF over the words-only projection is ≈0 at every
    measured factor, and this path — despite hashing in C at ~ns/word —
    is 1.5× (factor 16) to 2.4–3.6× (factor 64, warm) SLOWER end to
    end, because shipping the tokenized word arrays across the Arrow
    boundary costs more than the JVM-side hashing it replaces
    (SCALING.md r13 carries the full measurement table). Retained
    because it is bit-exact, differentially fuzzed, and the
    transfer/compute tradeoff could invert on a corpus whose plan
    already crosses into Python adjacent to the shingle stage.

    Design (why this sidesteps the r12-scoped ``lower()`` blocker):
    tokenization (``lower``/``split``) STAYS JVM-side — so the
    JVM-vs-utf8proc bit-exactness hazard scoped in SCALING.md r12 never
    arises: no casing decision ever leaves Spark. Only the hashing
    crosses the Arrow boundary, where:

    - each word is XXH64(utf-8 bytes, seed 42) via the _cxxh C kernel
      reading the Arrow string buffers (data + int32 offsets) in place —
      bit-exact vs Spark's xxhash64 (catalyst XXH64.hashUnsafeBytes IS
      standard XXH64 on little-endian hosts; locked by differential
      fuzz in tests/test_shingle_native.py, incl. the unicode-casing
      corpus and stripe-boundary word lengths);
    - k consecutive word-hashes combine via k chained hashLong steps
      (Spark's multi-arg xxhash64 folds children with the running hash
      as seed), 7 numpy uint64 ops per step over the flat gram vector;
    - array_distinct becomes a segmented first-occurrence unique
      (stable lexsort by (doc, hash), keep first of each run, re-sort
      kept positions) — bit-identical ARRAY ORDER to array_distinct.

    NULL contract matches the expr twin exactly: NULL w (NULL text) and
    <k-word docs yield NULL shingles; a NULL word element hashes to the
    seed 42 (Spark's null-child rule), though words() never emits one.

    Executor fallback: if the C kernel can't build there (no cc), words
    hash through the pure-Python scalar twin — slow but bit-identical,
    so a heterogeneous cluster degrades in speed, never in answers.
    """
    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from arc_spark.operators._cxxh import (native_xxh64_batch,
                                               xxh64_bytes)

        P1 = np.uint64(0x9E3779B185EBCA87)
        P2 = np.uint64(0xC2B2AE3D27D4EB4F)
        P3 = np.uint64(0x165667B19E3779F9)
        P4 = np.uint64(0x85EBCA77C2B2AE63)
        P5 = np.uint64(0x27D4EB2F165667C5)
        SEED0 = np.uint64(42)
        fn = native_xxh64_batch()
        with np.errstate(over="ignore"):
            for rb in batches:
                w_idx = rb.schema.get_field_index("w")
                w = rb.column(w_idx)
                n = len(w)
                if n and (w.offset or w.values.offset):
                    # sliced batch (never seen from Spark's serializer,
                    # but raw-buffer indexing below assumes offset 0):
                    # materialize an offset-0 copy
                    w = w.take(pa.array(np.arange(n, dtype=np.int64)))
                out_counts = np.zeros(n, np.int64)
                if n:
                    loffs = np.asarray(w.offsets, dtype=np.int64)
                    valid = ~np.asarray(w.is_null())
                    child = w.values
                    cn = len(child)
                else:
                    loffs = np.zeros(1, np.int64)
                    valid = np.zeros(0, bool)
                    child = None
                    cn = 0
                if cn:
                    coffs = np.frombuffer(
                        child.buffers()[1], np.int32)[:cn + 1]
                    cdata = child.buffers()[2]
                    if cdata is None:  # all-empty-string child
                        cdata = pa.py_buffer(b"")
                    Wh = np.empty(cn, np.uint64)
                    if fn is not None:
                        fn(cdata.address, coffs.ctypes.data, cn, 42,
                           Wh.ctypes.data)
                    else:
                        mv = memoryview(cdata)
                        for i in range(cn):
                            Wh[i] = xxh64_bytes(
                                bytes(mv[coffs[i]:coffs[i + 1]]), 42)
                    if child.null_count:
                        # xxhash64(NULL) leaves the seed untouched
                        Wh[~np.asarray(child.is_valid())] = SEED0
                else:
                    Wh = np.empty(0, np.uint64)
                m = np.diff(loffs)
                live = valid & (m >= k)
                ci = (m - (k - 1))[live]
                total = int(ci.sum())
                if total:
                    seg_start = np.cumsum(ci) - ci
                    base_ix = loffs[:-1][live]
                    idx = (np.arange(total, dtype=np.int64)
                           - np.repeat(seg_start, ci)
                           + np.repeat(base_ix, ci))
                    # k chained hashLong(word_hash, running_seed) steps
                    h = np.full(total, SEED0, np.uint64)
                    tmp = np.empty(total, np.uint64)
                    for j in range(k):
                        k1 = Wh[idx + j] * P2
                        np.left_shift(k1, np.uint64(31), out=tmp)
                        np.right_shift(k1, np.uint64(33), out=k1)
                        np.bitwise_or(k1, tmp, out=k1)
                        k1 *= P1
                        h += P5 + np.uint64(8)
                        h ^= k1
                        np.left_shift(h, np.uint64(27), out=tmp)
                        np.right_shift(h, np.uint64(37), out=h)
                        np.bitwise_or(h, tmp, out=h)
                        h *= P1
                        h += P4
                        np.right_shift(h, np.uint64(33), out=tmp)
                        h ^= tmp
                        h *= P2
                        np.right_shift(h, np.uint64(29), out=tmp)
                        h ^= tmp
                        h *= P3
                        np.right_shift(h, np.uint64(32), out=tmp)
                        h ^= tmp
                    # segmented order-preserving unique == array_distinct
                    did = np.repeat(np.arange(len(ci)), ci)
                    order = np.lexsort((h, did))  # stable: ties keep pos
                    oh, od = h[order], did[order]
                    first = np.ones(total, bool)
                    first[1:] = (od[1:] != od[:-1]) | (oh[1:] != oh[:-1])
                    keep = np.sort(order[first])
                    out_vals = h[keep].view(np.int64)
                    out_counts[live] = np.bincount(
                        did[keep], minlength=len(ci))
                else:
                    out_vals = np.empty(0, np.int64)
                offs_py = np.concatenate(
                    ([0], np.cumsum(out_counts))).tolist()
                # NULL both NULL-w rows AND <k-word rows (the expr twin's
                # CASE emits NULL for both; zero-length neighbors keep
                # the surviving offsets consistent)
                for i in np.flatnonzero(~(valid & (m >= k))):
                    offs_py[i] = None  # null offset start => null list
                shingles = pa.ListArray.from_arrays(
                    pa.array(offs_py, type=pa.int32()),
                    pa.array(out_vals, type=pa.int64()))
                cols, names = [], []
                for f_i in range(rb.num_columns):
                    if f_i == w_idx:
                        continue
                    cols.append(rb.column(f_i))
                    names.append(rb.schema.field(f_i).name)
                cols.append(shingles)
                names.append("shingles")
                yield pa.RecordBatch.from_arrays(cols, names)

    return gen


SHINGLE_TASK_BYTES = int(os.environ.get(
    "ARC_SHINGLE_TASK_BYTES", str(128 << 10)))


def _shingle_spread_width(df: DataFrame) -> int:
    """Partition width for the shingle spread: one task per
    ``SHINGLE_TASK_BYTES`` of input, clamped to [1, defaultParallelism].

    Analysis-only (bounded leaf-file stat sample, no Spark job — the
    packing/DSIR estimator). Frames where the size cannot be known
    cheaply — in-memory test data, streams, post-shuffle lineage —
    keep the full cluster width, as does any corpus large enough to
    fill it; only a provably small file-backed input narrows.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    try:
        if df.isStreaming:
            return n
        files = list(df.inputFiles())
    except Exception:
        return n
    if not files:
        return n
    from arc_spark.operators.packing import _estimated_input_bytes

    est = _estimated_input_bytes(spark, files)
    if est is None:
        return n
    return max(1, min(n, -(-est // SHINGLE_TASK_BYTES)))


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int,
              extra_cols: tuple = ()) -> DataFrame:
    """(doc, shingles: array<bigint>) — distinct HASHED k-word shingles.

    Shingles are 64-bit hashes, not strings: each word is xxhash64'd once,
    then k consecutive word-hashes combine via xxhash64(long,...,long).
    Set operations (Jaccard, posting-list joins, minhash) over hashed
    shingles equal the string-shingle results w.h.p. (collision ~ S²/2⁶⁴),
    while skipping per-position string slicing/joining entirely — measured
    ~4× faster, and the shuffled posting lists carry 8-byte longs instead
    of strings.

    Documents with <k words get NULL shingles (not a filter! a filter on
    the computed column is predicate-pushed below the repartition exchange,
    inlining the whole pipeline into the scan — which both serializes it
    onto the input's possibly-tiny partition count and evaluates it twice).
    NULL rows fall out naturally downstream: explode emits nothing, and
    band buckets are NULL-guarded so they never pair.

    The repartition spreads rows across the cluster first: corpora often
    arrive as few large files, and shingling is a CPU-bound projection that
    would otherwise run at the input's partition count. The WIDTH is
    bytes-derived (r14, guide §2.5/§6): defaultParallelism is right when
    the corpus can fill it, but a small file-backed corpus spread to the
    full cluster width pays per-task dispatch — ~10 ms/JVM task and
    ~15 ms/Python task for the downstream mapInPandas signature stage —
    for microseconds of CPU each (measured: the 32-wide signature stage
    at sf0.1 is 0.67 s vs 0.46 s at width 8, and the incremental-dedup
    lane, which crosses into Python twice, drops 2.17 → 1.30 s). One
    task per ~128 KB of input text (~100-200 ms of shingle+sig CPU at
    k=3/128 hashes), clamped to [1, defaultParallelism]; in-memory and
    streaming frames, and corpora big enough to fill the cluster, keep
    the full width — at 100 TB the clamp always resolves to
    defaultParallelism, so this changes nothing off-local.

    r13: ``ARC_SHINGLE_IMPL=native`` opts into the vectorized twin
    (:func:`_shingle_native_gen` via ``mapInArrow`` — C XXH64 over the
    Arrow string buffers + numpy gram combine; tokenization stays
    JVM-side). BIT-IDENTICAL output including array order (differential
    fuzz in tests/test_shingle_native.py), but measured SLOWER at every
    factor on this corpus (the Arrow transfer of the word arrays
    outweighs the interpreted-HOF cost it removes — see the generator
    docstring and SCALING.md r13), so the expression path stays the
    default.
    """
    import os as _os

    spark = df.sparkSession
    n = _shingle_spread_width(df)
    extra = [F.col(c) for c in extra_cols]
    base = df.repartition(n).select(
        F.col(id_col).alias("doc"), *extra, words(text_col).alias("w")
    )
    if _os.environ.get("ARC_SHINGLE_IMPL", "expr") == "native":
        from pyspark.sql.types import (ArrayType, LongType, StructField,
                                       StructType)

        fields = [base.schema["doc"]]
        fields += [base.schema[c] for c in extra_cols]
        fields += [StructField("shingles", ArrayType(LongType()), True)]
        return base.mapInArrow(_shingle_native_gen(k, tuple(extra_cols)),
                               StructType(fields))
    hw = base.select("doc", *extra,
                     F.expr("transform(w, x -> xxhash64(x))").alias("hw"))
    tuple_hash = ",".join(f"element_at(hw, i + {j})" for j in range(k))
    return hw.select(
        "doc",
        *extra,
        F.expr(
            f"""CASE WHEN size(hw) >= {k} THEN array_distinct(transform(
                    sequence(1, size(hw) - {k - 1}),
                    i -> xxhash64({tuple_hash})))
                ELSE CAST(NULL AS ARRAY<BIGINT>) END"""
        ).alias("shingles"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_posting_list: int | None = 1000,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """All document pairs with word-k-gram Jaccard ≥ threshold.

    Plan shape: explode shingles → (shuffle on shingle) self-join within
    posting lists → (shuffle on pair) count intersections → join doc sizes.
    ``max_posting_list`` drops ultra-common shingles (stopword shingles),
    which bounds the worst-case pair blow-up at corpus scale — the standard
    trick from suffix-filtering literature. It DEFAULTS ON (1000): one hot
    shingle shared by d documents otherwise contributes d²/2 join rows, the
    quadratic blow-up that kills this operator on real crawl data. A shingle
    that common carries ~no similarity signal, and a pair whose overlap is
    exclusively stopword shingles is below any useful threshold anyway.
    Pass None to disable (exact semantics for small corpora).

    ``prefix_filter`` (AllPairs/PPJoin prefix filtering, Bayardo et al.
    2007 / Xiao et al. 2008): under a GLOBAL shingle order (rarest
    first), two sets with Jaccard ≥ t MUST share a shingle among each
    set's first ``|d| − ⌈t·|d|⌉ + 1`` shingles — so only the PREFIX of
    each posting list is self-joined to generate candidates, and the
    full intersection is computed only for candidate pairs (restricted
    to candidate docs, so verification cost follows the near-dup rate,
    not the corpus). EXACT: the candidate set provably covers every
    qualifying pair, and verification reproduces the capped-posting
    intersection bit-for-bit. At t=0.5 the joined index halves and the
    pair blow-up quarters; the hotter a shingle, the LATER it sorts —
    the frequency tail that explodes the naive join is exactly what the
    prefix excludes. Default OFF: the payoff regime is a HIGH threshold
    over a corpus whose candidate rate is low (real crawl dedup at
    t≈0.8 — candidates ≪ corpus, so the verify join shrinks to the
    near-dup rate). On the dense synthetic test corpus nearly every doc
    is someone's candidate at any threshold, so the restriction saves
    nothing and the rank/restrict shuffles only add cost (measured
    naive 2.2 s vs prefix 3.4 s at t=0.8, sf0.1) — which is why this is
    an explicit knob rather than an auto-heuristic: the driver of the
    choice is the corpus's dup structure, which the operator can't see
    up front. Equivalence at every threshold is property-tested
    (tests/test_curation_extras.py::TestPrefixFilterJaccard).
    """
    from pyspark import StorageLevel

    if prefix_filter is None:
        prefix_filter = False
    # Persist placement (measured at sf0.1, identical results):
    # - prefix / no-cap paths persist the SHINGLED frame — it feeds
    #   several branches (self-join sides, hot-shingle count, rank join),
    #   so without it the scan→words→hash pipeline reruns per consumer.
    # - the default windowed-cap path persists the CAPPED POSTING
    #   instead (below): the shingled frame then has exactly one
    #   consumer, while the window sort — which sits ABOVE the reused
    #   exchange and would otherwise run once per self-join side — runs
    #   once into the cache (q16 p50 1.41 → 0.99 s). At 100 TB the cache
    #   is feature-instance-sized either way (same bytes as the shingle
    #   arrays it replaces), spill-safe and LRU-evicted.
    # Either cached relation is also an optimizer BARRIER: the final
    # `jaccard >= t` filter makes Catalyst infer isnotnull(sz)
    # constraints which would otherwise be pushed below the exchange
    # into the scan with the whole shingle lambda pipeline inlined as an
    # interpreted per-row filter (measured: 13 s -> 1.5 s on 5 k docs).
    sh = _shingled(df, id_col, text_col, k)
    windowed_cap = not prefix_filter and max_posting_list is not None
    if not windowed_cap:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    # explode_OUTER, then drop the null rows: an inner explode lets the
    # optimizer infer `size(shingles) > 0 AND isnotnull(shingles)` and push
    # that filter below the repartition exchange into the scan — inlining
    # the whole words→hash→shingle lambda pipeline into an interpreted
    # per-row filter that re-evaluates the nested transform per element
    # (measured 22 s vs 0.5 s on 5 k docs at sf0.1). The outer variant
    # infers nothing; the post-filter touches only the generated column.
    # the doc's shingle count RIDES the posting list (doc, s, sz): the
    # intersection agg then has both set sizes in hand and Jaccard needs
    # no join back to a per-doc size table — that join costs a shuffle of
    # the pair aggregate at any scale (the size table is corpus-sized at
    # 100 TB, so broadcasting it is not an option); two extra ints per
    # posting row is noise next to the pair shuffle it replaces
    posting = sh.select(
        "doc", F.size("shingles").alias("sz"),
        F.explode_outer("shingles").alias("s"),
    ).filter(F.col("s").isNotNull())
    if prefix_filter:
        # the prefix branch needs explicit per-shingle counts for the
        # global rarity order, so the hot cap rides the same aggregate
        counts = posting.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
        if max_posting_list is not None:
            hot = counts.filter(F.col("cnt") > max_posting_list)
            posting = posting.join(F.broadcast(hot.select("s")), "s",
                                   "left_anti")
    elif max_posting_list is not None:
        # hot-shingle cap as a COUNT WINDOW over partitionBy(s): the
        # self-join below shuffles both sides on s anyway, and both
        # sides are the identical windowed subplan, so Catalyst reuses
        # ONE exchange — this replaces a separate counts aggregation +
        # broadcast anti-join (two jobs + a driver-side broadcast
        # build) with zero extra shuffles. Semantics identical
        # (differential-tested); measured ~8% on the q16 lane at sf0.1.
        # Persisted: exchange reuse covers only the SHUFFLE — the window
        # sort above it would still run once per self-join side; the
        # cache runs it once (r9: q16 p50 1.41 → 0.99 s at sf0.1)
        posting = (posting.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("s")))
            .filter(F.col("cnt") <= max_posting_list).drop("cnt")
            .persist(StorageLevel.MEMORY_AND_DISK))

    if prefix_filter:
        # global order (cnt asc, s asc) is identical for every doc — the
        # prefix theorem requires ONE total order, and frequency-ascending
        # makes the prefix the RARE end of each list
        ranked = (
            posting.join(counts, "s")
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("doc").orderBy(
                        F.col("cnt").asc(), F.col("s").asc())),
            )
        )
        pre = ranked.filter(
            F.col("rk")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        ).select("doc", "s")
        pa_, pb_ = pre.alias("a"), pre.alias("b")
        # persist: the candidate frame feeds THREE consumers (doc-side
        # restriction twice via the union, and the pair filter) — without
        # the barrier each one re-runs the rank window + prefix self-join,
        # and wrapping the recomputed subplan in explicit broadcasts held
        # three copies of that work in heap at once (OOM'd at sf0.1).
        # Join strategy is left to the optimizer: candidates are bounded
        # by the near-dup rate, so AQE broadcasts them when small and
        # falls back to a bounded shuffle join when not — never a
        # heap-sized requirement
        cand = (
            pa_.join(pb_, (F.col("a.s") == F.col("b.s"))
                     & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("doc_a"),
                    F.col("b.doc").alias("doc_b"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc"))
            .union(cand.select(F.col("doc_b").alias("doc")))
            .distinct()
        )
        posting = posting.join(cand_docs, "doc")
        a, b = posting.alias("a"), posting.alias("b")
        pairs = (
            a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("doc_a"),
                    F.col("b.doc").alias("doc_b"),
                    F.col("a.sz").alias("sz_a_raw"),
                    F.col("b.sz").alias("sz_b_raw"))
            .join(cand, ["doc_a", "doc_b"])
        )
        inter = pairs.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("sz_a_raw").alias("sz_a"),
            F.min("sz_b_raw").alias("sz_b"),
        )
    else:
        a, b = posting.alias("a"), posting.alias("b")
        inter = (
            a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.min(F.col("a.sz")).alias("sz_a"),
                F.min(F.col("b.sz")).alias("sz_b"),
            )
        )
    out = (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    from arc_spark.cacheutil import register_cache

    if prefix_filter:
        register_cache(sh, cand)
    elif windowed_cap:
        register_cache(posting)
    else:
        register_cache(sh)
    return out


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# --- bit-exact numpy xxhash64 (Spark XXH64, seed-chained) ----------------
# Spark's xxhash64(i, s) over (INT i, BIGINT s) is hashLong(s,
# hashInt(i, 42)) with the XXH64 short-input formulas — a fixed sequence
# of uint64 mul/rot/xor, fully vectorizable. The numpy path below
# produces BIT-IDENTICAL signatures to the transform()/array_min()
# expression (differentially fuzzed in tests/test_properties.py), so
# swapping implementations never changes buckets, stored indexes, or
# streaming state compatibility.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _numpy_band_buckets(mins, bands: int):
    """LSH band buckets from a signature matrix: ``buckets[bi] =``
    chained XXH64.hashLong (seed 42) over the band's ``r`` consecutive
    signature slots — the vectorized twin of :func:`_band_rows`'
    ``xxhash64(slot, …, slot)`` Catalyst expression, called by the
    shingle kernel (:func:`_minhash_numpy_gen`) when it emits band
    buckets for :func:`_bucket_rows_from_shingled`; bit-identity with
    :func:`_band_rows` is fuzz-locked in ``tests/test_properties.py``
    (``test_kernel_buckets_equal_expr_band_rows``).

    ``mins``: (num_hashes, n) uint64 signature matrix (column-per-doc).
    Returns a (bands, n) uint64 bucket matrix. Caller guarantees a
    valid band geometry (:func:`_validate_band_geometry`) and an
    ``errstate(over="ignore")`` context (uint64 wraparound is the hash)."""
    import numpy as np

    P1 = np.uint64(_XXH_P1)
    P2 = np.uint64(_XXH_P2)
    P3 = np.uint64(_XXH_P3)
    P4 = np.uint64(_XXH_P4)
    P5 = np.uint64(_XXH_P5)
    num_hashes = mins.shape[0]
    n = mins.shape[1]
    r_per = num_hashes // bands
    hl_init = P5 + np.uint64(8)
    bk = np.empty((bands, n), np.uint64)
    for bi in range(bands):
        hb = np.full(n, np.uint64(42), np.uint64)
        for j in range(r_per):
            k1b = mins[bi * r_per + j] * P2
            k1b = ((k1b << np.uint64(31))
                   | (k1b >> np.uint64(33))) * P1
            hb += hl_init
            hb ^= k1b
            hb = ((hb << np.uint64(27))
                  | (hb >> np.uint64(37))) * P1 + P4
            hb ^= hb >> np.uint64(33)
            hb *= P2
            hb ^= hb >> np.uint64(29)
            hb *= P3
            hb ^= hb >> np.uint64(32)
        bk[bi] = hb
    return bk


def _xxh64_int_scalar(i: int, seed: int) -> int:
    """Spark XXH64.hashInt for one INT value (driver-side, per seed)."""
    m = (1 << 64) - 1
    h = (seed + _XXH_P5 + 4) & m
    h ^= ((i & 0xFFFFFFFF) * _XXH_P1) & m
    h = ((((h << 23) | (h >> 41)) & m) * _XXH_P2 + _XXH_P3) & m
    h ^= h >> 33
    h = (h * _XXH_P2) & m
    h ^= h >> 29
    h = (h * _XXH_P3) & m
    h ^= h >> 32
    return h


def _minhash_numpy_gen(num_hashes: int, extra_cols: tuple,
                       bands: int | None = None):
    """mapInPandas generator: vectorized minhash signatures.

    Per Arrow batch: concatenate all shingle arrays into one uint64
    vector, compute the shingle-dependent half of XXH64.hashLong once
    (k1 = rotl31(s·P2)·P1), then loop the ``num_hashes`` seeds with
    in-place uint64 kernels and take per-doc segment minima via
    ``np.minimum.reduceat``. ~24× less CPU than the interpreted
    nested-HOF expression (0.42 s vs ~10 s CPU for 128×260k at sf0.1)
    because Catalyst evaluates higher-order lambdas per ELEMENT in
    interpreted mode — they never enter whole-stage codegen.

    ``bands`` set (r14): emit the LSH band BUCKETS instead of the
    signature — ``buckets[i] = xxhash64(sig[r·i], …, sig[r·i+r-1])``
    (Spark's seed-42 chained XXH64.hashLong over the slot values,
    bit-identical to the ``_band_rows`` Catalyst expression, so index
    rows built either way still join). For a consumer that only bands
    (minhash_lsh_pairs: both the verify and estimate forms use ``sig``
    for nothing else), this halves the Arrow return payload at the
    default 128/64 (64 longs/doc vs 128) and deletes the interpreted
    per-row band transform. NULL/empty shingles → NULL buckets, same
    contract as ``sig``."""
    seeds = [_xxh64_int_scalar(i, 42) for i in range(num_hashes)]

    def gen(batches):
        import numpy as np

        P1 = np.uint64(_XXH_P1)
        P2 = np.uint64(_XXH_P2)
        P3 = np.uint64(_XXH_P3)
        P4 = np.uint64(_XXH_P4)
        P5 = np.uint64(_XXH_P5)
        c64 = np.uint64(64)
        seed_base = np.array(seeds, np.uint64) + P5 + np.uint64(8)
        with np.errstate(over="ignore"):
            for pdf in batches:
                import pandas as pd

                cells = pdf["shingles"].to_numpy()
                n = len(pdf)
                # empty arrays are treated like NULL (sig/sz NULL), not
                # just skipped by the reducer: np.minimum.reduceat on a
                # zero-length segment silently returns the NEXT doc's
                # first element, and an empty trailing segment raises
                # (starts[-1] == len(flat)). Unreachable via _shingled
                # (it emits NULL, never [], for <k-word docs) but the
                # numpy path is the default for every minhash entry
                # point, so a future caller with [] must not get a
                # silently corrupt signature (r12 advice).
                live = [j for j in range(n)
                        if cells[j] is not None and len(cells[j]) > 0]
                sig_out = [None] * n
                sz_out = [None] * n
                if live:
                    lens = np.array([len(cells[j]) for j in live],
                                    np.int64)
                    flat = (np.concatenate([cells[j] for j in live])
                            .astype(np.int64).view(np.uint64))
                    starts = np.zeros(len(live), np.int64)
                    np.cumsum(lens[:-1], out=starts[1:])
                    # shingle-dependent half of hashLong, computed once
                    k1 = flat * P2
                    tmp = np.empty_like(k1)
                    np.left_shift(k1, np.uint64(31), out=tmp)
                    np.right_shift(k1, np.uint64(33), out=k1)
                    np.bitwise_or(k1, tmp, out=k1)
                    k1 *= P1
                    h = np.empty_like(k1)
                    mins = np.empty((num_hashes, len(live)), np.uint64)
                    for si in range(num_hashes):
                        np.bitwise_xor(seed_base[si], k1, out=h)
                        np.left_shift(h, np.uint64(27), out=tmp)
                        np.right_shift(h, np.uint64(37), out=h)
                        np.bitwise_or(h, tmp, out=h)
                        h *= P1
                        h += P4
                        np.right_shift(h, np.uint64(33), out=tmp)
                        h ^= tmp
                        h *= P2
                        np.right_shift(h, np.uint64(29), out=tmp)
                        h ^= tmp
                        h *= P3
                        np.right_shift(h, np.uint64(32), out=tmp)
                        h ^= tmp
                        # array_min is a SIGNED long min; order uint64
                        # by the signed key via a sign-bit flip
                        h ^= np.uint64(1 << 63)
                        mins[si] = np.minimum.reduceat(h, starts)
                    mins ^= np.uint64(1 << 63)
                    if bands is None:
                        sig_mat = mins.view(np.int64).T
                        for row, j in enumerate(live):
                            sig_out[j] = sig_mat[row]
                            sz_out[j] = int(lens[row])
                    else:
                        bk_mat = (_numpy_band_buckets(mins, bands)
                                  .view(np.int64).T)
                        for row, j in enumerate(live):
                            sig_out[j] = bk_mat[row]
                out = {"doc": pdf["doc"]}
                for c in extra_cols:
                    out[c] = pdf[c]
                if bands is None:
                    out["sig"] = pd.Series(sig_out, dtype=object)
                    out["sz"] = pd.Series(sz_out, dtype="Int32")
                else:
                    out["buckets"] = pd.Series(sig_out, dtype=object)
                yield pd.DataFrame(out)

    return gen


def _signatures_from_shingled(sh: DataFrame, num_hashes: int,
                              extra_cols: tuple = ()) -> DataFrame:
    """(doc, sig, sz) from a _shingled frame.

    Hash family i = xxhash64(seed=i, shingle) — genuinely independent
    slots. num_hashes passes over a LONG array are cheap (longs hash in a
    few ns; this was only costly when shingles were strings). Do NOT
    replace this with Kirsch–Mitzenmacher double hashing (h1 + i·h2): for
    large i the argmin converges to argmin(h2), collapsing the family to
    ~2 effective functions — it systematically missed true near-dup pairs
    at j=0.98 (found by the sf0.1 oracle diff; KM's guarantees are for
    Bloom membership, not minwise independence).
    NULL shingles (short docs) propagate to a NULL signature.
    NOTE: one SQL expr, not stacked F.transform lambdas — PySpark's
    Python-side lambda variables collide when many transforms share one
    projection, silently collapsing all signature slots to one value.

    The slot index is DATA (``transform(sequence(0, n-1), i -> ...)``), not
    128 unrolled expressions: the generated code is two tight nested loops
    instead of a multi-thousand-line class, which cuts the one-time codegen
    /JIT cost of the first execution several-fold while producing bit-
    identical signatures (xxhash64(i, s) hashes the same INT i either way).

    r12: the DEFAULT implementation is now the vectorized numpy twin
    (:func:`_minhash_numpy_gen` via ``mapInPandas``) — higher-order
    lambdas are interpreted per element in Catalyst (never codegen'd),
    and the signature pass was q17's largest CPU block. The numpy path
    is BIT-IDENTICAL (same XXH64 formulas, differentially fuzzed), so
    stored indexes, streaming state, and band buckets are unaffected;
    ``ARC_MINHASH_IMPL=expr`` restores the expression path (also the
    differential-test oracle)."""
    import os as _os

    if _os.environ.get("ARC_MINHASH_IMPL", "numpy") == "numpy":
        from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                       StructField, StructType)

        fields = [sh.schema["doc"]]
        fields += [sh.schema[c] for c in extra_cols]
        fields += [StructField("sig", ArrayType(LongType()), True),
                   StructField("sz", IntegerType(), True)]
        return sh.mapInPandas(_minhash_numpy_gen(num_hashes, extra_cols),
                              StructType(fields))
    # NULL shingles → NULL sig (not an array of NULL slots — r12 fix:
    # the slot-wise NULL array passed the isNotNull band guard and gave
    # every <k-word doc the same all-null-input bucket xxhash64()=42 in
    # EVERY band, silently making all short docs pairwise candidates:
    # correct output (verify drops them — NULL jaccard / zero slot
    # agreement) but a c² candidate blowup at corpus scale. A true NULL
    # makes the band explode emit nothing, which is what every
    # docstring in this family already claimed.)
    sig = F.expr(
        f"CASE WHEN shingles IS NULL THEN NULL ELSE"
        f" transform(sequence(0, {num_hashes - 1}),"
        " i -> array_min(transform(shingles, s -> xxhash64(i, s)))) END"
    )
    extra = [F.col(c) for c in extra_cols]
    return sh.select("doc", *extra, sig.alias("sig"),
                     F.size("shingles").alias("sz"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """(doc, signature array<long>) — num_hashes independent min-hashes,
    computed in a single codegen'd projection over the shingle array
    (no explode, no shuffle)."""
    return _signatures_from_shingled(_shingled(df, id_col, text_col, k), num_hashes)


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """The persistable corpus dedup INDEX: ``(doc, sig array<long>,
    sz)`` — one row and ~``8·num_hashes`` bytes per document (≈1 KB at
    the default 128 hashes), computed in a single codegen'd projection
    (no shuffle). Write it as a measurement/parquet table once per
    corpus snapshot; :func:`dedup_against_index` then dedups every new
    shard against it WITHOUT touching the corpus text again, and
    appending a new shard to the index is a plain union/append of its
    own ``minhash_index`` output (signatures are per-doc, order-free).
    This is the incremental posture a 100 TB corpus needs: the corpus
    text is read once ever per doc, and each arriving shard costs
    O(shard + matches).

    NULL ``sig`` rows (docs with <k words) are retained so the index is
    a complete doc inventory; they can never band-match (the band
    explode drops them), matching :func:`minhash_lsh_pairs` semantics.
    """
    return _signatures_from_shingled(
        _shingled(df, id_col, text_col, k), num_hashes)


def _band_rows(sigs: DataFrame, num_hashes: int, bands: int,
               extra_cols: tuple = ()) -> DataFrame:
    """(doc, band, bucket) LSH band rows from a (doc, sig) frame — the
    same band formulation as :func:`minhash_lsh_pairs` (bit-identical
    buckets, so index rows and query rows can be built by different
    processes/releases and still join)."""
    r = num_hashes // bands
    band_arr = F.expr(
        f"transform(sequence(0, {bands - 1}), i -> xxhash64("
        + ",".join(f"element_at(sig, {r} * i + {j + 1})" for j in range(r))
        + "))"
    )
    return sigs.select(
        "doc",
        *[F.col(c) for c in extra_cols],
        F.posexplode_outer(
            F.when(F.col("sig").isNotNull(), band_arr)
        ).alias("band", "bucket"),
    ).filter(F.col("bucket").isNotNull())


def _validate_band_geometry(num_hashes: int, bands: int) -> None:
    """ADVICE r14: the kernel bands path silently degenerates when
    bands > num_hashes (r_per = num_hashes // bands == 0 leaves every
    live doc at the seed bucket 42 in every band — an O(n²) candidate
    blowup), while the sig/Catalyst fallback fails loudly (zero-arg
    xxhash64 is an analysis error). Make BOTH paths fail loudly and
    identically on the misconfiguration."""
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"band geometry requires 1 <= bands <= num_hashes, got "
            f"bands={bands}, num_hashes={num_hashes}")


def _bucket_rows_from_shingled(sh: DataFrame, num_hashes: int, bands: int,
                               extra_cols: tuple = ()) -> DataFrame:
    """(doc, band, bucket) straight from a _shingled frame, with the
    band buckets computed INSIDE the numpy signature kernel (r14).

    For a consumer that never reads the signature itself —
    :func:`minhash_lsh_pairs` bands and discards ``sig`` in both its
    verify and estimate forms — returning buckets instead of signatures
    halves the kernel's Arrow return payload at the default 128/64 (64
    vs 128 longs per doc) and deletes the interpreted per-row band
    transform (r = 2 chained xxhash64 calls × 64 bands per row, never
    codegen'd). The r12 A/B that refuted kernel-side banding emitted
    EXPLODED (doc, band, bucket) ROWS — n·bands rows crossing Arrow
    (~410 MB at 320k docs) — this form returns one bands-length ARRAY
    per doc (~half the sig payload) and leaves the explode in the JVM.

    Buckets are bit-identical to :func:`_band_rows` over
    :func:`_signatures_from_shingled` (differential lock:
    tests/test_properties.py::TestKernelBucketsDifferential), so index
    and query rows built by either path still join.

    ``ARC_MINHASH_IMPL=expr`` or ``ARC_LSH_BUCKET_SRC=sig`` falls back
    to the signature + Catalyst-band composition (also the
    differential-test oracle)."""
    import os as _os

    _validate_band_geometry(num_hashes, bands)

    if (_os.environ.get("ARC_MINHASH_IMPL", "numpy") != "numpy"
            or _os.environ.get("ARC_LSH_BUCKET_SRC", "kernel") != "kernel"):
        return _band_rows(
            _signatures_from_shingled(sh, num_hashes, extra_cols),
            num_hashes, bands, extra_cols)
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    fields = [sh.schema["doc"]]
    fields += [sh.schema[c] for c in extra_cols]
    fields += [StructField("buckets", ArrayType(LongType()), True)]
    bks = sh.mapInPandas(
        _minhash_numpy_gen(num_hashes, extra_cols, bands=bands),
        StructType(fields))
    return bks.select(
        "doc",
        *[F.col(c) for c in extra_cols],
        F.posexplode_outer("buckets").alias("band", "bucket"),
    ).filter(F.col("bucket").isNotNull())


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.5,
    corpus: DataFrame | None = None,
    corpus_id_col: str | None = None,
    corpus_text_col: str | None = None,
) -> DataFrame:
    """Near-dups of a NEW shard against an existing :func:`minhash_index`
    — incremental corpus dedup. Returns ``(new_doc, index_doc,
    jaccard)``.

    The new shard's signatures/bands are computed fresh (one pass over
    the shard text); the index side's band rows derive from its STORED
    signatures — the corpus text is never re-read. Candidates are band
    matches; ``num_hashes``/``k`` must match the index build (the band
    join is only meaningful between identically-built signatures).

    Verification:
    - ``corpus=None``: ``jaccard`` is the MinHash slot-agreement
      estimate (matching slots / num_hashes — the standard unbiased
      estimator), entirely index-contained: no corpus access at all.
      Estimator std-dev is ~sqrt(j(1-j)/num_hashes) ≈ 0.04 at the
      defaults, so thresholds are soft by that margin.
    - ``corpus`` given: EXACT Jaccard, verified by shingling ONLY the
      candidate corpus docs (semi-join on the candidate ids — cost
      follows the match rate, not the corpus). Combined with banding's
      1-(1-j^r)^b recall this makes the result ≡ the exact cross-corpus
      operator w.h.p., same guarantee as :func:`minhash_lsh_pairs`.

    Scale shape: shard-sized shingle scan, band equi-join (index side
    hash-partitioned on (band, bucket); AQE broadcasts the shard side
    when small), candidate-bounded verify. No corpus-sized shuffle
    anywhere.
    """
    from pyspark import StorageLevel

    _validate_band_geometry(num_hashes, bands)
    new_sh = _shingled(new_df, id_col, text_col, k)
    exact = corpus is not None
    if exact:
        new_sh = new_sh.persist(StorageLevel.MEMORY_AND_DISK)
        # exact path: the shard's signatures feed NOTHING but the band
        # explode (verification re-reads the exact shingles), so the
        # buckets come straight from the kernel (r14,
        # _bucket_rows_from_shingled: half the Arrow return payload, no
        # interpreted band transform). The INDEX side must keep banding
        # its STORED signatures — kernel buckets are bit-identical
        # (differential-locked) so the band join is unaffected.
        nb = _bucket_rows_from_shingled(new_sh, num_hashes, bands)
    else:
        # the estimate path consumes the shard's signature pipeline
        # twice (band explode AND the sig_a scoring join) — persist the
        # signatures so the scan→shingle→minhash projection runs once
        # (the exact path persists the shingles for the same reason)
        new_sigs = _signatures_from_shingled(new_sh, num_hashes)
        new_sigs = new_sigs.persist(StorageLevel.MEMORY_AND_DISK)
        nb = _band_rows(new_sigs, num_hashes, bands)
    # index-side banding stays the Catalyst expression (r15 REFUTED
    # A/B, scripts/q80_sigbucket_ab_r15.py): a numpy sig→buckets kernel
    # loses at EVERY measured index size (4k rows: 0.21 vs 0.46 s; 256k
    # rows: min 1.1 vs 4.1 s) — chained xxhash64 over longs is cheap
    # even interpreted, while the kernel pays the full Arrow transfer
    # of the stored signatures plus per-row object assembly. The r14
    # shard-side kernel win came from HALVING an already-paid crossing;
    # there is no crossing to halve here.
    ib = _band_rows(index.select("doc", "sig"), num_hashes, bands)
    cands = (
        nb.alias("n").join(
            ib.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(F.col("n.doc").alias("new_doc"),
                F.col("i.doc").alias("index_doc"))
        .distinct()
    )
    if not exact:
        est = F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
            " 0, (acc, v) -> acc + v)")
        out = (
            cands
            .join(new_sigs.select(F.col("doc").alias("new_doc"),
                                  F.col("sig").alias("sig_a")), "new_doc")
            .join(index.select(F.col("doc").alias("index_doc"),
                               F.col("sig").alias("sig_b")), "index_doc")
            .withColumn("jaccard",
                        est.cast("double") / F.lit(float(num_hashes)))
            .filter(F.col("jaccard") >= threshold)
            .select("new_doc", "index_doc", "jaccard")
        )
        from arc_spark.cacheutil import register_cache

        register_cache(new_sigs)
        return out
    cid = corpus_id_col or id_col
    ctxt = corpus_text_col or text_col
    # shingle ONLY candidate corpus docs: semi-join before the tokenize
    # pipeline, so verify cost follows the match rate, not the corpus
    cand_ids = cands.select(F.col("index_doc").alias(cid)).distinct()
    cor_sh = _shingled(corpus.join(cand_ids, cid, "semi"), cid, ctxt, k)
    # candidates are bounded by the shard's near-dup rate — broadcast
    # them so both verify joins stream the shingle frames shuffle-free
    # (the minhash_lsh_pairs verify pattern)
    bc = F.broadcast(cands)
    out = (
        bc.join(new_sh.withColumnsRenamed(
            {"doc": "new_doc", "shingles": "sh_a"}), "new_doc")
        .join(cor_sh.withColumnsRenamed(
            {"doc": "index_doc", "shingles": "sh_b"}), "index_doc")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter"))
            .cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc", "index_doc", "jaccard")
    )
    from arc_spark.cacheutil import register_cache

    register_cache(new_sh)
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.5,
    verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, optionally verified with the exact
    Jaccard of the shingle sets.

    rows_per_band = num_hashes // bands; a pair lands in a candidate bucket
    with probability 1-(1-j^r)^b — with r=2,b=64 a pair at j=0.5 is missed
    w.p. ~1e-8, so verified output ≡ the exact operator's output w.h.p.
    while scaling as O(n·bands) instead of O(n²).
    """
    _validate_band_geometry(num_hashes, bands)
    # one shingle scan serves both the band buckets and the exact-verify
    # step (recomputing it would repeat the full tokenize+hash pipeline);
    # without the verify pass there is no second consumer, so skip the
    # persist
    sh_shared = _shingled(df, id_col, text_col, k)
    if verify:
        sh_shared = sh_shared.persist()
    # Band buckets come straight from the signature kernel (r14): this
    # operator uses `sig` for NOTHING but banding (verify re-reads the
    # exact shingles; the estimate form returns candidates as-is), so
    # returning the bands-length bucket array instead of the signature
    # halves the kernel's Arrow payload and deletes the interpreted
    # per-row band transform. NULL-signature docs (<k words) generate no
    # band rows — buckets is a true NULL, the posexplode_outer emits a
    # single (null, null) row, and the bucket filter drops it.
    # MEASURED NON-CHANGE (r12), still honored: emitting EXPLODED
    # (doc, band, bucket) ROWS from the kernel LOSES (factor-64 A/B:
    # 10.2 s vs 8.0 warm — n·bands rows ≈ 410 MB across Arrow at 320k
    # docs vs 330 MB of sig arrays). The r14 form returns one
    # bands-length ARRAY per doc (~165 MB at the same factor) and
    # leaves the explode in the JVM — smaller than both measured
    # points; buckets stay bit-identical (differential-locked).
    band_rows = _bucket_rows_from_shingled(sh_shared, num_hashes, bands)
    # candidates via group-pairs, not a band-rows self-join (r12): the
    # self-join planned as a broadcast/shuffle join whose two sides each
    # re-derive the FULL signature pipeline from the persisted shingles
    # (no exchange reuse across asymmetric join sides) — the group
    # formulation computes signatures once and shuffles the O(n·bands)
    # band rows once. In-bucket pair generation is the same quadratic
    # the join did per bucket (LSH buckets are 64-bit random — only true
    # near-dup clusters collide, and a c-doc cluster owes c² candidates
    # under either formulation).
    # In-bucket pairs stream as ROWS (two chained generates), never as
    # one materialized c²-element array (r12 advice): dedup corpora
    # routinely contain huge exact-duplicate clusters that collide in
    # EVERY band, and the old nested transform/flatten built all c²
    # pairs as a single array in a single row — past Spark's 2³¹
    # array-element hard limit at c≈65k docs, and GBs in one row well
    # before that. posexplode + slice emits the same ordered pairs one
    # row at a time, spillable like any other generate output. Inner
    # generates are safe here (no pushdown hazard: ds is born from an
    # aggregation, which is already an optimizer barrier — nothing can
    # be inlined below the shuffle). least/greatest normalizes to the
    # value order the old `doc_a < doc_b` filter produced; a doc
    # appears at most once per (band,bucket) so equal pairs can't
    # arise.
    cands = (
        band_rows.groupBy("band", "bucket")
        .agg(F.collect_list("doc").alias("ds"))
        .filter(F.size("ds") >= 2)
        .select("ds", F.posexplode("ds").alias("i", "a"))
        .select(
            "a",
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)"))
            .alias("b"),
        )
        .select(F.least("a", "b").alias("doc_a"),
                F.greatest("a", "b").alias("doc_b"))
        .distinct()
    )
    if not verify:
        return cands
    # exact verification on candidates only: intersect shingle sets,
    # reusing the persisted shingle frame from the signature pass.
    # The candidate side broadcasts: LSH output is bounded by the near-dup
    # rate (≪ corpus), so both verify joins stream the shingle frame with
    # no shuffle — the corpus side is never broadcast.
    sh = sh_shared
    cands = F.broadcast(cands)
    verified = (
        cands.join(sh.withColumnsRenamed({"doc": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc": "doc_b", "shingles": "sh_b"}), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    from arc_spark.cacheutil import register_cache

    register_cache(sh_shared)
    return verified


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """64-bit SimHash per document.

    token hashes → per-bit majority vote. Implemented as `bits` array-filter
    expressions over the token-hash array (still one codegen'd projection per
    row; O(bits·tokens) per row, no shuffle at all).
    """
    spark = df.sparkSession
    # repartition first (CPU-bound projection, see _shingled); no row filter —
    # split() never yields an empty array (worst case [""]), and a filter on
    # the computed column would be predicate-pushed into the scan anyway.
    toks = df.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("doc"),
        F.transform(words(text_col), lambda w: F.xxhash64(w)).alias("hs"),
    )
    # per-bit majority vote as one nested-lambda SQL expression (see the
    # minhash note re: PySpark lambda collisions). shiftleft(1L, 63) wraps to
    # the sign bit, which is exactly the two's-complement encoding we want.
    sh = F.expr(
        f"""aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT),
            (acc, b) -> acc + IF(
                size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) * 2 >= size(hs),
                shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))"""
    )
    return toks.select("doc", sh.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    tables: int = 4,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming.

    Candidate generation: split the 64-bit hash into `tables` 16-bit blocks;
    by pigeonhole any pair within distance `tables-1` shares at least one
    exact block → equi-join per block (shuffle on block value), then verify
    with bit_count(a XOR b). Scales as O(n·tables), not O(n²).
    """
    hs = simhash(df, id_col, text_col).cache()
    width = 64 // tables
    blocks = hs.select(
        "doc", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                for i in range(tables)
            ])
        ).alias("block_idx", "block"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return cands.filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------

def cross_overlap_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_shared: int = 5,
    max_posting_list: int | None = 1000,
) -> DataFrame:
    """(left_doc, right_doc, n_shared): pairs across two corpora sharing at
    least ``min_shared`` word-k-gram shingles — benchmark DECONTAMINATION:
    ``left`` = training corpus, ``right`` = eval/benchmark set; any hit is
    a train doc to drop or flag.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` but the join
    is across two posting lists, so cost is Σ_s |L_s|·|R_s| — the
    benchmark side is small in practice, making this near-linear in the
    training corpus. Both shingle frames are persisted (multi-branch use +
    optimizer barrier, see ngram_jaccard_pairs).
    """
    from pyspark import StorageLevel

    sh_l = _shingled(left, id_col, text_col, k).persist(StorageLevel.MEMORY_AND_DISK)
    sh_r = _shingled(right, id_col, text_col, k).persist(StorageLevel.MEMORY_AND_DISK)

    def _posting(sh: DataFrame) -> DataFrame:
        return sh.select(
            "doc", F.explode_outer("shingles").alias("s")
        ).filter(F.col("s").isNotNull())

    pl, pr = _posting(sh_l), _posting(sh_r)
    if max_posting_list is not None:
        hot = pl.groupBy("s").count().filter(F.col("count") > max_posting_list)
        pl = pl.join(F.broadcast(hot.select("s")), "s", "left_anti")
    out = (
        pl.alias("l")
        .join(pr.alias("r"), F.col("l.s") == F.col("r.s"))
        .groupBy(
            F.col("l.doc").alias("left_doc"), F.col("r.doc").alias("right_doc")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    from arc_spark.cacheutil import register_cache

    register_cache(sh_l, sh_r)
    return out


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    digits: int = 4,
    method: str = "block",
    n_blocks: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact).

    method="block" (default): blocked matrix product. Vectors hash into
    ``n_blocks`` blocks; each of the B(B+1)/2 block pairs is one
    `applyInPandas` group computing a single numpy GEMM over its two
    sub-matrices. EXACT results (every pair is scored — blocking
    partitions the pair space, it does not prune it) with vectorized
    arithmetic instead of a per-pair interpreted lambda fold — measured
    52 s → <1 s on 2 k×128-d vectors. This is the 100 TB shape: data
    replication is O(n·B), each task is one dense GEMM, and B scales the
    block size to executor memory. The pair space stays quadratic — that
    is inherent to exact all-pairs; for sub-quadratic candidates use
    :func:`arc_spark.operators.similarity.lsh_bucketed_topk` first.

    method="allpairs": the pure-Catalyst formulation (self-join + codegen
    cosine). Engine-only path with zero Python, right for small corpora
    or when Arrow transfer is unavailable.
    """
    if method == "allpairs":
        base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        a, b = base.alias("a"), base.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                cosine_similarity(F.col("a.v"), F.col("b.v"), digits).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    spark = df.sparkSession
    if n_blocks is None:
        n_blocks = max(spark.sparkContext.defaultParallelism // 2, 4)
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    bp = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    rows_a = base.join(F.broadcast(bp), F.col("blk") == F.col("bi")).select(
        "bi", "bj", "id", "v", F.lit("a").alias("side")
    )
    rows_b = base.join(F.broadcast(bp), F.col("blk") == F.col("bj")).select(
        "bi", "bj", "id", "v", F.lit("b").alias("side")
    )
    scale = 10 ** digits

    def score(key, pdf):
        import numpy as np
        import pandas as pd

        from arc_spark.functions.threads import pin_math_threads

        pin_math_threads()
        empty = pd.DataFrame({
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        })
        bi, bj = key
        pa = pdf[pdf["side"] == "a"]
        if pa.empty:
            return empty
        A = np.vstack(pa["v"].to_numpy())
        ida = pa["id"].to_numpy()
        if bi == bj:
            B, idb = A, ida
        else:
            pb = pdf[pdf["side"] == "b"]
            if pb.empty:
                return empty
            B = np.vstack(pb["v"].to_numpy())
            idb = pb["id"].to_numpy()
        S = (A @ B.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
        )
        # round half-away-from-zero to match the engines' round(x, 4)
        # (np.round would tie-to-even)
        S = np.sign(S) * np.floor(np.abs(S) * scale + 0.5) / scale
        ii, jj = np.nonzero(S >= threshold)
        if bi == bj:
            keep = ii < jj  # each unordered pair once, no self-pairs
            ii, jj = ii[keep], jj[keep]
        id_a, id_b = ida[ii], idb[jj]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": S[ii, jj]})

    return (
        rows_a.unionByName(rows_b)
        .groupBy("bi", "bj")
        .applyInPandas(score, "id_a long, id_b long, cosine double")
    )


# --------------------------------------------------------------------------
# duplicated-window fraction (exact-substring dedup measure)
# --------------------------------------------------------------------------

def duplicated_window_fraction(
    df: DataFrame,
    window: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 4,
) -> DataFrame:
    """Per-document duplicated-substring measure: the fraction of a doc's
    length-``window`` token windows that also occur in ≥ ``min_docs``
    distinct documents.

    This is the Spark-shaped version of exact-substring training-data
    dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): a corpus-wide suffix array is replaced by fixed-length
    window fingerprints — every length-w token window is a candidate
    duplicated span, and a doc whose windows are mostly shared verbatim
    with other docs is boilerplate/copy. Output: (doc_id, n_windows,
    dup_windows, dup_frac).

    Scale shape: one explode (windows), one groupBy on the window string
    (inverted index — map-side combine applies), one shuffle join back.
    No pairs are ever materialized, so cost is linear in total windows;
    at 100 TB hash the window string (xxhash64) instead of carrying text
    into the shuffle — kept as the raw string here for cross-engine
    oracle parity. The computed-array explode uses explode_outer + an
    isNotNull filter (the optimizer would otherwise clone the whole
    lambda pipeline below the exchange as a per-row filter)."""
    norm = f"lower(regexp_replace(trim({text_col}), '\\\\s+', ' '))"
    # repartition first: corpora often arrive as few large files and the
    # window build is a CPU-bound projection (same rationale as
    # _shingled); without it 5k docs window on ONE core
    n = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(n).select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({norm}, ' ')").alias("w"),
    ).filter(F.size("w") >= window)
    wins = base.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(w) - {window - 1}), "
            f"i -> array_join(slice(w, i, {window}), ' '))"
        ).alias("wins"),
    )
    from pyspark import StorageLevel

    # persist: ex feeds BOTH the count branch and the join back — without
    # the barrier the split→transform pipeline runs twice and the
    # optimizer pushes inferred not-null constraints into the scan with
    # the lambda pipeline inlined (the ngram_jaccard lesson)
    ex = (
        wins.select("doc_id", F.explode_outer("wins").alias("s"))
        .filter(F.col("s").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = ex.groupBy("s").agg(F.countDistinct("doc_id").alias("nd"))
    out = (
        ex.join(counts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("nd") >= min_docs, 1).otherwise(0))
            .alias("dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_windows") / F.col("n_windows"), digits),
        )
    )
    from arc_spark.cacheutil import register_cache

    register_cache(ex)
    return out


# --------------------------------------------------------------------------
# corpus-level line dedup (C4/RefinedWeb boilerplate removal — a TRANSFORM,
# unlike duplicated_window_fraction's per-doc measure)
# --------------------------------------------------------------------------

def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    delimiter: str = "\n",
    normalize: bool = True,
) -> DataFrame:
    """Remove every line that occurs (normalized) in ≥ ``min_docs``
    distinct documents, reassembling each doc's surviving lines in their
    original order — the line-level corpus dedup of C4 ("three-sentence
    span" variant) and RefinedWeb (Penedo et al. 2023 §Line-wise
    corrections): navigation chrome, cookie banners, and footers repeat
    verbatim across pages and survive document-level dedup.

    Output: (id_col, text_col [cleaned], n_lines, lines_removed) — one
    row per input doc; a doc whose every line was boilerplate comes back
    with an empty string (callers typically drop or flag those). Matching
    uses the lowercased whitespace-collapsed line when ``normalize``
    (the emitted text keeps the ORIGINAL line bytes); empty/whitespace
    lines participate like any other — shared blank separator lines
    count as boilerplate once ``min_docs`` docs contain one.

    Scale shape (linear in total lines, no pairs): one posexplode, one
    groupBy on the line key (map-side combine applies), one join back,
    one per-doc regroup with an array_sort reassembly. ``delimiter`` is
    a LITERAL string (quoted with \\Q…\\E for the split), used verbatim
    for both split and reassembly; rows with NULL ``text_col`` are
    dropped. At 100 TB, key on ``xxhash64(line)`` instead of the
    raw string before the count shuffle — kept raw here for
    cross-engine oracle parity (same note as
    :func:`duplicated_window_fraction`). The exploded frame persists:
    it feeds both the count branch and the join back, and the cached
    relation is the usual optimizer barrier against the inferred
    not-null constraint being pushed below the exchange with the split
    pipeline inlined."""
    from pyspark import StorageLevel

    from arc_spark.cacheutil import register_cache

    n = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(n)
        .select(F.col(id_col).alias("__id"),
                # \Q...\E: the delimiter is a LITERAL for both the split
                # and the concat_ws reassembly — an unescaped regex here
                # would split on the pattern but re-join with the regex
                # SOURCE TEXT embedded in every cleaned doc (r10 review)
                F.split(F.col(text_col),
                        _regex_literal(delimiter)).alias("__ls"))
    )
    ex = base.select(
        "__id", F.size("__ls").alias("__n"),
        F.posexplode_outer("__ls").alias("__pos", "__line"),
    ).filter(F.col("__line").isNotNull())
    # the normalize class is Java's \s spelled out ([ \t\n\x0B\f\r]) so
    # the DuckDB oracle can pin the IDENTICAL set — RE2's \s lacks \x0B,
    # a latent cross-engine divergence (r10 review)
    key = (
        F.lower(F.regexp_replace(F.trim(F.col("__line")),
                                 "[ \t\n\x0B\f\r]+", " "))
        if normalize else F.col("__line")
    )
    ex = ex.withColumn("__k", key).persist(StorageLevel.MEMORY_AND_DISK)
    register_cache(ex)
    counts = ex.groupBy("__k").agg(
        F.countDistinct("__id").alias("__nd"))
    kept = ex.join(counts, "__k").filter(F.col("__nd") < min_docs)
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    # totals come off the persisted exploded frame, not `base`: deriving
    # them from base re-ran the source scan + the full-text repartition
    # exchange a second time (r10 review); __n rides ex for exactly this
    totals = ex.groupBy("__id").agg(F.first("__n").alias("__n"))
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.col("__n").cast("long").alias("n_lines"),
            (F.col("__n") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long").alias("lines_removed"),
        )
    )


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then cosine-prune in-cluster)
# --------------------------------------------------------------------------

def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): assign each
    embedding to its nearest centroid, then inside every cluster drop any
    vector that has a LOWER-id neighbor with cosine ≥ ``threshold``.
    Output: (vec_id, cid, kept).

    The greedy-by-id rule ("similar to any earlier vector → drop") is
    deterministic and engine-portable — no dependence on which duplicates
    were dropped before. Scale shape: nearest-centroid assignment is one
    corpus scan (broadcast centroids, Arrow-batched GEMM —
    :func:`arc_spark.operators.similarity.kmeans_assign`); pairwise
    scoring happens only WITHIN clusters (applyInPandas per cid, one
    dense GEMM each), so cost is Σ|cluster|² — the number of centroids is
    the knob that bounds cluster size, exactly the SemDeDup design."""
    import numpy as np

    cid_col = id_col
    rows = (
        centroids.select(
            F.col(cid_col).cast("long").alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .orderBy("cid")
        .collect()
    )
    if not rows:
        raise ValueError("semantic_dedup: empty centroid table")
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    scale = 10 ** digits

    src = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    from arc_spark.functions.threads import task_thread_budget

    budget = task_thread_budget(src)

    # FUSED assign+carry: one Python scan emits (vid, cid, v) so the
    # cluster key is born next to the vector — no join back to the
    # corpus (a second scan plus a shuffle) just to reunite them
    def assign(batches):
        from arc_spark.functions.threads import pin_math_threads

        pin_math_threads(budget)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
            out = pdf[["vid", "v"]].copy()
            out["cid"] = cids[d2.argmin(axis=1)]
            yield out

    assigned = src.mapInPandas(
        assign, "vid long, v array<double>, cid long")

    def prune(key, pdf):
        import pandas as pd

        from arc_spark.functions.threads import pin_math_threads

        pin_math_threads()
        pdf = pdf.sort_values("vid")
        ids = pdf["vid"].to_numpy()
        A = np.vstack(pdf["v"].to_numpy())
        norms = np.sqrt((A * A).sum(axis=1))
        S = (A @ A.T) / np.outer(norms, norms)
        # round half-away-from-zero to match round(x, digits) in SQL
        S = np.sign(S) * np.floor(np.abs(S) * scale + 0.5) / scale
        sim = S >= threshold
        # kept[i] ⟺ no j<i with sim(i,j); ids are sorted asc so the
        # strictly-lower triangle is exactly the lower-id neighbors
        dropped = np.tril(sim, k=-1).any(axis=1)
        return pd.DataFrame({
            "vec_id": ids,
            "cid": np.full(len(ids), key[0], dtype=np.int64),
            "kept": ~dropped,
        })

    return assigned.groupBy("cid").applyInPandas(
        prune, "vec_id long, cid long, kept boolean")
