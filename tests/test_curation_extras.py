"""Unit tests for the round-3 corpus-curation additions: windowed
exact-substring dup fraction, URL canonicalization, and SemDeDup-style
semantic dedup (q56/q57/q58's operators)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from arc_spark.functions.text import (
    normalize_url,
    normalize_url_df,
    normalize_url_sql,
)
from arc_spark.operators.dedup import (
    duplicated_window_fraction,
    semantic_dedup,
)


class TestDuplicatedWindowFraction:
    def test_shared_window_counts(self, spark):
        # docs 1/2 share the exact 5-token run "a b c d e"; doc 3 shares
        # nothing
        docs = spark.createDataFrame(
            [
                (1, "a b c d e x y"),
                (2, "z a b c d e"),
                (3, "p q r s t u v"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r.asDict()
               for r in duplicated_window_fraction(docs, window=5).collect()}
        # doc1: windows = [a b c d e, b c d e x, c d e x y] → 1 of 3 dup
        assert out[1]["n_windows"] == 3
        assert out[1]["dup_windows"] == 1
        assert out[1]["dup_frac"] == pytest.approx(0.3333)
        # doc2: [z a b c d, a b c d e] → 1 of 2
        assert out[2]["dup_windows"] == 1
        assert out[2]["dup_frac"] == 0.5
        assert out[3]["dup_windows"] == 0

    def test_short_docs_excluded(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c d e f")], "doc_id long, text string")
        out = duplicated_window_fraction(docs, window=5).collect()
        assert {r["doc_id"] for r in out} == {2}

    def test_whitespace_and_case_normalized(self, spark):
        docs = spark.createDataFrame(
            [(1, "A  B\tC d e"), (2, "a b c d e")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["dup_frac"]
               for r in duplicated_window_fraction(docs, window=5).collect()}
        assert out[1] == 1.0 and out[2] == 1.0

    def test_within_doc_repeat_not_duplicated(self, spark):
        # the same window twice in ONE doc is min_docs=2-distinct-docs? No:
        # count DISTINCT docs is 1 → not duplicated
        docs = spark.createDataFrame(
            [(1, "a b c d e a b c d e")], "doc_id long, text string")
        out = duplicated_window_fraction(docs, window=5).collect()[0]
        assert out["dup_windows"] == 0


_URL_CASES = [
    # (raw, canonical)
    ("HTTPS://WWW.Example.COM:443/a/b?utm_source=x&b=2&a=1#frag",
     "https://example.com/a/b?a=1&b=2"),
    ("http://example.com:80/", "http://example.com/"),
    ("http://example.com:8080/x?z=1", "http://example.com:8080/x?z=1"),
    ("https://example.com", "https://example.com/"),
    ("https://example.com/?gclid=abc&fbclid=def&ref=h", "https://example.com/"),
    ("http://www.sub.example.com/p", "http://sub.example.com/p"),
    ("https://example.com/p?b=2&a=1&b=1", "https://example.com/p?a=1&b=1&b=2"),
]


class TestNormalizeUrl:
    def test_spark_expr(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in _URL_CASES], "url string")
        got = [r["c"] for r in df.select(normalize_url("url").alias("c")).collect()]
        assert got == [c for _, c in _URL_CASES]

    def test_staged_frame_matches(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in _URL_CASES], "url string")
        got = [r["canon"] for r in normalize_url_df(df, "url").collect()]
        assert got == [c for _, c in _URL_CASES]

    def test_duckdb_dialect_parity(self):
        con = duckdb.connect()
        expr = normalize_url_sql("url", "duckdb")
        for raw, want in _URL_CASES:
            got = con.execute(
                f"SELECT {expr} FROM (SELECT ? AS url)", [raw]).fetchone()[0]
            assert got == want, raw

    def test_rejects_column_objects(self):
        with pytest.raises(TypeError):
            normalize_url(F.col("url"))

    def test_unknown_dialect(self):
        with pytest.raises(ValueError):
            normalize_url_sql("url", "mysql")


class TestSemanticDedup:
    def _emb(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_identical_vectors_pruned_keep_lowest_id(self, spark):
        emb = self._emb(spark, [
            (1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]),
            (4, [0.0, 1.0]), (5, [0.0, 1.0]),
        ])
        cent = self._emb(spark, [(1, [1.0, 0.0]), (3, [0.0, 1.0])])
        out = {r["vec_id"]: r.asDict()
               for r in semantic_dedup(emb, cent, threshold=0.99).collect()}
        assert out[1]["kept"] and not out[2]["kept"]
        assert out[3]["kept"] and not out[4]["kept"] and not out[5]["kept"]
        assert out[2]["cid"] == 1 and out[5]["cid"] == 3

    def test_cross_cluster_similarity_ignored(self, spark):
        # identical vectors in DIFFERENT clusters are never compared —
        # force the split with centroids equal to each vector
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [0.99, 0.01])])
        cent = self._emb(spark, [(1, [1.0, 0.0]), (2, [0.99, 0.01])])
        out = {r["vec_id"]: r["kept"]
               for r in semantic_dedup(emb, cent, threshold=0.5).collect()}
        # each lands in its own cluster → both kept despite cosine ≈ 1
        assert out == {1: True, 2: True}

    def test_below_threshold_kept(self, spark):
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [0.7, 0.7])])
        cent = self._emb(spark, [(1, [1.0, 0.0])])
        out = {r["vec_id"]: r["kept"]
               for r in semantic_dedup(emb, cent, threshold=0.99).collect()}
        assert out == {1: True, 2: True}

    def test_empty_centroids_raises(self, spark):
        emb = self._emb(spark, [(1, [1.0, 0.0])])
        with pytest.raises(ValueError):
            semantic_dedup(emb, emb.limit(0))


class TestStratifiedCap:
    def test_caps_each_group(self, spark):
        from arc_spark.functions.sampling import stratified_cap

        rows = [(i, "a" if i < 50 else "b") for i in range(80)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = stratified_cap(df, per_group_k=10)
        by = {r["source"] for r in out.collect()}
        counts = {s: 0 for s in by}
        for r in out.collect():
            counts[r["source"]] += 1
        assert counts == {"a": 10, "b": 10}

    def test_under_cap_group_kept_whole(self, spark):
        from arc_spark.functions.sampling import stratified_cap

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string")
        out = stratified_cap(df, per_group_k=10)
        assert out.count() == 3

    def test_deterministic_across_runs(self, spark):
        from arc_spark.functions.sampling import stratified_cap

        df = spark.createDataFrame(
            [(i, "s") for i in range(100)], "doc_id long, source string")
        a = sorted(r["doc_id"] for r in stratified_cap(df, 7).collect())
        b = sorted(r["doc_id"] for r in
                   stratified_cap(df.repartition(8), 7).collect())
        assert a == b  # partitioning must not change the selection

    def test_salt_changes_selection(self, spark):
        from arc_spark.functions.sampling import stratified_cap

        df = spark.createDataFrame(
            [(i, "s") for i in range(200)], "doc_id long, source string")
        a = sorted(r["doc_id"] for r in stratified_cap(df, 20).collect())
        b = sorted(r["doc_id"] for r in
                   stratified_cap(df, 20, salt="other").collect())
        assert a != b


class TestPrefixFilterJaccard:
    """AllPairs/PPJoin prefix filtering must be EXACT: identical output
    to the naive posting self-join at any threshold, on corpora with
    heavy overlap and with the hot-shingle cap active."""

    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base + " tail"),
            (3, base.replace("quick", "slow")),
            (4, "completely different words entirely here nothing shared"),
            (5, base),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("threshold", [0.3, 0.6, 0.9])
    def test_matches_naive(self, spark, threshold):
        from arc_spark.operators.dedup import ngram_jaccard_pairs

        docs = self._docs(spark)
        naive = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
                 for r in ngram_jaccard_pairs(
                     docs, threshold=threshold, prefix_filter=False).collect()}
        pref = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
                for r in ngram_jaccard_pairs(
                    docs, threshold=threshold, prefix_filter=True).collect()}
        assert pref == naive and naive  # non-empty, identical

    def test_matches_with_hot_cap(self, spark):
        from arc_spark.operators.dedup import ngram_jaccard_pairs

        # every doc shares a hot run, so the cap bites and the capped
        # intersection must stay identical on both paths
        rows = [(i, "common shared run here " + f"unique{i} word{i} tok{i}")
                for i in range(12)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(threshold=0.3, max_posting_list=5)
        naive = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
                 for r in ngram_jaccard_pairs(
                     docs, prefix_filter=False, **kw).collect()}
        pref = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
                for r in ngram_jaccard_pairs(
                    docs, prefix_filter=True, **kw).collect()}
        assert pref == naive


class TestDocChunking:
    def test_chunk_invariants(self, spark):
        """Every token covered exactly once by non-overlap positions,
        consecutive chunks overlap by `overlap`, final partial kept,
        short docs yield exactly one chunk."""
        from pyspark.sql import functions as F

        from arc_spark.functions.text import chunk_documents

        docs = spark.createDataFrame(
            [("s", 1, " ".join(f"t{i}" for i in range(100))),
             ("s", 2, " ".join(f"t{i}" for i in range(10))),
             ("s", 3, "solo"),
             ("s", 4, " ".join(f"t{i}" for i in range(64)))],
            "source string, doc_id long, text string")
        out = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # doc 1: 100 tokens, stride 48 -> starts 0, 48 (48+64 >= 100)
        d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
        assert [(r["start"], r["end"]) for r in d1] == [(0, 64), (48, 100)]
        assert len(d1[1]["chunk_text"].split(" ")) == 52
        # chunk text matches the token window
        assert d1[1]["chunk_text"].split(" ")[0] == "t48"
        # short docs: one chunk covering everything
        for doc_id, n in ((2, 10), (3, 1), (4, 64)):
            (only,) = by_doc[doc_id]
            assert (only["start"], only["end"]) == (0, n)
            assert only["chunk_id"] == 0

    def test_overlap_bounds(self, spark):
        import pytest as _pytest

        from arc_spark.functions.text import chunk_documents

        docs = spark.createDataFrame([("s", 1, "a b")],
                                     "source string, doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=16, overlap=16)


class TestDsirImportanceWeights:
    """DSIR (Xie et al. 2023) hashed-ngram importance weights: the
    direction of the score must track target-likeness, micro-unit
    weights must be exact integers, and degenerate inputs must not
    crash (empty docs, single-token docs, all-target corpora)."""

    def _weights(self, spark, rows, target_lang="en", buckets=512):
        from pyspark.sql import functions as F

        from arc_spark.functions.sampling import dsir_importance_weights

        df = spark.createDataFrame(
            rows, "doc_id long, lang string, text string").select(
            "doc_id", "lang", F.split(F.lower("text"), " ").alias("w"))
        out = dsir_importance_weights(
            df, target=F.col("lang") == target_lang, tokens_col="w",
            id_cols=("doc_id",), buckets=buckets)
        return {r["doc_id"]: r for r in out.collect()}

    def test_targetlike_docs_score_higher(self, spark):
        """Docs built from the target slice's vocabulary must outscore
        docs from the disjoint raw-only vocabulary — the ranking DSIR
        selection relies on."""
        rows = ([(i, "en", "the quick brown fox jumps over dogs")
                 for i in range(8)]
                + [(100 + i, "xx", "zog blort quux fizzle wibble snork")
                   for i in range(8)]
                + [(200, "xx", "the quick brown fox jumps over dogs"),
                   (201, "xx", "zog blort quux fizzle wibble snork")])
        w = self._weights(spark, rows)
        # a raw doc phrased in target vocabulary beats one that isn't
        assert w[200]["weight"] > w[201]["weight"]
        # and target-vocab docs sit above the raw-only vocab docs
        assert min(w[i]["weight"] for i in range(8)) > \
            max(w[100 + i]["weight"] for i in range(8))

    def test_exact_micro_units_and_feature_count(self, spark):
        rows = [(1, "en", "a b c"), (2, "xx", "a b")]
        w = self._weights(spark, rows)
        # unigrams + bigrams: "a b c" -> a,b,c,"a b","b c" = 5 features
        assert w[1]["n_feats"] == 5 and w[2]["n_feats"] == 3
        for r in w.values():
            assert isinstance(r["weight_micro"], int)
            assert abs(r["weight"] - r["weight_micro"] / 1e6) < 1e-9

    def test_degenerate_inputs(self, spark):
        # single-token doc (no bigrams), all-target corpus, and a doc
        # whose token array is empty (absent from output, like the
        # oracle's unnest-of-empty)
        from pyspark.sql import functions as F

        from arc_spark.functions.sampling import dsir_importance_weights

        df = spark.createDataFrame(
            [(1, "en", ["solo"]), (2, "en", ["a", "b"]),
             (3, "en", [])],
            "doc_id long, lang string, w array<string>")
        out = dsir_importance_weights(
            df, target=F.col("lang") == "en", tokens_col="w",
            id_cols=("doc_id",), buckets=64)
        got = {r["doc_id"]: r for r in out.collect()}
        assert set(got) == {1, 2}
        assert got[1]["n_feats"] == 1 and got[2]["n_feats"] == 3

    def test_cache_registry_bounds_accumulation(self, spark):
        """Operator-internal caches live in a BOUNDED registry —
        repeated calls in a long-lived session evict the oldest instead
        of accumulating forever (r8 advice; the first r9 design tied
        release to the returned frame's GC, which silently unpersisted
        caches under lazy composition — q51's plan-shape test caught
        it)."""
        from pyspark.sql import functions as F

        import arc_spark.cacheutil as cu
        from arc_spark.functions.sampling import dsir_importance_weights

        cu.clear_registry()
        jsc = spark.sparkContext._jsc.sc()
        base = jsc.getPersistentRDDs().size()
        df = spark.createDataFrame(
            [(1, "en", ["a", "b"]), (2, "xx", ["c"])],
            "doc_id long, lang string, w array<string>")
        for _ in range(cu._MAX + 4):
            out = dsir_importance_weights(
                df, target=F.col("lang") == "en", tokens_col="w",
                id_cols=("doc_id",), buckets=64)
            assert out.count() == 2
        # at most _MAX operator caches live, however many calls ran
        assert jsc.getPersistentRDDs().size() - base <= cu._MAX
        cu.clear_registry()
        assert jsc.getPersistentRDDs().size() <= base


class TestDsirCurationChain:
    """The real curation recipe end-to-end (r8 verdict #4): importance
    weights → Gumbel-top-k resample → hash_split on the same corpus.
    The selected set and its split assignment must be deterministic
    across input partitioning changes — the property a 1000-executor
    rerun depends on."""

    def test_chain_deterministic_across_partitioning(self, spark):
        from pyspark.sql import functions as F

        from arc_spark.functions.sampling import (
            dsir_gumbel_topk, dsir_importance_weights, hash_split)

        rows = ([(i, "en", f"the quick brown fox number {i}")
                 for i in range(20)]
                + [(100 + i, "xx", f"zog blort quux wibble {i}")
                   for i in range(40)])

        def run(df):
            toks = df.select(
                "doc_id", "lang",
                F.split(F.lower("text"), " ").alias("w"))
            w = dsir_importance_weights(
                toks, target=F.col("lang") == "en", tokens_col="w",
                id_cols=("doc_id",), buckets=256)
            picked = dsir_gumbel_topk(w, 15, temperature=1.0)
            split = picked.withColumn(
                "split", hash_split("doc_id",
                                    {"train": 0.8, "val": 0.2}))
            return sorted((r["doc_id"], r["split"])
                          for r in split.collect())

        base = spark.createDataFrame(
            rows, "doc_id long, lang string, text string")
        a = run(base)
        b = run(base.repartition(17, "lang"))
        assert a == b and len(a) == 15
        # weights steer selection: target-like docs dominate the pick
        en = sum(1 for doc_id, _ in a if doc_id < 100)
        assert en >= 10
        # both splits materialize at this k
        assert {s for _, s in a} == {"train", "val"}


class TestDsirGumbelTopk:
    """Gumbel-top-k resampling: deterministic across runs/partitionings,
    monotone in weight at temperature→0, exactly k rows, plan uses the
    per-partition top-k (no global sort shuffle)."""

    def test_deterministic_and_k(self, spark):
        from pyspark.sql import functions as F

        from arc_spark.functions.sampling import dsir_gumbel_topk

        rows = [(i, (i % 7) * 1_000_000) for i in range(200)]
        w = spark.createDataFrame(rows, "doc_id long, weight_micro long")
        a = dsir_gumbel_topk(w, 25).collect()
        b = dsir_gumbel_topk(w.repartition(13), 25).collect()
        assert len(a) == 25
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]

    def test_low_temperature_degrades_to_topk(self, spark):
        from arc_spark.functions.sampling import dsir_gumbel_topk

        rows = [(i, i * 1_000_000) for i in range(50)]
        w = spark.createDataFrame(rows, "doc_id long, weight_micro long")
        got = {r["doc_id"] for r in
               dsir_gumbel_topk(w, 10, temperature=1e-6).collect()}
        assert got == set(range(40, 50))  # noise ~O(1) drowned by w/T

    def test_no_global_sort(self, spark):
        from arc_spark.functions.sampling import dsir_gumbel_topk

        rows = [(i, i) for i in range(100)]
        w = spark.createDataFrame(rows, "doc_id long, weight_micro long")
        plan = dsir_gumbel_topk(w, 5)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestIncrementalDedupIndex:
    """minhash_index + dedup_against_index (r9): the persisted-signature
    incremental dedup workflow — parquet round-trip, shard append, the
    index-only estimate mode, and equivalence with the exact operator."""

    def _docs(self, spark):
        rows = []
        base = "the quick brown fox jumps over the lazy dog again and again"
        for i in range(30):
            rows.append((i, base + f" variant {i}"))
        # near-dups of corpus docs, placed in the "new" slice (ids % 5)
        rows.append((100, base + " variant 7"))      # dup of doc 7
        rows.append((105, base + " variant 13"))     # dup of doc 13
        rows.append((110, "completely different content nothing shared"))
        rows.append((115, "xy"))                     # <k words: NULL sig
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_mode_matches_direct_cross_pairs(self, spark):
        from arc_spark.operators.dedup import (
            dedup_against_index, minhash_index)

        docs = self._docs(spark)
        corpus = docs.filter("doc_id < 100")
        new = docs.filter("doc_id >= 100")
        idx = minhash_index(corpus)
        got = {(r["new_doc"], r["index_doc"], round(r["jaccard"], 6))
               for r in dedup_against_index(
                   new, idx, threshold=0.9, corpus=corpus).collect()}
        assert (100, 7) in {(a, b) for a, b, _ in got}
        assert (105, 13) in {(a, b) for a, b, _ in got}
        assert all(a >= 100 and b < 100 for a, b, _ in got)
        assert all(j >= 0.9 for _, _, j in got)

    def test_index_parquet_roundtrip_and_append(self, spark, tmp_path):
        from arc_spark.operators.dedup import (
            dedup_against_index, minhash_index)

        docs = self._docs(spark)
        corpus = docs.filter("doc_id < 100")
        new = docs.filter("doc_id >= 100")
        # build the index in two shard-sized pieces, append = union/write
        p = str(tmp_path / "sig_index")
        minhash_index(corpus.filter("doc_id < 15")).write.parquet(p)
        minhash_index(corpus.filter("doc_id >= 15")).write.mode(
            "append").parquet(p)
        idx = spark.read.parquet(p)
        direct = minhash_index(corpus)
        key = lambda df: sorted(  # noqa: E731
            (r["new_doc"], r["index_doc"], round(r["jaccard"], 6))
            for r in dedup_against_index(
                new, df, threshold=0.9, corpus=corpus).collect())
        assert key(idx) == key(direct) and key(idx)

    def test_estimate_mode_needs_no_corpus(self, spark):
        from arc_spark.operators.dedup import (
            dedup_against_index, minhash_index)

        docs = self._docs(spark)
        corpus = docs.filter("doc_id < 100")
        new = docs.filter("doc_id >= 100")
        idx = minhash_index(corpus)
        est = dedup_against_index(new, idx, threshold=0.7).collect()
        pairs = {(r["new_doc"], r["index_doc"]) for r in est}
        # the two true near-dups surface from signatures alone
        assert {(100, 7), (105, 13)} <= pairs
        # estimates are proper fractions of num_hashes
        assert all(0 <= r["jaccard"] <= 1 for r in est)

    def test_short_doc_null_sig_never_pairs(self, spark):
        from arc_spark.operators.dedup import (
            dedup_against_index, minhash_index)

        docs = self._docs(spark)
        corpus = docs.filter("doc_id < 100")
        idx = minhash_index(corpus)
        # the <k-words doc is IN the index inventory but can't band-match
        # (filter on the index's OWN schema (doc, sig, sz) — the former
        # "doc_id" spelling only resolved through the expr-projection's
        # attribute lineage, an accident the mapInPandas path removes)
        assert idx.filter("doc = 115").count() == 0  # it's in new slice
        new = docs.filter("doc_id >= 100")
        got = dedup_against_index(new, idx, threshold=0.1,
                                  corpus=corpus).collect()
        assert all(r["new_doc"] != 115 for r in got)


class TestShortDocBandRows:
    """r12 regression lock: <k-word docs must contribute ZERO band rows.
    Before the fix their signatures were arrays of NULL slots, which
    passed the isNotNull band guard and hashed to the all-null-input
    bucket (xxhash64() = seed = 42) in EVERY band — correct verified
    output, but every pair of short docs became an LSH candidate (c²
    in the short-doc count at corpus scale)."""

    def test_zero_band_rows_and_zero_candidates(self, spark):
        import os

        from pyspark.sql import functions as F

        from arc_spark.operators.dedup import (
            _band_rows, _shingled, _signatures_from_shingled)

        docs = spark.createDataFrame(
            [(i, "ab") for i in range(40)]          # 40 short docs
            + [(100, "x y z w v u t"), (101, "x y z w v u t")],
            "doc_id long, text string")
        for impl in ("numpy", "expr"):
            old = os.environ.get("ARC_MINHASH_IMPL")
            os.environ["ARC_MINHASH_IMPL"] = impl
            try:
                sigs = _signatures_from_shingled(
                    _shingled(docs, "doc_id", "text", 3), 8)
                br = _band_rows(sigs, 8, 4)
                rows = br.collect()
                assert all(r["doc"] >= 100 for r in rows), \
                    f"short doc produced band rows ({impl})"
                # the two real dups still bucket together in every band
                assert len(rows) == 8, impl
                # sig NULL (not [NULL]*n) and sz NULL for short docs
                short = sigs.filter(F.col("doc") < 100).collect()
                assert all(r["sig"] is None and r["sz"] is None
                           for r in short), impl
            finally:
                if old is None:
                    os.environ.pop("ARC_MINHASH_IMPL", None)
                else:
                    os.environ["ARC_MINHASH_IMPL"] = old


class TestDedupLines:
    """Corpus-level line dedup (C4/RefinedWeb boilerplate removal):
    cross-doc duplicated lines are removed, order is preserved, and the
    normalized match key ignores case/whitespace while the emitted text
    keeps original bytes. The cross-engine differential is the q85
    oracle lane (test_workload_oracle)."""

    def _docs(self, spark):
        return spark.createDataFrame([
            (1, "unique alpha\nShared Footer\nunique beta"),
            (2, "shared   footer\nonly two"),
            (3, "solo doc line"),
            (4, "Shared Footer"),
        ], "doc_id long, text string")

    def test_removes_cross_doc_lines_preserving_order(self, spark):
        from arc_spark.operators.dedup import dedup_lines

        out = {r["doc_id"]: r for r in
               dedup_lines(self._docs(spark)).collect()}
        assert out[1]["text"] == "unique alpha\nunique beta"
        assert out[1]["n_lines"] == 3 and out[1]["lines_removed"] == 1
        # normalization matched 'shared   footer' to 'Shared Footer',
        # but the survivor keeps its ORIGINAL spelling
        assert out[2]["text"] == "only two"
        assert out[3]["text"] == "solo doc line"
        assert out[3]["lines_removed"] == 0

    def test_fully_boilerplate_doc_comes_back_empty(self, spark):
        from arc_spark.operators.dedup import dedup_lines

        out = {r["doc_id"]: r for r in
               dedup_lines(self._docs(spark)).collect()}
        assert out[4]["text"] == ""
        assert out[4]["n_lines"] == 1 and out[4]["lines_removed"] == 1

    def test_normalize_false_is_byte_exact(self, spark):
        from arc_spark.operators.dedup import dedup_lines

        out = {r["doc_id"]: r for r in
               dedup_lines(self._docs(spark), normalize=False).collect()}
        # case/whitespace-distinct spellings no longer match each other...
        assert out[2]["text"] == "shared   footer\nonly two"
        # ...but byte-identical lines across docs still dedup
        assert out[1]["text"] == "unique alpha\nunique beta"
        assert out[4]["text"] == ""

    def test_min_docs_threshold(self, spark):
        from arc_spark.operators.dedup import dedup_lines

        out = {r["doc_id"]: r for r in
               dedup_lines(self._docs(spark), min_docs=4).collect()}
        # footer appears in 3 docs < 4: everything survives
        assert all(r["lines_removed"] == 0 for r in out.values())

    def test_regex_special_delimiter_is_literal(self, spark):
        """delimiter is a LITERAL (\\Q-quoted for the split): '||' must
        not be read as a regex alternation — unquoted it split on every
        position and reassembly embedded the pattern text (r10 review)."""
        from arc_spark.operators.dedup import dedup_lines

        docs = spark.createDataFrame([
            (1, "keep one||shared||keep two"),
            (2, "shared||solo"),
        ], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               dedup_lines(docs, delimiter="||").collect()}
        assert out[1]["text"] == "keep one||keep two"
        assert out[1]["n_lines"] == 3 and out[1]["lines_removed"] == 1
        assert out[2]["text"] == "solo"

    def test_delimiter_containing_quote_end_is_literal(self, spark):
        r"""A delimiter containing '\E' must stay literal: naive
        \Q..\E wrapping ends the quote at the embedded \E and the
        remainder runs as live regex (r11 fix: Pattern.quote-style
        re-opened quoting in _regex_literal)."""
        from arc_spark.operators.dedup import dedup_lines

        # delimiter = r"\E.*" — after a naive "\Q\E.*\E" the ".*" is a
        # live wildcard that splits everything; quoted correctly it only
        # matches the exact 4-char sequence.
        delim = "\\E.*"
        docs = spark.createDataFrame([
            (1, f"keep one{delim}shared{delim}keep two"),
            (2, f"shared{delim}solo"),
        ], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               dedup_lines(docs, delimiter=delim).collect()}
        assert out[1]["text"] == f"keep one{delim}keep two"
        assert out[1]["n_lines"] == 3 and out[1]["lines_removed"] == 1
        assert out[2]["text"] == "solo"


class TestLshPairStreaming:
    """r12 advice: in-bucket candidate pairs must stream as rows, not
    materialize as one c²-element array per bucket. A big exact-dup
    cluster collides in EVERY band — the shape that overflowed the old
    flatten(transform×transform) formulation — and its full pair set
    must come through with the doc_a < doc_b normalization intact."""

    def test_large_duplicate_cluster_pairs_complete(self, spark):
        from arc_spark.operators.dedup import minhash_lsh_pairs

        c = 120
        text = "the same exact duplicated document body " * 5
        rows = [(i, text) for i in range(c)]
        rows += [(1000 + i, f"unique filler document number {i} "
                  f"with distinct words {i * 7} {i * 13}") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = minhash_lsh_pairs(df, threshold=0.9).collect()
        pairs = {(r["doc_a"], r["doc_b"]) for r in out}
        expected = {(a, b) for a in range(c) for b in range(a + 1, c)}
        assert pairs == expected
        assert all(r["doc_a"] < r["doc_b"] for r in out)
        assert all(r["jaccard"] == 1.0 for r in out)


class TestTfidfLazyConstruction:
    """r14: tfidf_top_terms must not run a Spark job at plan-construction
    time (the r13 dsir/mixture/packing barrier class — an eager
    n_sources = distinct().count() ran a full corpus pass before the
    caller saw a DataFrame). The scalar now rides a broadcast cross join;
    the smoothed idf must stay bit-identical to the literal form."""

    def test_no_job_at_construction(self, spark):
        import math

        from arc_spark.functions.text import tfidf_top_terms

        docs = spark.createDataFrame(
            [("s1", "alpha beta gamma alpha"),
             ("s2", "beta delta delta epsilon"),
             ("s3", "gamma gamma alpha zeta")],
            "source string, text string")
        sc = spark.sparkContext
        sc.setJobGroup("tfidf-construct-probe", "laziness probe")
        try:
            out = tfidf_top_terms(docs, n_top=2)
        finally:
            jobs = sc.statusTracker().getJobIdsForGroup(
                "tfidf-construct-probe")
            sc.setJobGroup(None, None)
        assert list(jobs) == [], (
            f"tfidf_top_terms ran Spark jobs at construction: {jobs}")
        rows = {(r["source"], r["term"]): r for r in out.collect()}
        # idf parity with the old literal form: ln((n_sources+1)/(df+1))
        r = rows[("s2", "delta")]
        assert r["tf"] == 2 and r["df"] == 1
        assert r["tfidf"] == round(2 * math.log((3 + 1.0) / (1 + 1)), 6)


class TestSpreadFewFileInput:
    """r14: the DSIR feature pipeline spreads few-file inputs across the
    cluster before its CPU-bound explode+md5 stage, and must NOT pay the
    redistribution when the scan can already fill the default
    parallelism (scale-adaptive gate) or when the frame is not
    file-backed (in-memory test data)."""

    def test_single_file_input_gets_spread(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from arc_spark.functions.sampling import _spread_few_file_input

        p = str(tmp_path / "one.parquet")
        spark.range(100).coalesce(1).selectExpr(
            "id as doc_id", "'src' as s").write.parquet(p)
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) == 1
        out = _spread_few_file_input(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ROUND_ROBIN" in plan or "RoundRobin" in plan

    def test_many_file_input_passes_through(self, spark, tmp_path):
        from arc_spark.functions.sampling import _spread_few_file_input

        n = spark.sparkContext.defaultParallelism
        p = str(tmp_path / "many.parquet")
        spark.range(2000).repartition(n).write.parquet(p)
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) >= n
        out = _spread_few_file_input(df)
        assert out is df  # no shuffle added

    def test_in_memory_frame_passes_through(self, spark):
        from arc_spark.functions.sampling import _spread_few_file_input

        df = spark.createDataFrame([(1, "a")], "doc_id long, s string")
        assert _spread_few_file_input(df) is df


class TestShingleSpreadWidth:
    """r14: the shingle spread derives its width from input bytes (one
    task per SHINGLE_TASK_BYTES, clamped to [1, defaultParallelism]) so
    a small file-backed corpus does not pay full-cluster task dispatch —
    the downstream mapInPandas signature stage costs ~15 ms per Python
    task regardless of rows. Unknown-size frames keep the full width."""

    def test_small_file_narrows(self, spark, tmp_path):
        from arc_spark.operators.dedup import (SHINGLE_TASK_BYTES,
                                               _shingle_spread_width)

        p = str(tmp_path / "small.parquet")
        spark.range(50).coalesce(1).selectExpr(
            "id as doc_id", "'w x y z' as text").write.parquet(p)
        df = spark.read.parquet(p)
        import os as _os

        sz = sum(_os.path.getsize(_os.path.join(r, f))
                 for r, _, fs in _os.walk(p) for f in fs
                 if f.endswith(".parquet"))
        assert sz < SHINGLE_TASK_BYTES
        assert _shingle_spread_width(df) == 1

    def test_large_input_keeps_full_width(self, spark, tmp_path):
        import arc_spark.operators.dedup as dd

        n = spark.sparkContext.defaultParallelism
        p = str(tmp_path / "big.parquet")
        spark.range(500).coalesce(1).selectExpr(
            "id as doc_id", "repeat('t ', 50) as text").write.parquet(p)
        df = spark.read.parquet(p)
        # shrink the unit so this small fixture counts as "large"
        old = dd.SHINGLE_TASK_BYTES
        dd.SHINGLE_TASK_BYTES = 64
        try:
            assert dd._shingle_spread_width(df) == n
        finally:
            dd.SHINGLE_TASK_BYTES = old

    def test_in_memory_frame_keeps_full_width(self, spark):
        from arc_spark.operators.dedup import _shingle_spread_width

        n = spark.sparkContext.defaultParallelism
        df = spark.createDataFrame([(1, "a b c")],
                                   "doc_id long, text string")
        assert _shingle_spread_width(df) == n


class TestBigramFluencyLazyConstruction:
    """r14: q74 must not run a Spark job at plan-construction time (the
    r13 dsir/mixture/packing barrier class — the old form ran a full
    instance aggregation inside stats.first() before the caller saw a
    DataFrame). V now rides a one-row broadcast cross join and the
    broadcast gate reads an analysis-only input-bytes estimate."""

    def test_no_job_at_construction(self, spark):
        from arc_spark.workload import QUERIES, load_tables

        sc = spark.sparkContext
        # warm the table reads first: the FIRST parquet read of a session
        # runs schema-inference jobs that are not q74's doing
        load_tables(spark, "/root/testdata/sf0.01", register_views=False)
        sc.setJobGroup("q74-construct-probe", "laziness probe")
        try:
            QUERIES["q74_bigram_fluency"](spark, "/root/testdata/sf0.01")
        finally:
            jobs = sc.statusTracker().getJobIdsForGroup(
                "q74-construct-probe")
            sc.setJobGroup(None, None)
        assert list(jobs) == [], (
            f"q74_bigram_fluency ran Spark jobs at construction: {jobs}")


class TestBigramFluencyPastGatePersist:
    """r14 session 2: past the broadcast gate (corpus-scale inputs) q74
    persists the vocab-sized model table so V and lp read one
    materialization — two corpus passes instead of the three the
    optimizer otherwise plans (it collapses countDistinct(w1) into its
    own instance-level distinct aggregate; nothing is exchange-shared).
    Below the gate the plan must stay exactly the un-barriered
    broadcast form (the three passes overlap and win at bench scale —
    quiet A/B in scripts/q74_lazy_persist_ab.py)."""

    SF = "/root/testdata/sf0.01"

    def test_past_gate_rows_equal_and_persisted(self, spark, monkeypatch):
        import arc_spark.workload as W
        from arc_spark.cacheutil import clear_registry

        base = sorted(map(tuple,
                          W.QUERIES["q74_bigram_fluency"](spark, self.SF)
                          .collect()))
        monkeypatch.setattr(W, "BIGRAM_BROADCAST_MAX_INPUT_BYTES", -1)
        try:
            df = W.QUERIES["q74_bigram_fluency"](spark, self.SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, (
                "past-gate q74 must persist the model table")
            gated = sorted(map(tuple, df.collect()))
        finally:
            clear_registry()
        assert gated == base

    def test_below_gate_not_persisted(self, spark):
        import arc_spark.workload as W

        df = W.QUERIES["q74_bigram_fluency"](spark, self.SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan and \
            "InMemoryRelation" not in plan, (
                "below-gate q74 must stay un-barriered (passes overlap)")

    def test_past_gate_construction_is_lazy(self, spark, monkeypatch):
        import arc_spark.workload as W
        from arc_spark.cacheutil import clear_registry

        sc = spark.sparkContext
        W.load_tables(spark, self.SF, register_views=False)
        monkeypatch.setattr(W, "BIGRAM_BROADCAST_MAX_INPUT_BYTES", -1)
        sc.setJobGroup("q74-gate-probe", "past-gate laziness probe")
        try:
            W.QUERIES["q74_bigram_fluency"](spark, self.SF)
        finally:
            jobs = sc.statusTracker().getJobIdsForGroup("q74-gate-probe")
            sc.setJobGroup(None, None)
            clear_registry()
        assert list(jobs) == [], (
            f"past-gate q74 ran Spark jobs at construction: {jobs}")


def test_minhash_numpy_empty_shingles_null_sig():
    # np.minimum.reduceat misbehaves on zero-length segments (returns the
    # NEXT doc's first slot / IndexError at the tail) — an empty shingle
    # array must yield a NULL signature like NULL shingles do, on every
    # position including the last
    import pandas as pd

    from arc_spark.operators.dedup import _minhash_numpy_gen

    gen = _minhash_numpy_gen(4, ())
    pdf = pd.DataFrame({
        "doc": [1, 2, 3, 4],
        "shingles": [[11, 22], [], [33], []],
    })
    out = pd.concat(list(gen([pdf])))
    sig = dict(zip(out["doc"], out["sig"]))
    sz = dict(zip(out["doc"], out["sz"]))
    assert sig[2] is None and sig[4] is None
    assert pd.isna(sz[2]) and pd.isna(sz[4])
    assert sig[1] is not None and len(sig[1]) == 4 and sz[1] == 2
    assert sig[3] is not None and sz[3] == 1
