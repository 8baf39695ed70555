"""Training-pipeline operators: decontamination, deterministic sampling."""

from pyspark.sql import functions as F

from simtradedata_spark.operators.decontam import ngram_overlap, remove_contaminated
from simtradedata_spark.operators.sampling import hash_bucket, hash_sample


def _docs(spark):
    rows = [
        # benchmark doc
        (0, "the quick brown fox jumps over the lazy dog tonight", "bench"),
        # contaminated: contains the 5-gram "quick brown fox jumps over"
        (1, "intro words then the quick brown fox jumps over fences", "train"),
        # clean: shares words but no 5-gram
        (2, "quick dog and brown fox never jump over anything lazy", "train"),
        # exact copy of the benchmark text
        (3, "the quick brown fox jumps over the lazy dog tonight", "train"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, split string")


def test_ngram_overlap_flags_planted_contamination(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("split") == "bench")
    corpus = docs.filter(F.col("split") == "train")
    hits = {r["doc_id"]: r for r in ngram_overlap(corpus, bench, n=5).collect()}
    assert set(hits) == {1, 3}
    assert hits[3]["hit_ratio"] == 1.0  # exact copy: every gram overlaps
    assert 0 < hits[1]["hit_ratio"] < 1.0
    clean = remove_contaminated(corpus, bench, n=5)
    assert {r["doc_id"] for r in clean.collect()} == {2}


def test_ngram_overlap_short_doc_fallback(spark):
    """Docs shorter than n tokens fall back to token overlap (shingles_of
    contract) — they must not vanish from the check."""
    bench = spark.createDataFrame([(0, "zebra", "b")], "doc_id long, text string, s string")
    corpus = spark.createDataFrame(
        [(1, "a zebra", "t"), (2, "plain words", "t")],
        "doc_id long, text string, s string",
    )
    hits = {r["doc_id"] for r in ngram_overlap(corpus, bench, n=5).collect()}
    assert hits == {1}


def test_hash_sample_deterministic_monotone_and_unbiased(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    s10a = {r["k"] for r in hash_sample(df, ["k"], 10).collect()}
    s10b = {r["k"] for r in hash_sample(df, ["k"], 10).collect()}
    s25 = {r["k"] for r in hash_sample(df, ["k"], 25).collect()}
    assert s10a == s10b                      # deterministic
    assert s10a <= s25                       # monotone in rate
    assert 800 <= len(s10a) <= 1200          # ~10% of 10k
    # salt decorrelates: a different salt picks a materially different set
    salted = {r["k"] for r in hash_sample(df, ["k"], 10, salt="v2").collect()}
    assert len(s10a & salted) < len(s10a) / 2


def test_hash_bucket_range_and_partition_invariance(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    b = df.select(hash_bucket(["k"], buckets=7).alias("b"))
    vals = {r["b"] for r in b.collect()}
    assert vals <= set(range(7))
    one = {
        r["k"]: r["b"]
        for r in df.repartition(1).select("k", hash_bucket(["k"]).alias("b")).collect()
    }
    many = {
        r["k"]: r["b"]
        for r in df.repartition(16).select("k", hash_bucket(["k"]).alias("b")).collect()
    }
    assert one == many


# ---------------------------------------------------------------------------
# Repetition quality filters (Gopher-style, word level)
# ---------------------------------------------------------------------------

def _rep_docs(spark):
    rows = [
        # "ab ab ab" repeated: 6 tokens, 2 distinct, top bigram "ab ab" x5
        (0, "ab ab ab ab ab ab"),
        # all distinct tokens, every bigram unique
        (1, "one two three four five"),
        # mixed: "x y" appears twice (positions 1-2 and 4-5)
        (2, "x y z x y"),
        (3, ""),          # empty doc
        (4, "solo"),      # single token: no bigram
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_oracle(spark):
    from simtradedata_spark.operators.textstats import repetition_stats

    out = {
        r["doc_id"]: r
        for r in repetition_stats(_rep_docs(spark), "doc_id", "text").collect()
    }
    r0 = out[0]
    assert r0["n_tokens"] == 6 and r0["top_gram"] == "ab ab" and r0["top_count"] == 5
    assert abs(r0["frac_dup_tokens"] - (1 - 1 / 6)) < 1e-12
    # "ab ab ab ab ab ab" = 17 chars; top bigram "ab ab" (5 chars) x5 = 25
    assert abs(r0["top_gram_char_frac"] - 25 / 17) < 1e-12

    r1 = out[1]
    assert r1["frac_dup_tokens"] == 0.0 and r1["top_count"] == 1
    # tie on count=1 broken by gram asc
    assert r1["top_gram"] == "four five"

    r2 = out[2]
    assert r2["top_gram"] == "x y" and r2["top_count"] == 2
    assert abs(r2["frac_dup_tokens"] - (1 - 3 / 5)) < 1e-12

    assert out[3]["n_tokens"] == 0 and out[3]["top_gram"] == ""
    assert out[3]["frac_dup_tokens"] == 0.0 and out[3]["top_gram_char_frac"] == 0.0
    assert out[4]["n_tokens"] == 1 and out[4]["top_count"] == 0


def test_repetition_filter_drops_spam(spark):
    from simtradedata_spark.operators.textstats import repetition_filter

    kept = repetition_filter(
        _rep_docs(spark),
        "doc_id",
        "text",
        max_frac_dup_tokens=0.5,
        max_top_gram_char_frac=0.5,
    )
    # doc 0 fails both thresholds; doc 2 fails frac_dup_tokens (0.4 ok) —
    # 0.4 <= 0.5 passes; top "x y" covers 2*3/9 = 0.667 > 0.5 → dropped.
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4}
    # original columns survive the semi join
    assert set(kept.columns) == {"doc_id", "text"}


def test_training_mix_funnel_invariants(spark):
    """The composed pipeline's funnel must be monotone per source, exclude
    the benchmark source, and count the planted exact dups exactly once."""
    from simtradedata_spark.catalog import load_table
    from simtradedata_spark.operators.pipeline import training_mix_report

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rep = training_mix_report(docs).collect()
    sources = {r["source"] for r in rep}
    assert "src0" not in sources and len(sources) >= 2
    for r in rep:
        assert (
            r["n_docs"] >= r["n_quality"] >= r["n_unique"]
            >= r["n_clean"] >= r["n_sampled"] >= 0
        ), r
        if r["n_sampled"] == 0:
            assert r["sampled_tokens"] == 0
        else:
            assert r["sampled_tokens"] > 0
    # dedup stage: unique count equals distinct fingerprints among quality
    # passers (cross-checked coarsely: total unique <= total quality)
    tot = {k: sum(r[k] for r in rep) for k in ("n_quality", "n_unique")}
    assert tot["n_unique"] <= tot["n_quality"]


def test_connected_components_chain_and_triangle(spark):
    """A~B~C chain (A!~C), a triangle, and an isolated pair must close into
    3 components labeled by their minima."""
    from simtradedata_spark.operators.graph import connected_components, dedup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    clusters = dedup_clusters(edges).collect()
    canon = {r["doc_id"] for r in clusters if r["is_canonical"]}
    assert canon == {1, 10, 20}
    assert all(r["cluster_id"] == comp[r["doc_id"]] for r in clusters)


def test_connected_components_rounds_materialize_their_checkpoints(spark):
    """Each propagation round's lazy localCheckpoint is fully materialized
    by that round's changed-count, before the next round's two joins read
    it: right after connected_components returns, before any other action,
    every RDD it persisted has all its partitions cached. A long chain cut
    off by ``max_iter`` still changes labels in the last round. (Spark
    fills a local checkpoint's missing partitions after the first job that
    reads it, so a take in place of the count still passes; a round with no
    action at all does not.)"""
    from simtradedata_spark.functions.caching import snapshot
    from simtradedata_spark.operators.graph import connected_components

    edges = spark.range(63).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    before = snapshot(spark)
    connected_components(edges, max_iter=4)
    jsc = spark.sparkContext._jsc
    # storage first: an RDD still persistent after this read had its
    # blocks in place during it
    cached = {i.id(): i.numCachedPartitions() for i in jsc.sc().getRDDStorageInfo()}
    rdds = jsc.getPersistentRDDs()
    new = [k for k in rdds.keySet().toArray() if int(k) not in before]
    assert len(new) == 5, new  # sym, the init labels, 3 rounds
    for k in new:
        assert cached.get(int(k), 0) == rdds.get(k).getNumPartitions(), k


def test_chunk_documents_edges(spark):
    """Chunk boundaries: short doc -> one chunk; exact-multiple lengths;
    overlap reconstruction (consecutive chunks share `overlap` tokens)."""
    from simtradedata_spark.operators.textstats import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(10))),   # 10 toks: 1 chunk
            (1, " ".join(f"t{i}" for i in range(16))),   # 16 = chunk size
            (2, " ".join(f"t{i}" for i in range(17))),   # 16 + 1 spill
            (3, ""),                                      # empty: no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=16, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_idx"])
    assert 3 not in by_doc
    assert [r["n_tokens"] for r in by_doc[0]] == [10]
    # 16 tokens, step 12: starts 0 and 12 -> chunks of 16 and 4
    assert [r["n_tokens"] for r in by_doc[1]] == [16, 4]
    assert [r["n_tokens"] for r in by_doc[2]] == [16, 5]
    # overlap: chunk k's first 4 tokens == chunk k-1's tokens 12..16
    c0, c1 = by_doc[2][0]["chunk_text"].split(), by_doc[2][1]["chunk_text"].split()
    assert c1[:4] == c0[12:16]


def test_weighted_mixture_rates(spark):
    """floor(w) copies always survive; the fractional copy lands near
    frac(w); integral weights replicate exactly; w=0 drops everything."""
    from pyspark.sql import functions as F

    from simtradedata_spark.operators.sampling import weighted_mixture

    n = 2000
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    out2 = weighted_mixture(base, ["doc_id"], F.lit(2.0)).count()
    assert out2 == 2 * n
    out0 = weighted_mixture(base, ["doc_id"], F.lit(0.0)).count()
    assert out0 == 0
    out15 = weighted_mixture(base, ["doc_id"], F.lit(1.5)).count()
    assert abs(out15 - 1.5 * n) < 0.1 * n
    # determinism + partition invariance
    a = weighted_mixture(base, ["doc_id"], F.lit(0.7))
    b = weighted_mixture(base.repartition(7), ["doc_id"], F.lit(0.7))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_char_ngram_overlap_exact_substring(spark):
    from simtradedata_spark.operators.decontam import char_ngram_overlap

    shared60 = "x" * 10 + "the exact benchmark passage that must be caught" + "y" * 3
    assert len(shared60) == 60
    bench = spark.createDataFrame(
        [(100, f"benchmark doc holds {shared60} inside")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, f"training doc quoting {shared60} verbatim"),       # hit
            (2, "completely unrelated training text with no overlap at all"),
            # prefix ends in 'Z' (absent from the benchmark), so the only
            # 50-char windows contain it; the shared run itself is 49 < n
            (3, "short shared bitZ" + shared60[:49]),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_windows_hit
        for r in char_ngram_overlap(corpus, bench, n=50).collect()
    }
    assert 1 in got and got[1] >= 1
    assert 2 not in got
    assert 3 not in got  # sub-window-length overlap must NOT flag


def test_unigram_logprob_hand_oracle(spark):
    from math import log

    from simtradedata_spark.operators.textstats import unigram_logprob

    # corpus: "a a b" + "a c" → counts a=3, b=1, c=1, N=5
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "   ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # doc 3 is whitespace-only → no tokens → excluded
    assert set(out) == {1, 2}
    nll1 = log(5) - (log(3) + log(3) + log(1)) / 3
    nll2 = log(5) - (log(3) + log(1)) / 2
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["avg_nll"] - round(nll1, 6)) < 1e-9
    assert abs(out[2]["avg_nll"] - round(nll2, 6)) < 1e-9
    # rarer-token doc scores higher NLL (more "surprising")
    assert out[2]["avg_nll"] > out[1]["avg_nll"]


def test_unigram_logprob_keep_threshold(spark):
    from simtradedata_spark.operators.textstats import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "x x x x x x x x"), (2, "q w e r t y u i")],
        "doc_id long, text string",
    )
    # doc 1 repeats one dominant token (low NLL); doc 2 is all hapaxes
    out = {r["doc_id"]: r for r in unigram_logprob(docs, nll_threshold=1.0).collect()}
    assert out[1]["keep"] == 1 and out[2]["keep"] == 0
    assert out[2]["ppl"] > out[1]["ppl"]


def test_cluster_representatives_prefers_quality(spark):
    """The quality-aware retention step: given a chain cluster, the rep is
    the highest-quality member, not the min id."""
    from simtradedata_spark.operators.graph import dedup_clusters
    from simtradedata_spark.operators.textstats import quality_score
    from pyspark.sql import Window

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    # doc 3 has the best length score (closest to the 20-token sweet spot)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d"), (3, " ".join("word" for _ in range(20)))],
        "doc_id long, text string",
    )
    clusters = dedup_clusters(pairs)
    q = quality_score(docs).select("doc_id", "quality_score")
    j = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    top = (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    )
    assert len(top) == 1
    assert top[0]["cluster_id"] == 1 and top[0]["doc_id"] == 3


def test_bigram_logprob_hand_oracle(spark):
    """bigram_logprob == the hand-computed interpolated model: first token
    unigram-only, later tokens 0.7·p(cur|prev) + 0.3·p(cur)."""
    from math import log

    from simtradedata_spark.operators.textstats import bigram_logprob

    # corpus: "a b a b" + "b a" → uni: a=3,b=3, N=6; bi: ab=2, ba=2 (doc2's
    # "b a" adds one ba)
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert set(out) == {1, 2}

    cu = {"a": 3, "b": 3}
    cb = {("a", "b"): 2, ("b", "a"): 2}
    N = 6

    def p(prev, cur):
        pu = cu[cur] / N
        if prev is None or (prev, cur) not in cb:
            return pu
        return 0.7 * (cb[(prev, cur)] / cu[prev]) + (1 - 0.7) * pu

    for doc_id, toks in ((1, ["a", "b", "a", "b"]), (2, ["b", "a"])):
        pairs = [(None, toks[0])] + list(zip(toks, toks[1:]))
        nll = sum(-log(p(pr, c)) for pr, c in pairs) / len(pairs)
        assert out[doc_id]["n_tokens"] == len(toks)
        assert abs(out[doc_id]["avg_nll"] - round(nll, 6)) < 1e-6
    # repetitive in-context text scores lower NLL than the fragmentary doc
    assert out[1]["avg_nll"] < out[2]["avg_nll"]


def test_feature_hash_embedding_properties(spark):
    """Unit vectors; identical token multisets → identical vectors (any
    order); disjoint-token docs → orthogonal; empty doc absent."""
    from simtradedata_spark.operators.textstats import feature_hash_embedding

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, "beta alpha alpha"),   # same multiset, different order
            (3, "gamma delta"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: list(r["embedding"]) for r in
           feature_hash_embedding(docs, dim=16).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == out[2]
    norm = sum(w * w for w in out[1])
    assert abs(norm - 1.0) < 1e-9
    dot13 = sum(a * b for a, b in zip(out[1], out[3]))
    # alpha/beta vs gamma/delta: orthogonal unless a 16-bucket collision
    assert dot13 < 0.9
    assert len(out[1]) == 16


def test_stratified_sample_k_exact_and_invariant(spark):
    """Every group capped at exactly k (smaller groups kept whole), and
    the winner set is invariant to partitioning."""
    from simtradedata_spark.operators.sampling import stratified_sample_k

    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS grp"
    ).union(spark.range(1000, 1003).selectExpr("id", "'tiny' AS grp"))
    s1 = stratified_sample_k(df, ["grp"], ["id"], k=50)
    counts = {r["grp"]: r["n"] for r in
              s1.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts["tiny"] == 3
    assert all(v == 50 for g, v in counts.items() if g != "tiny")
    ids1 = sorted(r["id"] for r in s1.collect())
    s2 = stratified_sample_k(df.repartition(13), ["grp"], ["id"], k=50)
    assert sorted(r["id"] for r in s2.collect()) == ids1
    # salt derives an independent selection
    s3 = stratified_sample_k(df, ["grp"], ["id"], k=50, salt="v2")
    assert sorted(r["id"] for r in s3.collect()) != ids1


def test_negative_samples_never_anchor_and_uniformish(spark):
    from simtradedata_spark.operators.sampling import negative_samples

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    pairs = negative_samples(df, "doc_id", k=5).collect()
    assert len(pairs) == 1000
    assert all(r["neg_id"] != r["doc_id"] for r in pairs)
    # degenerate domain: a single id has no valid negative -> empty, no error
    one = spark.range(1).withColumnRenamed("id", "doc_id")
    assert negative_samples(one, "doc_id", k=3).count() == 0
    assert all(0 <= r["neg_id"] < 200 for r in pairs)
    # coverage: with 1000 uniform draws over 200 ids, most ids appear
    hit = {r["neg_id"] for r in pairs}
    assert len(hit) > 150
    # determinism under repartition
    again = negative_samples(df.repartition(7), "doc_id", k=5).collect()
    assert sorted(map(tuple, pairs)) == sorted(map(tuple, again))


def test_hard_negatives_excludes_near_dups(spark):
    import numpy as np

    from simtradedata_spark.operators.similarity import (
        cosine_top_k,
        hard_negative_top_k,
    )

    rng = np.random.RandomState(5)
    base = rng.randn(30, 8).astype("float32")
    base[1] = base[0] + rng.randn(8).astype("float32") * 0.01  # near-dup of 0
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter("vec_id = 0")
    top = sorted(cosine_top_k(df, q, k=3).collect(), key=lambda r: r["rank"])
    assert top[0]["neighbor_id"] == 1  # plain top-k returns the near-dup
    hard = hard_negative_top_k(df, q, k=3, max_sim=0.9).collect()
    ids = [r["neighbor_id"] for r in hard]
    assert 1 not in ids and len(ids) == 3  # filtered rank still yields k


def test_remove_boilerplate_lines_hand_oracle(spark):
    """C4-style cross-doc line filter: the footer appears in 3 distinct
    docs (>= min_docs) and is struck everywhere; the 2-doc header stays;
    line order survives the rebuild; an all-boilerplate doc comes back
    as ''. Blank lines are never counted as boilerplate."""
    from simtradedata_spark.operators.textstats import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\ncommon footer\ngamma"),
            (2, "header here\ncommon footer\n\ndelta"),
            (3, "header here\nepsilon\ncommon footer"),
            (4, "common footer"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert out[1] == ("alpha beta\ngamma", 3, 1)
    assert out[2] == ("header here\n\ndelta", 4, 1)
    assert out[3] == ("header here\nepsilon", 3, 1)
    assert out[4] == ("", 1, 1)
    assert out[5] == ("", 1, 0)


def test_remove_boilerplate_counts_distinct_docs_not_occurrences(spark):
    """5 repeats inside ONE doc must not cross a min_docs=2 threshold;
    one occurrence in each of two docs must."""
    from simtradedata_spark.operators.textstats import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "spam\nspam\nspam\nspam\nspam\nkeep me"),
            (2, "unique line\nshared line"),
            (3, "shared line\nother text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_boilerplate_lines(docs, min_docs=2).collect()
    }
    assert out[1] == ("spam\nspam\nspam\nspam\nspam\nkeep me", 0)
    assert out[2] == ("unique line", 1)
    assert out[3] == ("other text", 1)


def test_dsir_importance_ranks_target_like_docs(spark):
    """DSIR: pool docs written in the target's vocabulary must outscore
    docs from a disjoint vocabulary, and scores must be invariant to
    partitioning (broadcast LM dims + one doc-id shuffle)."""
    from simtradedata_spark.operators.textstats import dsir_importance

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(5)],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha delta beta"),
            (3, "zog quux blarg"),
            (4, "quux zog mumble"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["log_ratio"]
        for r in dsir_importance(pool, target).collect()
    }
    assert min(out[1], out[2]) > max(out[3], out[4])
    out2 = {
        r["doc_id"]: r["log_ratio"]
        for r in dsir_importance(pool.repartition(7), target.repartition(3)).collect()
    }
    assert out == out2


def test_dsir_importance_smoothing_handles_unseen_buckets(spark):
    """A pool token never seen in the target must not produce -inf/NULL:
    add-1 smoothing over the bucket grid keeps every score finite."""
    import math

    from simtradedata_spark.operators.textstats import dsir_importance

    target = spark.createDataFrame(
        [(1, "alpha alpha alpha")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(2, "neverseen tokens only")], "doc_id long, text string"
    )
    rows = dsir_importance(pool, target).collect()
    assert len(rows) == 1 and math.isfinite(rows[0]["log_ratio"])


def test_logistic_regression_matches_python_and_learns(spark):
    """Full-batch GD: the trajectory matches a pure-python replay of the
    same rounding discipline, and on a separable toy problem the learned
    weight is positive for the predictive feature."""
    import math

    from simtradedata_spark.operators.mlr import logistic_regression

    rows = [(float(i % 7), 1 if i % 7 >= 3 else 0) for i in range(40)]
    df = spark.createDataFrame(rows, "f1 double, y int")
    traj = logistic_regression(df, ["f1"], "y", steps=4, lr=0.3)

    w = [0.0, 0.0]
    n = len(rows)
    want = []
    for _ in range(4):
        g0 = round(sum(1 / (1 + math.exp(-(w[0] + w[1] * f))) - y
                       for f, y in rows), 6)
        g1 = round(sum((1 / (1 + math.exp(-(w[0] + w[1] * f))) - y) * f
                       for f, y in rows), 6)
        w = [round(w[0] - 0.3 * g0 / n, 6), round(w[1] - 0.3 * g1 / n, 6)]
        want.append(list(w))
    assert traj == want
    assert traj[-1][1] > 0  # higher f1 → class 1


def test_logistic_regression_predict_scores_columnar(spark):
    from simtradedata_spark.operators.mlr import logistic_regression, predict
    from pyspark.sql import functions as F

    rows = [(float(i % 5), 1 if i % 5 >= 2 else 0) for i in range(50)]
    df = spark.createDataFrame(rows, "f1 double, y int")
    w = logistic_regression(df, ["f1"], "y", steps=25, lr=1.0)[-1]
    acc = (
        df.select(((predict(w, ["f1"]) > 0.5).cast("int") == F.col("y"))
                  .cast("int").alias("ok"))
        .agg(F.avg("ok")).first()[0]
    )
    assert acc == 1.0  # separable problem: the columnar scorer classifies


def test_classifier_eval_auc_matches_python_with_ties(spark):
    """Rank-based AUC with average ranks for ties vs an independent
    pure-python Mann-Whitney computation, on a case WITH tied margins
    (duplicate feature values across classes) and an exactly-known
    confusion matrix."""
    from simtradedata_spark.operators.mlr import classifier_eval

    # w = [b=-1, w1=1] → z = f1 - 1;  f1 values engineered for ties
    rows = [(0.0, 0), (0.5, 0), (0.5, 1), (2.0, 0), (2.0, 1), (2.0, 1), (3.0, 1)]
    df = spark.createDataFrame(rows, "f1 double, y int")
    r = classifier_eval(df, [-1.0, 1.0], ["f1"], "y").collect()[0]

    import itertools

    pos = [f for f, y in rows if y == 1]
    neg = [f for f, y in rows if y == 0]
    u = sum(
        1.0 if p > n_ else (0.5 if p == n_ else 0.0)
        for p, n_ in itertools.product(pos, neg)
    )
    want_auc = round(u / (len(pos) * len(neg)), 6)
    assert r["auc"] == want_auc
    assert (r["n_pos"], r["n_neg"]) == (4, 3)
    # z>0 ⇔ f1>1: predictions 1 for f∈{2,2,2,3}, so tp=3 fp=1 fn=1 tn=2
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 1, 1, 2)
    assert r["accuracy"] == round(5 / 7, 6)


def test_classifier_eval_window_input_is_distinct_margins(spark):
    """The unpartitioned AUC rank window (the suite's only
    'No Partition Defined' WindowExec) runs over the groupBy(__z)
    DISTINCT-MARGIN frame, never the corpus: its input cardinality is
    bounded by feature cardinality (5 here for a 10k-row corpus), which
    is why the single-partition window is safe at 100 TB. Asserts the
    structure — the Window sits directly above the margin aggregate —
    so no future reader has to re-derive the bound from the plan."""
    from simtradedata_spark.operators.mlr import classifier_eval

    rows = [(float(i % 5), i % 2) for i in range(10_000)]
    df = spark.createDataFrame(rows, "f1 double, y int")
    out = classifier_eval(df, [0.0, 1.0], ["f1"], "y")

    plan = out._jdf.queryExecution().executedPlan().toString()
    widx = plan.index("Window")
    below = plan[widx:]
    # the window's child subtree is the margin aggregate — grouped on __z,
    # i.e. one input row per DISTINCT margin
    aidx = below.index("HashAggregate")
    assert "__z" in below[aidx : aidx + 200], plan
    # and the values still come out right on the tied-margin corpus
    r = out.collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (5_000, 5_000)


def test_logistic_regression_empty_raises_and_nulls_dropped(spark):
    """Empty input raises a clear error (not a None-arithmetic TypeError);
    rows with a null feature or label are excluded from BOTH the gradient
    sums and the denominator — otherwise n counts rows F.sum skipped and
    every step's weights are silently mis-scaled."""
    import pytest as _pytest

    from simtradedata_spark.operators.mlr import logistic_regression

    empty = spark.createDataFrame([], "f1 double, y int")
    with _pytest.raises(ValueError, match="no trainable rows"):
        logistic_regression(empty, ["f1"], "y", steps=1)

    rows = [(float(i % 7), 1 if i % 7 >= 3 else 0) for i in range(40)]
    clean = spark.createDataFrame(rows, "f1 double, y int")
    noisy = spark.createDataFrame(
        rows + [(None, 1), (3.0, None), (None, None)], "f1 double, y int"
    )
    assert (
        logistic_regression(noisy, ["f1"], "y", steps=3, lr=0.3)
        == logistic_regression(clean, ["f1"], "y", steps=3, lr=0.3)
    )


def test_dup_gram_coverage_interval_union(spark):
    """Gopher's duplicated-n-gram coverage is an interval UNION: overlapping
    occurrences count each token position once (frac caps at 1.0), short
    docs and dup-free docs come back 0."""
    from simtradedata_spark.operators.textstats import dup_gram_coverage

    rows = [
        # trigram "a b c" at positions 1 and 4 → covers tokens 1..6 of 7
        (0, "a b c a b c x"),
        # "a a a" at 1 and 2 overlap → union covers all 4 (not 6)
        (1, "a a a a"),
        (2, "p q r s t"),   # no duplicated trigram
        (3, "x y"),          # too short for a trigram
        (4, ""),             # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dup_gram_coverage(df, "doc_id", "text", n=3).collect()
    }
    assert (out[0]["covered_tokens"], out[0]["n_tokens"]) == (6, 7)
    assert abs(out[0]["dup_gram_frac"] - 6 / 7) < 1e-12
    assert (out[1]["covered_tokens"], out[1]["dup_gram_frac"]) == (4, 1.0)
    assert out[2]["covered_tokens"] == 0 and out[2]["dup_gram_frac"] == 0.0
    assert out[3]["covered_tokens"] == 0 and out[4]["covered_tokens"] == 0
    assert out[4]["dup_gram_frac"] == 0.0


def test_repetition_filter_dup_gram_threshold(spark):
    """max_dup_gram_frac composes the coverage rule with the existing
    thresholds; None (default) must not change the previous behavior."""
    from simtradedata_spark.operators.textstats import repetition_filter

    df = spark.createDataFrame(
        [(0, "a b c a b c x"), (1, "p q r s t")], "doc_id long, text string"
    )
    loose = dict(max_frac_dup_tokens=1.0, max_top_gram_char_frac=10.0)
    both = repetition_filter(df, "doc_id", "text", n=3, **loose)
    assert {r["doc_id"] for r in both.collect()} == {0, 1}
    kept = repetition_filter(
        df, "doc_id", "text", n=3, max_dup_gram_frac=0.5, **loose
    )
    # doc 0's duplicated trigram covers 6/7 > 0.5 → dropped; doc 1 has none
    assert {r["doc_id"] for r in kept.collect()} == {1}
