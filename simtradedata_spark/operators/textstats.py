"""Text analysis operators (LLM-pipeline extension, BASELINE.json):
token counting, quality scoring, language-ID heuristic, document
fingerprinting. All built-in column expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simtradedata_spark.functions.caching import scratch_persist

from simtradedata_spark.operators.dedup import let, tokens

# A small multilingual stopword table for the language-ID heuristic.
# Deliberately tiny + deterministic (this is a heuristic, not a model).
# Explicit ASCII punctuation class — identical meaning in Java regex (Spark)
# and RE2 (DuckDB oracle), unlike \p{Punct}.
PUNCT_CLASS = r"""[!-/:-@\[-`{-~]"""

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "en"],
}


def token_count(text_col: Column | str) -> Column:
    return F.size(tokens(text_col))


def char_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens, n_chars_calc, avg_token_len, punct_ratio,
    digit_ratio — the standard cheap quality features. Tokens are staged
    once (see detect_language_from note)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    strip = lambda pat: n_chars - F.length(F.regexp_replace(c, pat, ""))

    # let-bound struct: tokenize once per row even after projection collapse
    # inlines this into every derived column (see dedup.let).
    def tok_struct(t):
        return F.struct(
            F.size(t).alias("n_tokens"),
            F.when(
                F.size(t) > 0,
                F.aggregate(
                    F.transform(t, lambda x: F.length(x).cast("double")),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
                / F.size(t),
            ).alias("avg_token_len"),
        )

    df = df.withColumn("__cs", let(tokens(text_col), tok_struct))
    return (
        df.withColumn("n_tokens", F.col("__cs.n_tokens"))
        .withColumn("n_chars_calc", n_chars)
        .withColumn("avg_token_len", F.col("__cs.avg_token_len"))
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0, strip(PUNCT_CLASS) / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "digit_ratio",
            F.when(n_chars > 0, strip(r"[0-9]") / n_chars).otherwise(F.lit(0.0)),
        )
        .drop("__cs")
    )


def detect_language_from(toks: Column) -> Column:
    """Stopword-vote language ID over a MATERIALIZED token-array column: the
    language whose stopword list hits the most tokens; ties go to dict order;
    'und' (undetermined) when no list hits. Keep tokenization staged in its
    own projection — inlining it here evaluates the regex split once per
    language per use (8×)."""
    best_lang, best_hits = F.lit("und"), F.lit(0)
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        cond = hits > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hits).otherwise(best_hits)
    return best_lang


def detect_language(df: DataFrame, text_col: str, out_col: str = "lang_detected") -> DataFrame:
    """DataFrame form of the stopword-vote language ID (stages tokens once)."""
    return df.withColumn("__lv_toks", tokens(text_col)).withColumn(
        out_col, detect_language_from(F.col("__lv_toks"))
    ).drop("__lv_toks")


def fingerprint(text_col: Column | str) -> Column:
    """Canonical-form document fingerprint: lowercase, collapse whitespace,
    md5 — the exact-dup key that survives formatting noise."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    canon = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(canon)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the cheap features: penalize
    too-short/too-long docs, high punctuation/digit density, low stopword
    density. Weights are heuristic constants, stable across runs."""
    d = char_stats(df, text_col)
    len_score = F.least(F.col("n_tokens") / F.lit(20.0), F.lit(1.0)) * F.least(
        F.lit(2000.0) / F.greatest(F.col("n_tokens"), F.lit(1)), F.lit(1.0)
    )
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 5)
    digit_pen = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("digit_ratio") * 3)
    return d.withColumn(
        "quality_score",
        F.round(len_score * punct_pen * digit_pen, 6),
    )


# Offline-trained linear quality classifier (the fastText-proxy stage of a
# curation pipeline). Coefficients ship as constants — at 100 TB the model
# trains once on a labeled sample and INFERENCE is the distributed problem;
# expressing it as columnar exprs keeps scoring inside whole-stage codegen,
# no UDF, no model server in the hot path.
QUALITY_LOGIT_WEIGHTS: dict[str, float] = {
    "bias": -1.0,
    "log_tokens": 0.45,
    "punct_ratio": -6.0,
    "digit_ratio": -4.0,
}


def logit_quality_score(
    df: DataFrame, text_col: str = "text", weights: dict[str, float] | None = None
) -> DataFrame:
    """Append ``quality_logit`` / ``quality_p`` / ``keep`` from a linear
    model over the cheap text features. Features are rounded to 6dp BEFORE
    the dot product so the logit is reproducible bit-for-bit across
    engines/runs (the keep threshold sits on the raw logit's sign)."""
    w = weights or QUALITY_LOGIT_WEIGHTS
    d = char_stats(df, text_col)
    z = (
        F.lit(w["bias"])
        + F.lit(w["log_tokens"]) * F.round(F.log1p(F.col("n_tokens")), 6)
        + F.lit(w["punct_ratio"]) * F.round(F.col("punct_ratio"), 6)
        + F.lit(w["digit_ratio"]) * F.round(F.col("digit_ratio"), 6)
    )
    return (
        d.withColumn("quality_logit", z)
        .withColumn("quality_p", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("quality_logit"))))
        .withColumn("keep", (F.col("quality_logit") > 0).cast("int"))
    )


def repetition_stats(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition features per document (Rae et al. 2021 §A1.1,
    adapted to word level because our corpus is single-line):

      - ``frac_dup_tokens``  = 1 − distinct/total tokens — bulk repetition.
      - ``top_gram`` / ``top_count`` — the most frequent word ``n``-gram
        (ties broken by count desc, gram asc — deterministic cross-engine).
      - ``top_gram_char_frac`` = chars covered by occurrences of the top
        n-gram / total chars — the "top n-gram fraction" filter signal.

    Scale: single scan, no self-join — explode_outer carries the per-doc
    scalars alongside each gram, then two stacked aggregations (groupBy
    (key, gram) count → groupBy(key) min(struct(-count, gram))) produce the
    mode. Both shuffles are keyed by document; nothing is bounded by
    document count, and the text is tokenized exactly once.
    """
    # One let-bound struct per row: tokenize ONCE, derive scalars + the gram
    # array from the bound variable (see dedup.let — staging via projections
    # does not survive CollapseProject, and an inlined split re-evaluates
    # per gram index).
    def stats_struct(t: Column) -> Column:
        # sequence() DESCENDS when stop < start, so guard short docs.
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.struct(
            F.size(t).alias("n_tokens"),
            F.size(F.array_distinct(t)).alias("n_distinct"),
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n))).alias(
                "grams"
            ),
        )

    toked = df.select(
        key_col,
        F.length(text_col).alias("__n_chars"),
        let(tokens(text_col), stats_struct).alias("__s"),
    )
    exploded = toked.select(
        key_col,
        "__n_chars",
        F.col("__s.n_tokens").alias("n_tokens"),
        F.col("__s.n_distinct").alias("__n_distinct"),
        F.explode_outer("__s.grams").alias("gram"),
    )
    gram_counts = exploded.groupBy(key_col, "gram").agg(
        F.count(F.lit(1)).alias("c"),
        F.first("__n_chars").alias("__n_chars"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("__n_distinct").alias("__n_distinct"),
    )
    top = gram_counts.groupBy(key_col).agg(
        F.min(
            # explode_outer emits gram=NULL for gram-less docs; min(struct)
            # ignores null grams only if we push the null to the far end.
            F.when(
                F.col("gram").isNotNull(),
                F.struct((-F.col("c")).alias("nc"), F.col("gram")),
            )
        ).alias("__top"),
        F.first("__n_chars").alias("__n_chars"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("__n_distinct").alias("__n_distinct"),
    )
    top_gram = F.coalesce(F.col("__top.gram"), F.lit(""))
    top_count = F.coalesce(-F.col("__top.nc"), F.lit(0)).cast("long")
    return top.select(
        key_col,
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            1.0 - F.col("__n_distinct") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("frac_dup_tokens"),
        top_gram.alias("top_gram"),
        top_count.alias("top_count"),
        F.when(
            F.col("__n_chars") > 0,
            top_count * F.length(top_gram) / F.col("__n_chars"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_gram_char_frac"),
    )


def repetition_filter(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    max_frac_dup_tokens: float = 0.95,
    max_top_gram_char_frac: float = 0.20,
    max_dup_gram_frac: float | None = None,
) -> DataFrame:
    """Drop documents failing the repetition thresholds (the filtering form
    of ``repetition_stats`` — keeps the original columns).
    ``max_dup_gram_frac`` additionally applies the duplicated-n-gram
    coverage rule (``dup_gram_coverage``, Gopher's second A1.1 signal) at
    the same ``n``; None (default) skips that pass and its extra scan."""
    stats = repetition_stats(df, key_col, text_col, n).filter(
        (F.col("frac_dup_tokens") <= max_frac_dup_tokens)
        & (F.col("top_gram_char_frac") <= max_top_gram_char_frac)
    )
    out = df.join(stats.select(key_col), key_col, "left_semi")
    if max_dup_gram_frac is not None:
        cov = dup_gram_coverage(out, key_col, text_col, n).filter(
            F.col("dup_gram_frac") <= max_dup_gram_frac
        )
        out = out.join(cov.select(key_col), key_col, "left_semi")
    return out


def dup_gram_coverage(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Gopher §A1.1's SECOND repetition signal (Rae et al. 2021) — the
    "fraction of characters in duplicate n-grams" family, token-position
    exact: a position is COVERED when any within-document n-gram occurring
    ≥2 times spans it, and overlapping occurrences count each position
    once (the union of intervals, not the sum — a doc that is one phrase
    repeated should approach 1.0, never exceed it).
    ``repetition_stats`` measures only the single most frequent gram; this
    measures total internal duplication, the filter Gopher applies at
    n=5..10.

    Returns (key, n_tokens, covered_tokens, dup_gram_frac). Scale: the
    text is tokenized once (let-bound), occurrences carry their start
    index, and both aggregations — (key, gram) start-collection and the
    per-key interval-union length (closed-form array math over the sorted
    starts, substrings._union_len — no position explode, no distinct) —
    shuffle ONLY on document keys; nothing is bounded by corpus size per
    task. The per-gram start list is bounded by one document's
    occurrences of one gram.

    Caching: the staged gram frame is ``persist()``-ed for the duration of
    the query (it feeds both output branches). Library callers in a
    long-lived session should call ``functions.caching.release_scratch``
    after consuming the result, or the cached partitions accumulate."""

    def occ_struct(t: Column) -> Column:
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.struct(
            F.size(t).alias("n_tokens"),
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("s"),
                    F.concat_ws(" ", F.slice(t, i, n)).alias("gram"),
                ),
            ).alias("occ"),
        )

    # SCRATCH persist (released between queries by release_scratch): the
    # frame feeds both the per-doc lengths and the occurrence explosion —
    # without it the tokenize+slice+concat gram construction runs twice
    toked = scratch_persist(df.select(
        key_col, let(tokens(text_col), occ_struct).alias("__s")
    ))
    per_doc = toked.select(key_col, F.col("__s.n_tokens").alias("n_tokens"))
    occ = toked.select(key_col, F.explode("__s.occ").alias("o")).select(
        key_col, F.col("o.s").alias("s"), F.col("o.gram").alias("gram")
    )
    dup = occ.groupBy(key_col, "gram").agg(
        F.collect_list("s").alias("starts")
    ).filter(F.size("starts") >= 2)
    # Union length of the fixed-width intervals [s, s+n-1] over every
    # repeated gram's starts, closed-form per doc (substrings._union_len):
    # one doc-keyed aggregation of the start lists, no position explode,
    # no corpus-wide distinct. Starts are unique within a doc (a start
    # determines its gram), so the flatten needs no dedup.
    from simtradedata_spark.operators.substrings import _union_len

    covered = (
        dup.groupBy(key_col)
        .agg(
            F.array_sort(F.flatten(F.collect_list("starts"))).alias("ss")
        )
        .select(key_col, _union_len(F.col("ss"), n).alias("covered_tokens"))
    )
    return per_doc.join(covered, key_col, "left").select(
        key_col,
        "n_tokens",
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
            "covered_tokens"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_gram_frac"),
    )


# GPT-2-style pre-tokenizer segments: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. Deliberately restricted to
# syntax valid in BOTH Java regex (Spark) and RE2 (DuckDB oracle) — no
# lookahead, so pure-whitespace runs are simply not counted as segments.
BPE_PRETOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(text_col: Column | str) -> Column:
    """LLM token-budget proxy: count of GPT-2-style pre-tokenizer segments.
    Real BPE merges operate within these segments, so the segment count is a
    lower bound on (and strong correlate of) the actual BPE token count —
    the standard cheap estimator when the tokenizer itself isn't shipped."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_PRETOKEN_RE))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-tokenization step for context-bounded training samples.

    Chunks start every ``chunk_tokens - overlap`` tokens; the final chunk
    may be short; empty docs produce no chunks. Pure scan-local expressions
    (let-bound token array → one struct array → explode): no shuffle, no
    Python, linear in document length — a 100 TB corpus chunks at scan
    speed. Output: (id, chunk_idx, n_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap

    def chunks(t: Column) -> Column:
        starts = F.when(
            F.size(t) > 0,
            F.sequence(F.lit(0), F.size(t) - 1, F.lit(step)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda s: F.struct(
                (s / step).cast("int").alias("chunk_idx"),
                F.least(F.lit(chunk_tokens), F.size(t) - s).alias("n_tokens"),
                F.concat_ws(" ", F.slice(t, s + 1, chunk_tokens)).alias(
                    "chunk_text"
                ),
            ),
        )

    return df.select(
        F.col(id_col),
        F.explode(let(tokens(text_col), chunks)).alias("__c"),
    ).select(
        id_col,
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.n_tokens").alias("n_tokens"),
        F.col("__c.chunk_text").alias("chunk_text"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (tf · (ln((N+1)/(df+1)) + 1), sklearn-style smoothing so corpus-wide
    terms score low but never negative). Ties break (score desc, term asc)
    — deterministic cross-engine.

    Plan: explode tokens → (doc, term) counts (one shuffle, map-side
    combined) → document frequency per term (second aggregation on the
    already-shuffled term side) → broadcast df back (term dictionary ≪
    corpus) → per-doc top-k window. At 100 TB the df table is the only
    global state and it is vocabulary-sized, not corpus-sized."""
    from simtradedata_spark.operators.topk import top_k_per_group

    # N as a broadcast 1-row aggregate, not a separate driver job — the
    # corpus count stays inside the plan (same pattern as frequent_tokens).
    n_docs = df.agg(F.countDistinct(id_col).alias("__n_docs"))
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("__n_docs") + 1) / (F.col("df") + 1)) + 1.0),
                6,
            ),
        )
    )
    return top_k_per_group(
        scored, [id_col], k, F.col("tfidf").desc(), F.col("term").asc()
    ).select(id_col, "term", "tf", "df", "tfidf", F.col("rk").alias("rank"))


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nll_threshold: float = 3.45,
) -> DataFrame:
    """Unigram language-model document scoring — the CCNet/KenLM-style
    perplexity filter at its order-0 baseline (beyond-reference LLM-pipeline
    mandate). Train token probabilities on the corpus itself with one
    aggregation over the exploded token stream, then score each document by
    the mean negative log-likelihood of its tokens: high-NLL documents are
    "surprising" under the corpus LM (OCR noise, symbol soup, off-language
    text) and get ``keep = 0``.

    Plan: explode → per-token counts with map-side combine. The trained LM
    is VOCABULARY-sized — the only global state; at 100 TB it is a few
    hundred MB and broadcasts, exactly like the TF-IDF dictionary above —
    so scoring is a broadcast hash join on the token, and the per-doc mean
    is the single corpus-sized shuffle (on the doc id). The corpus total N
    folds in algebraically as ``ln N − avg(ln c)``, so no second corpus
    pass and no per-row division by a global.

    Returns (id_col, n_tokens, avg_nll, ppl, keep); zero-token documents
    carry no likelihood and are excluded in both engines.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    freq = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    # The corpus total folds in as a broadcast 1-row aggregate OVER THE
    # VOCABULARY table (not a second corpus pass, and not an eager driver
    # job — the whole score stays one lazy plan). Grouping by the constant
    # __n_total mirrors the oracle's GROUP BY doc_id, n_total exactly.
    totals = freq.agg(F.sum("__c").alias("__n_total"))
    nll = F.log(F.col("__n_total").cast("double")) - F.avg(
        F.log(F.col("__c").cast("double"))
    )
    scored = (
        tok.join(F.broadcast(freq), "__t")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col, "__n_total")
        .agg(F.count(F.lit(1)).alias("n_tokens"), nll.alias("__nll"))
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        F.round("__nll", 6).alias("avg_nll"),
        F.round(F.exp("__nll"), 3).alias("ppl"),
        (F.round("__nll", 6) <= F.lit(nll_threshold)).cast("int").alias("keep"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    interp: float = 0.7,
    nll_threshold: float = 3.48,
) -> DataFrame:
    """Interpolated bigram LM scoring — one order up from
    ``unigram_logprob``, the same shape a KenLM-style order-n filter has at
    scale: the model is a SET OF COUNT TABLES joined against the token
    stream, not a per-row UDF. Token i scores
    ``p = interp·c(prev,cur)/c(prev) + (1−interp)·c(cur)/N`` (first token:
    unigram only); doc score = mean −ln p.

    Scale shape: bigrams are built scan-locally from the token array (no
    per-doc window, no extra shuffle); the unigram table is
    vocabulary-sized and broadcasts; the bigram table is
    distinct-bigram-sized — broadcast here, but at 100 TB it is the one LM
    table that may outgrow the broadcast threshold, in which case its join
    becomes an ordinary shuffle hash join on (prev, cur) and everything
    else is unchanged (that knob is the honest difference between order-1
    and order-n). Every probability is identical algebra over integer
    counts, so cross-engine results agree to the rounding the oracle pins.
    """
    toks = tokens(text_col)

    def entries(t: Column) -> Column:
        first = F.when(
            F.size(t) > 0,
            F.array(
                F.struct(
                    F.lit(None).cast("string").alias("prev"),
                    t[0].alias("cur"),
                )
            ),
        ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
        rest = F.transform(
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda x, i: F.struct(t[i].alias("prev"), x.alias("cur")),
        )
        return F.concat(first, rest)

    stream = df.select(
        F.col(id_col), F.explode(let(toks, entries)).alias("__e")
    ).select(id_col, "__e.prev", "__e.cur")

    uni = stream.groupBy("cur").agg(F.count(F.lit(1)).alias("__cu"))
    totals = uni.agg(F.sum("__cu").alias("__n_total"))
    bi = (
        stream.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("__cb"))
    )
    ctx = uni.select(F.col("cur").alias("prev"), F.col("__cu").alias("__cp"))

    scored = (
        stream.join(F.broadcast(uni), "cur")
        .join(F.broadcast(bi), ["prev", "cur"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(totals))
    )
    p_uni = F.col("__cu") / F.col("__n_total")
    p_bi = F.col("__cb") / F.col("__cp")
    p = F.when(
        F.col("prev").isNull() | F.col("__cb").isNull(), p_uni
    ).otherwise(F.lit(interp) * p_bi + F.lit(1.0 - interp) * p_uni)
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(-F.log(p)).alias("__nll"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        F.round("__nll", 6).alias("avg_nll"),
        F.round(F.exp("__nll"), 3).alias("ppl"),
        (F.round("__nll", 6) <= F.lit(nll_threshold)).cast("int").alias("keep"),
    )


def feature_hash_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashing-trick text vectorizer: token → hash-assigned bucket →
    L2-normalized count vector of fixed ``dim``. The model-free
    featurization (fastText/CCNet-style bag-of-hashed-words) that bridges
    the text operators to the embedding family — its output ``embedding``
    column feeds cosine_top_k / LSH ANN / cosine_near_dups directly, giving
    an end-to-end text → vector → ANN-dedup path with no external model.

    All JVM: explode → pmod-bucket → one groupBy(id, bucket) with map-side
    combine → per-doc map assembly. The squared norm is summed in INTEGER
    arithmetic (counts are ints), so normalization is exact cross-engine up
    to one sqrt and one division per element. Token-less docs are absent
    (no vector exists).
    """
    from simtradedata_spark.operators.dedup import _hash64

    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        F.pmod(_hash64(F.col("__t"), hash_fn), F.lit(dim)).alias("__b"),
    )
    counts = tok.groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__b"), F.col("__c")))
        ).alias("__m"),
        F.sum(F.col("__c") * F.col("__c")).alias("__n2"),
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("__m", i.cast("long")), F.lit(0))
        / F.sqrt(F.col("__n2").cast("double")),
    )
    return per_doc.select(F.col(id_col), emb.alias("embedding"))


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Cross-document line-level boilerplate removal — the C4 corpus-level
    line filter (Raffel et al. 2020 §2.2 discard lines duplicated across
    the corpus; RefinedWeb line-wise dedup): a line whose trimmed text
    appears in >= ``min_docs`` DISTINCT documents (cookie banners, nav
    menus, license footers) is removed from every document, and each
    document's text is rebuilt from its surviving lines in order.

    Returns (id_col, clean_text, n_lines, n_removed) for every input doc;
    a doc whose lines were all boilerplate comes back with clean_text ''.

    Plan: explode lines (scan-local) → one (line-text) shuffle with
    map-side-combined distinct-doc counts, reduced to the boilerplate SET
    (small by definition: only lines crossing the threshold survive) →
    broadcast left join flags each line in place → ONE groupBy(doc) builds
    the cleaned text (ordered array_sort on (line_no, line) structs — no
    collect_list ordering assumption) and both counters. Two shuffles
    total, corpus never shuffled twice; at 100 TB the boilerplate dim is
    the only state that moves to every executor. ``sep`` is a Java regex
    used to split; ``join_sep`` (default: ``sep`` itself, correct for the
    plain-newline case) rejoins the surviving lines.
    """
    if join_sep is None:
        join_sep = sep
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__ln", "__line"),
    )
    norm = F.trim(F.col("__line"))
    boiler = (
        lines.filter(norm != "")
        .groupBy(norm.alias("__norm"))
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__norm")
    )
    flagged = lines.join(
        F.broadcast(boiler), norm == F.col("__norm"), "left"
    )
    kept_struct = F.when(
        F.col("__norm").isNull(), F.struct("__ln", "__line")
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__line"],
            ),
            join_sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("__norm").isNotNull(), 1).otherwise(0)).alias(
            "n_removed"
        ),
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
    hash_fn: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document in the ``raw`` pool by how
    much more likely its hashed-n-gram features are under a bag-of-words
    LM fit on the small ``target`` corpus than under one fit on the raw
    pool itself. High log-ratio docs "look like" the target domain; the
    selection step (importance-ranked top-k, or feeding the weights to
    sampling.weighted_sample for the paper's Gumbel resampling) picks the
    pretraining subset.

    Features are hashed unigrams into ``n_buckets`` buckets (the paper's
    hashing trick; bucket LMs make the model state fixed-size regardless
    of vocabulary). Both LMs use add-1 smoothing over the bucket grid, so
    a bucket unseen in the 10k-doc target still scores finitely against a
    100 TB raw pool.

    Plan: two vocabulary-free bucket-count aggregations (map-side
    combine; state = n_buckets rows each) joined on a seeded bucket grid;
    the 1-row totals fold in via a broadcast cross join exactly like
    unigram_logprob; scoring is a broadcast join of the n_buckets-row
    ratio dim onto the exploded raw stream plus ONE corpus shuffle on the
    doc id. Nothing quadratic, no global sort. Returns
    (id_col, n_tokens, log_ratio); zero-token docs are excluded.
    ``hash_fn='md5'`` reproduces bit-identically in any engine with md5
    (the oracle path); xxhash64 is the faster production default.
    """
    from simtradedata_spark.operators.dedup import _hash64

    bucketed = lambda df: df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        F.pmod(_hash64(F.col("__t"), hash_fn), F.lit(n_buckets)).alias("__b"),
    )
    raw_tok = bucketed(raw)
    grid = raw.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("__b")
    )
    lm = (
        grid.join(
            raw_tok.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr")),
            "__b",
            "left",
        )
        .join(
            bucketed(target)
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__ct")),
            "__b",
            "left",
        )
        .select(
            "__b",
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
            F.coalesce("__ct", F.lit(0)).alias("__ct"),
        )
    )
    totals = lm.agg(
        F.sum("__cr").alias("__tr"), F.sum("__ct").alias("__tt")
    )
    lr = (
        F.log((F.col("__ct") + 1).cast("double"))
        - F.log((F.col("__tt") + n_buckets).cast("double"))
        - F.log((F.col("__cr") + 1).cast("double"))
        + F.log((F.col("__tr") + n_buckets).cast("double"))
    )
    ratio = lm.crossJoin(F.broadcast(totals)).select("__b", lr.alias("__lr"))
    return (
        raw_tok.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("__lr"), 6).alias("log_ratio"),
        )
    )
