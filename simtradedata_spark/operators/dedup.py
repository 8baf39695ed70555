"""Deduplication operators: exact, keep-last upsert, MinHash-LSH near-dup,
SimHash, n-gram Jaccard (SURVEY §2.6 A3 / §2.5 J4 + the LLM-pipeline
extensions mandated by BASELINE.json).

Reference parity:
  - exact dedup ``~index.duplicated(keep='first')`` (``mootdx_fetcher.py:163``)
  - last-writer-wins upsert (``download_efficient.py:330-331,356-358``)

Scale design:
  - exact/keep-last: one shuffle on the key (window row_number), map-side
    partial nothing to combine — the canonical Spark dedup.
  - MinHash-LSH: signatures are computed with built-in higher-order functions
    (xxhash64 + affine permutations, all JVM-side, no UDF); banding turns the
    quadratic all-pairs problem into an equi-join on (band_id, band_hash) —
    only same-bucket pairs are verified. This is the standard
    shingle→minhash→band→bucket-join pipeline and scales linearly in corpus
    size for fixed collision rate.
  - SimHash: 64-bit signature via one aggregate() fold per row; near-dup =
    small Hamming distance, candidate generation by rotating band prefixes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from simtradedata_spark.functions.caching import scratch_persist
from pyspark.sql.window import Window

# Mersenne prime 2^31-1: modulus for the affine minhash permutations.
# 31-bit domain keeps a*h+b < 2^62 — no int64 overflow under ANSI mode —
# while leaving minhash collision probability (~2^-31 per pair per hash)
# negligible for near-dup detection.
_MERSENNE = (1 << 31) - 1


def _hash64(col: Column | str, hash_fn: str = "xxhash64") -> Column:
    """64-bit (xxhash64) or 60-bit (md5 prefix) string hash.

    ``xxhash64``: fastest, JVM-native — the production path. ``md5``: ~2x
    slower but reproducible in any engine with md5 — the DuckDB oracles
    recompute identical signatures (15 hex chars = 60 bits, exact in int64
    under ANSI; see queries.py SQL_SIMHASH/_MINHASH)."""
    c = F.col(col) if isinstance(col, str) else col
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    return F.xxhash64(c)


def dedup_exact(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
) -> DataFrame:
    """Keep one row per key. With ``order_by``: the first row under that order
    (deterministic, pandas keep='first' parity). Without: ``dropDuplicates``
    (any row — cheaper, no sort)."""
    if order_by is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_last(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Last-writer-wins upsert compaction: keep the row that sorts LAST under
    ``order_by`` per key (J4 semantics)."""
    return dedup_exact(df, keys, [c.desc() for c in order_by])


def tokens(text_col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization to an array<string>, empty-safe.

    ``array_remove`` (native, codegen'd) instead of a higher-order
    ``filter`` lambda: downstream shingle/n-gram lambdas inline this
    expression per element, and an inlined HOF re-evaluates its own lambda
    per token per element — measured 6x slower on the contamination plan.
    After ``trim`` the only empty token is the one ``split`` emits for
    empty/whitespace-only text, which remove('') covers."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        c = F.lower(c)
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def let(col: Column, fn) -> Column:
    """Let-binding for column expressions: evaluate ``col`` ONCE per row and
    pass it to ``fn`` as a bound lambda variable.

    Staging an expression in its own projection does NOT protect it —
    CollapseProject inlines it into every use site, and a use site inside a
    higher-order-function lambda then re-evaluates it per array element
    (measured 6-8x on the shingle path: per-index ``slice(split(text),...)``
    re-runs the regex split once per n-gram). ``transform`` over a 1-element
    array evaluates the element once and binds it; the lambda body references
    the bound variable, which no rewrite can inline through."""
    return F.transform(F.array(col), fn)[0]


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) from a token array column. The array
    is let-bound so composing with ``tokens(text)`` stays O(tokens) per row
    regardless of how Catalyst inlines the split."""

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        return F.array_distinct(F.when(F.size(t) >= n, grams).otherwise(t))

    return let(toks, build)


def shingles(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct). Prefer staging
    ``tokens()`` as a column and calling ``shingles_of`` in hot paths."""
    return shingles_of(tokens(text_col), n)


def _perm_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic affine permutation coefficients (a odd, b) mod 2^61-1."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE) | 1, rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 7,
    out_col: str = "minhash",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, text) → (id, minhash array<bigint> of ``num_hashes`` values) over
    word ``shingle_n``-gram shingles.

    Plan shape: explode shingles → hash once → ONE groupBy(id) carrying 64
    ``min()`` aggregates (each an affine permutation of the shingle hash).
    All built-in expressions inside whole-stage codegen; the 64 mins combine
    map-side, so the shuffle moves one 64-long array per document regardless
    of document length — the layout that survives 100 TB corpora. Documents
    with no shingles get a null signature."""
    from simtradedata_spark.functions.partitioning import spread

    # The shingle hash is the hot map — spread a coarse scan across cores
    # first (no-op when the input already has >= parallelism partitions).
    df = spread(df)
    # Hash inside the generator (see simhash note): the 64 min-aggregates
    # below each reference __h; a post-explode hash projection would be
    # collapsed into all of them, re-hashing every shingle 64 times.
    exploded = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                shingles_of(tokens(text_col), shingle_n),
                lambda s: F.pmod(_hash64(s, hash_fn), F.lit(_MERSENNE)),
            )
        ).alias("__h"),
    )
    aggs = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(
            f"__m{i}"
        )
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs).select(
        id_col,
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(out_col),
    )
    return df.select(id_col).join(sigs, id_col, "left")


def minhash_band_postings(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, minhash) → (id, minhash, band_id, band_hash) LSH postings: split
    the signature into ``bands`` bands of ``num_hashes/bands`` rows, hash
    each band. This IS the dedup index layout — written to a warehouse
    table it serves incremental probes (``minhash_probe_index``) without
    re-signing the corpus."""
    r = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.col("minhash"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    _hash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("minhash"), b * r + 1, r),
                                lambda v: v.cast("string"),
                            ),
                        ),
                        hash_fn,
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "minhash", "band.band_id", "band.band_hash")


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build the persistent LSH index of a curated corpus: signature + band
    postings per document. At 100 TB this table is what incremental ingest
    probes — 8·num_hashes bytes of signature and ``bands`` posting rows per
    doc, partitionable by band_hash — instead of re-shingling the whole
    corpus every batch (the N2 resume property, applied to near-dup state).
    """
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, seed, hash_fn=hash_fn
    ).filter(F.col("minhash").isNotNull())
    return minhash_band_postings(sigs, id_col, num_hashes, bands, hash_fn)


def minhash_probe_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    seed: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup detection: sign a NEW batch and probe it against
    an existing corpus index (``minhash_index`` output, same parameters).
    Returns (new_id, indexed_id, est_jaccard) — batch-internal duplicates
    are deliberately NOT reported (run the self-join ``minhash_lsh_candidates``
    on the batch for those; a batch is tiny next to the corpus).

    Plan: only the batch is re-shingled; the corpus contributes its stored
    postings through one equi-join on (band_id, band_hash). With the index
    bucketed on band_hash the join co-locates and the probe cost scales with
    the BATCH, not the corpus — the property that makes daily ingest dedup
    feasible at 100 TB.
    """
    # Sign the batch ONCE (persisted: the slim postings and the sig_a
    # re-attach below both read it; a batch is tiny next to the corpus).
    probe_sigs = scratch_persist(
        minhash_signatures(
            new_docs, id_col, text_col, num_hashes, shingle_n, seed,
            hash_fn=hash_fn,
        )
        .filter(F.col("minhash").isNotNull())
    )
    probe = minhash_band_postings(probe_sigs, id_col, num_hashes, bands, hash_fn)
    # Same slim-join shape as minhash_lsh_candidates: the INDEX side is
    # corpus-sized, and shuffling its 8·num_hashes-byte signature once per
    # posting row (bands per doc) through the equi-join costs ~16x the
    # bytes of the 24-byte posting key. Join slim, dedup pairs, re-attach
    # one signature per surviving id from each side.
    a = probe.select(id_col, "band_id", "band_hash").alias("a")
    b = index.select(id_col, "band_id", "band_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("indexed_id"),
        )
        .dropDuplicates(["new_id", "indexed_id"])
    )
    pairs = cand.join(
        probe_sigs.select(
            F.col(id_col).alias("new_id"), F.col("minhash").alias("sig_a")
        ),
        "new_id",
    ).join(
        index.select(
            F.col(id_col).alias("indexed_id"), F.col("minhash").alias("sig_b")
        ).dropDuplicates(["indexed_id"]),
        "indexed_id",
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    return (
        pairs.withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("new_id", "indexed_id", "est_jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    seed: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH.

    Pipeline: signature → split into ``bands`` bands of ``num_hashes/bands``
    rows → explode (band_id, band_hash) → self-equi-join on the band bucket →
    verify estimated Jaccard (signature agreement) ≥ threshold.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated.
    """
    # Materialize the signatures as a LINEAGE-TRUNCATING checkpoint, not a
    # persist: the band bucket join is a SELF-join (both sides would
    # recompute the shingle→hash→agg pipeline unmaterialized), and a
    # persist additionally keeps the ~n_tokens-per-doc shingle-explode
    # SHUFFLE referenced for recompute-on-eviction — at the 5M-doc (1000x)
    # point that single shuffle is ~10 GB of disk held across the whole
    # downstream join. Checkpointing drops it before the self-join runs
    # (the GC nudge lets the ContextCleaner delete it NOW); signature
    # storage itself is 8·num_hashes bytes/doc — always cheap. Same
    # recompute-on-executor-loss trade every stage barrier in
    # operators/pipeline.py makes, documented there.
    from pyspark import StorageLevel

    spark = df.sparkSession
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, seed, hash_fn=hash_fn
    ).filter(F.col("minhash").isNotNull())
    # Big-input sessions (input bytes past session.BIG_INPUT_BYTES — the
    # data-derived signal get_spark measures at build time, see
    # session.big_input_session) get the checkpoint + GC nudge, so the
    # ContextCleaner deletes the ~10 GB
    # shingle-explode shuffle BEFORE the band self-join runs. Small
    # sessions keep the lazy persist: the eager checkpoint job plus a
    # System.gc() on a warm heap cost ~2 s, doubling this query's sf0.1
    # bench entry for a shuffle that is only ~100 MB there.
    from simtradedata_spark.session import big_input_session

    if big_input_session(spark):
        sigd = sigs.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        spark.sparkContext._jvm.System.gc()
    else:
        sigd = scratch_persist(sigs)
    # The self-join shuffles SLIM postings (id, band_id, band_hash — 24
    # bytes/row) and re-attaches the 8·num_hashes-byte signatures per
    # SURVIVING pair afterwards. Joining the full postings (the old shape)
    # moves the 512-byte signature ``bands`` times per doc through BOTH
    # shuffle sides — ~16x the bytes, the disk wall the 1000x run hit.
    banded = minhash_band_postings(sigd, id_col, num_hashes, bands, hash_fn).select(
        id_col, "band_id", "band_hash"
    )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sigd.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a")),
        "id_a",
    ).join(
        sigd.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b")),
        "id_b",
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    return (
        pairs.withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, text) → (id, 64-bit SimHash): per bit position, sum ±1 of each
    token hash's bit over the token multiset; positive sum sets the bit.

    Plan shape mirrors minhash_signatures: explode tokens → hash once →
    ONE groupBy(id), with the per-bit counts PACKED three to a long in
    21-bit slots (plus a row count): a ±1 sum per bit needs 60-64 sum(case)
    aggregates, the packed form needs ~22 shift-add sums, and "±1 sum > 0"
    is equivalently "2·ones > n". Measured at sf0.1 (solo, steady-state,
    3 reps, r3): packed-md5 1.79-2.11 s vs unpacked-md5 1.80-1.83 s — a tie
    when md5 hashing dominates; packed is kept because it never loses and
    the aggregate-count reduction is what matters once the hash is the
    cheap JVM xxhash64 (1.95-2.01 s). The r2 driver-bench 4.10 s was a
    cold-first-run artifact (rep0 4.26 s vs 1.79 s steady in the same
    session), not a regression. The 21-bit slot caps documents at 2^21
    tokens (a 2M-token doc is a pathology to split upstream, not a real
    chunk). Documents with no tokens get signature 0."""
    from simtradedata_spark.functions.partitioning import spread

    df = spread(df)  # token hashing is the hot map; see partitioning.spread
    nbits = 64 if hash_fn == "xxhash64" else 60
    groups = (nbits + 2) // 3
    # Hash INSIDE the generator: explode's output is a materialized
    # attribute, which the optimizer cannot inline into the aggregate
    # expressions below (a post-explode projection WOULD be collapsed into
    # them, re-running the hash once per aggregate — measured 3x on md5).
    # explode_OUTER keeps token-less docs as one null-hash row, so they
    # reach the aggregation and get signature 0 via the null-propagating
    # when() chain — no join-back needed (a broadcast join here re-ran the
    # whole pipeline as the build side, 3x the query).
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(
            F.transform(tokens(text_col), lambda t: _hash64(t, hash_fn))
        ).alias("__h"),
    )

    def packed(k: int) -> Column:
        # slots j=0..2 hold the ones-count of bits 3k..3k+2 (21 bits each).
        e = None
        for j in range(3):
            if 3 * k + j >= nbits:
                break
            bit = F.shiftright(F.col("__h"), 3 * k + j).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit.cast("long"), 21 * j)
            e = term if e is None else e + term
        return F.sum(e).alias(f"__p{k}")

    bitsums = exploded.groupBy(id_col).agg(
        *[packed(k) for k in range(groups)],
        F.count(F.lit(1)).alias("__n"),
    )
    mask = (1 << 21) - 1
    sig = None
    for i in range(nbits):
        ones = F.shiftright(F.col(f"__p{i // 3}"), 21 * (i % 3)).bitwiseAND(
            F.lit(mask)
        )
        term = F.when(
            ones * 2 > F.col("__n"),
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return bitsums.select(F.col(id_col), sig.alias(out_col))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact token-shingle Jaccard for all pairs within a blocking key
    (quadratic within block — block on source/lang/LSH bucket to bound it).
    Returns (id_a, id_b, jaccard)."""
    base = df.select(
        *block_cols, F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        *block_cols,
        id_col,
        shingles_of(F.col("__toks"), shingle_n).alias("__sh"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    uni = F.size(F.array_union(F.col("a.__sh"), F.col("b.__sh")))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (inter / uni).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def grouped_cosine_pairs(
    bucketed: DataFrame, threshold: float, id_type: str = "bigint"
) -> DataFrame:
    """Within-group cosine pairs >= threshold via per-group blocked GEMM.

    ``bucketed`` must carry (id, v, __bucket); every group is scored by ONE
    numpy matmul inside applyInPandas (blocked at 2048 rows to bound task
    memory), emitting only qualifying (id_a < id_b) pairs — the quadratic
    candidate set never exists as Spark rows and the scorer is vectorized.
    The blocking column decides the recall/cost trade: LSH sign patterns
    (cosine_near_dups bits>0) or k-means cells (clustering.semantic_dedup_gemm).
    """
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_a": pdf["id"][:0], "id_b": pdf["id"][:0],
                 "cos_sim": pd.Series([], dtype="float64")}
            )
        ids = pdf["id"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat /= norms
        out_a, out_b, out_s = [], [], []
        block = 2048  # bounds per-task memory at B*block doubles
        for c0 in range(0, len(ids), block):
            c1 = min(c0 + block, len(ids))
            sims = mat[c0:c1] @ mat.T  # (c1-c0, B)
            rows, cols = np.nonzero(sims >= threshold)
            keep = (rows + c0) < cols  # upper triangle, each pair once
            rows, cols = rows[keep], cols[keep]
            a, b = ids[rows + c0], ids[cols]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            out_a.append(lo)
            out_b.append(hi)
            out_s.append(sims[rows, cols])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b),
             "cos_sim": np.concatenate(out_s)}
        )

    return bucketed.groupBy("__bucket").applyInPandas(bucket_pairs, out_schema)


def cosine_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bits: int | str = "auto",
    dim: int | None = None,
    seed: int = 11,
    exact: bool = False,
    max_exact_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    id_a < id_b and cosine >= threshold (the embedding-space member of the
    dedup family, alongside MinHash/SimHash/Jaccard).

      - bits=0 + exact=True — exact all-pairs via blocked matrix multiply:
        the full (broadcastable) normalized matrix ships to every worker once,
        and each Arrow batch of rows scores against it with one numpy GEMM,
        emitting only pairs above threshold — the quadratic candidate set is
        never materialized as Spark rows. An interpreted zip_with/aggregate
        pair scorer measured ~70 s for 2k×2k×64d; the GEMM path is <1 s.
        This path `toPandas()`s the full corpus side on the DRIVER, so it is
        opt-in twice: ``exact=True`` is required (bits=0 alone raises), and a
        ``max_exact_rows`` guard (default 200k ≈ 100 MB at 64d float64)
        refuses larger corpora unless the caller raises the cap explicitly.
        Use it as the oracle baseline / for bounded corpora only.
      - bits>0 (or the DEFAULT bits="auto") — random-hyperplane LSH prefilter:
        rows are
        bucketed by the sign pattern of ``bits`` fixed projections, then each
        bucket is scored by ONE blocked numpy GEMM inside applyInPandas —
        the quadratic candidate set never exists as Spark rows and the
        scorer is vectorized, not an interpreted zip_with (a pair-join +
        HOF scorer version of this path measured 192 s at 60k vectors where
        this one takes seconds). Recall < 1 for pairs near the threshold.
        ``bits`` must GROW with corpus size to hold bucket occupancy —
        "auto" sets ceil(log2(N/64)) (≈64 rows/bucket), the knob a 100 TB
        run tunes; a fixed ``bits`` degrades quadratically as N grows
        (measured: 8-bit buckets at 60k vectors ≈ 234 rows/bucket).
    """
    from simtradedata_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_key,
    )

    def _empty_pairs() -> DataFrame:
        idt = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {idt}, id_b {idt}, cos_sim double"
        )

    if bits == "auto":
        import math

        # one job for both probes (count sizes the buckets, first-size is
        # the dim) — and an empty corpus yields an empty pairs frame
        # instead of the dim probe's ValueError
        n, probed_dim = df.agg(
            F.count(F.lit(1)), F.first(F.size(vec_col))
        ).first()
        if n == 0:
            return _empty_pairs()
        if dim is None:
            dim = probed_dim
        bits = max(4, min(20, math.ceil(math.log2(max(n, 2) / 64))))

    if bits == 0 and not exact:
        raise ValueError(
            "cosine_near_dups(bits=0) is the exact all-pairs path: it collects "
            "the full corpus to the driver and runs a quadratic GEMM. Pass "
            "exact=True to opt in (bounded corpora / oracle baselines only), "
            'or use the default bits="auto" LSH prefilter for scale.'
        )

    if bits > 0:
        if dim is None:
            # One-row probe; cheaper than failing loudly for the common case
            # where the vector column has a uniform length.
            first = df.select(F.size(vec_col).alias("d")).first()
            if first is None:
                return _empty_pairs()
            dim = first["d"]
        planes = _hyperplanes(dim, bits, seed)
        bucketed = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).withColumn("__bucket", lsh_bucket_key(F.col("v"), planes))
        return grouped_cosine_pairs(
            bucketed, threshold, df.schema[id_col].dataType.simpleString()
        )

    import numpy as np
    import pandas as pd

    n_rows = df.count()
    if n_rows == 0:
        # same empty-input contract as both LSH paths: a typed empty pairs
        # frame, not np.stack's "need at least one array" ValueError
        return _empty_pairs()
    if n_rows > max_exact_rows:
        raise ValueError(
            f"cosine_near_dups(exact=True) refuses {n_rows} rows "
            f"(> max_exact_rows={max_exact_rows}): the exact path collects the "
            "corpus to the driver. Raise max_exact_rows deliberately or use "
            'bits="auto".'
        )

    side = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    ids_b = side["id"].to_numpy()
    mat = np.stack(side["v"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((ids_b, mat))

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    def score(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            sims = x @ b_mat.T
            a_ids = pdf[id_col].to_numpy()
            mask = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": a_ids[ii], "id_b": b_ids[jj], "cos_sim": sims[ii, jj]}
            )

    # Spread the scoring side across cores: the quadratic GEMM's
    # parallelism must come from the cluster, not from the input FILE
    # layout — a 10x replica still fits one ~5 MB parquet split, and the
    # whole N^2 matmul then lands on 1-2 tasks (measured 15x slower at
    # sf1.0 than the same work on 32 tasks).
    from simtradedata_spark.functions.partitioning import spread

    return spread(df.select(id_col, vec_col)).mapInPandas(score, out_schema)


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    tok_col: str,
    block_cols: list[str],
    threshold: float,
) -> DataFrame:
    """Exact token-set Jaccard pairs >= threshold via prefix filtering
    (PPJoin-style) — the scale path for exact verification.

    For Jaccard(A,B) >= t the intersection must be >= ceil(t*|A|), so any
    qualifying pair shares a token among the ``|A| - ceil(t*|A|) + 1`` rarest
    tokens of A (pigeonhole). Candidate generation is therefore an equi-join
    on *prefix* tokens only (rarest-first ordering by global document
    frequency kills the stopword blow-up of a naive token join), followed by
    exact array_intersect verification on the surviving pairs. Lossless:
    output is identical to the quadratic all-pairs version (tested), but the
    within-block O(n²) scan is gone — cost is driven by candidate count.

    Crossover: prefix length is |A| - ceil(t*|A|) + 1, so selectivity scales
    with the threshold. At near-dup thresholds (t >= ~0.5) this wins big; at
    permissive thresholds (t ~ 0.2 keeps ~80% of tokens) the blocked
    all-pairs scan of ``ngram_jaccard_pairs`` is cheaper — measured 4.5 s vs
    7.7 s at sf0.1/t=0.2, reversed at higher t.

    Returns (id_a, id_b, jaccard) with jaccard rounded to 6 dp.
    """
    base = df.select(
        *block_cols,
        F.col(id_col).alias("__id"),
        F.col(tok_col).alias("__tok"),
        F.size(tok_col).alias("__sz"),
    )
    ex = base.select(
        *block_cols, "__id", "__sz", F.explode("__tok").alias("__t")
    )
    dfreq = ex.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__t")
    pref = (
        ex.join(dfreq, "__t")
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
        )
        .select(*block_cols, "__id", "__t")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cond = (F.col("a.__t") == F.col("b.__t")) & (
        F.col("a.__id") < F.col("b.__id")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        a.join(b, cond)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("__id").alias("id_a"), F.col("__tok").alias("__ta"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__tok").alias("__tb"))
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    uni = F.size(F.array_union(F.col("__ta"), F.col("__tb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", F.round(inter / uni, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
