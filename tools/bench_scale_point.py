"""Selective scale-point benchmark: bench.py restricted to a fixed set of
LINEAR-path registry queries PLUS their production-backend twins, at an
arbitrary replica directory — the tool behind SCALE.md's two-decade
(sf0.1 → sf1.0 → sf10) scaling table.

bench.py without names runs the FULL registry; at 100× volume the
documented quadratic oracle-exact baselines (exact cosine, exact SemDeDup,
all-pairs clustering) would dominate the wall-clock by design, so this
runs only the production-shaped families whose cost the 100 TB story
depends on. The subset is pinned below — extend it when a new linear
family lands. Prints bench.py's JSON line (same warm-up, runner and
``--repeats`` median/spread).

Usage: python tools/bench_scale_point.py [--repeats N] SF_DIR [query ...]

Use ``--repeats 3`` or more at the 100x point: single recordings there
carry ±30% session noise (SCALE.md documents the disambiguation).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

# Linear production families, one representative per plan shape.
LINEAR_SET = [
    # relational core
    "pricing_summary",        # TPC-H Q1 map-side agg
    "region_revenue",         # broadcast-dim multi-join
    "supplier_moving_avg",    # keyed window
    "top_customers",          # global top-k (TakeOrdered)
    "dedup_lineitem_first",   # keyed window dedup
    "purchases_within_7d",    # decomposed range join
    "region_daily_ffill",     # calendar densify + ffill
    "hourly_event_stats",     # time-bucket agg
    # text / dedup stack (md5-certified forms)
    "minhash_near_dups",      # banded LSH self-join
    "simhash_signatures",     # packed bit-count agg
    "token_jaccard_pairs",    # inverted-index posting join
    "cross_doc_dup_coverage", # gram-keyed shuffles
    "exact_substr_trim",      # gram shuffles + rebuild
    "dup_gram_coverage",      # single-scan repetition
    "boilerplate_lines",      # line-frequency broadcast
    "bloom_decontam",         # fixed-size bitset
    "cms_token_frequency",    # bounded counter grid
    "dsir_selection",         # bucket LMs + broadcast ratio
    "bpe_token_counts",       # broadcast vocab join
    "sequence_packing",       # two-pass global cumsum
    "pipeline_funnel",        # composed flags, one pass
    "full_curation_funnel",   # the whole chain (all stages linear)
    # embeddings (bounded-candidate forms)
    "lsh_ann_top5",
    "ivf_ann_top5",
    "pq_ann_top5",
    "kmeans_clusters",
    # in-engine ML
    "logit_training",
]

# Production twins measured at every scale point alongside their
# md5-certified siblings (definitions shared with bench.py).
TWIN_SET = [
    "minhash_near_dups@xxh64",
    "simhash_signatures@xxh64",
    "incremental_dedup@xxh64",
    "char_contamination@xxh64",
    "cosine_near_dups@lsh",
    "embedding_dup_clusters@lsh",
    "dedup_clusters@xxh64",
    "hard_negatives@ivf",
    "semantic_dedup@gemm",
    "exact_substr_trim@xxh64",
    "cms_token_frequency@xxh64",
    "bloom_decontam@xxh64",
    "pq_ann_top5@ivfpq",
    "full_curation_funnel@xxh64",
]


def main() -> None:
    argv = sys.argv[1:]
    opts = argv[:2] if argv[:1] == ["--repeats"] else []
    rest = argv[len(opts):]
    if not rest:
        sys.exit(__doc__)
    # bench.py reads the replica from the env; get_spark derives the
    # initial shuffle partitions from the replica's on-disk bytes
    os.environ["SPARK_GRAFT_SF_DIR"] = rest[0]
    bench.main(opts + (rest[1:] or LINEAR_SET + TWIN_SET))


if __name__ == "__main__":
    main()
