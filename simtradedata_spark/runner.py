"""One query-run harness: the warm-up list and the timed build → ``noop``
write → scratch release loop that bench.py and the tools under ``tools/``
share, so every recorded number is measured the same way.

Single-threaded driver assumption, the same as ``release_scratch``: the
job/stage counts cover every job the session launches during the call.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from simtradedata_spark.functions.caching import release_scratch
from simtradedata_spark.queries import QUERIES

__all__ = ["WARMUP", "release_scratch", "run_query", "warm_up"]

# JIT/codegen warm-up, run before anything is timed. Warming only the
# first entry left JIT tiering inflating the first ~30 s of timed queries.
# The list covers the cheapest scans plus one query per heavy engine path:
# a keyed window, the Arrow batch path, tokenize/HOF/n-gram codegen
# (cross_doc_dup_coverage measured 8.2 s cold vs 3.7-4.4 s warm without
# it) and md5-minhash banding (incremental_dedup 9.6 s cold vs 3.5 s warm).
WARMUP = [
    "active_nations", "adjusted_bars_post", "amihud_illiquidity",
    "supplier_moving_avg", "quality_classifier", "dup_gram_coverage",
    "minhash_near_dups",
]


def _next_ids(spark: SparkSession) -> tuple[int, int]:
    # The scheduler hands out job and stage ids from two counters, so the
    # id range a call spans is its exact job/stage count. The status store
    # cannot give this: it keeps only the newest retainedJobs=100 jobs and
    # retainedStages=200 stages, and its per-group lists go short (and
    # deltas negative) once a session passes that history.
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return dag.nextJobId(), dag.nextStageId()


def run_query(
    spark: SparkSession, build: Callable[[], DataFrame]
) -> tuple[float, int, int]:
    """Build the DataFrame, run it whole into the ``noop`` sink, then free
    the scratch it persisted. Returns (seconds, jobs, stages): the wall
    time of build + write, and the jobs and stages the call launched,
    including the eager jobs operators run while building."""
    jobs0, stages0 = _next_ids(spark)
    t0 = time.time()
    try:
        build().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
    finally:
        # Persisted intermediates (minhash signatures, CC edge lists)
        # pile up across a long session and slow later queries; protected
        # session-lifetime memos survive. The GC nudges the ContextCleaner
        # to drop earlier queries' shuffle files and freed blocks: without
        # it a 189-query session's tail ran up to 28x slower (502 s vs
        # 376 s back to back on one host).
        release_scratch(spark)
        spark.sparkContext._jvm.System.gc()
    jobs1, stages1 = _next_ids(spark)
    return dt, jobs1 - jobs0, stages1 - stages0


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Run every ``WARMUP`` query once, untimed."""
    for name in WARMUP:
        run_query(spark, lambda: QUERIES[name][0](spark, sf_dir))
