"""The shared query runner (simtradedata_spark/runner.py): exact job/stage
counts however much status-store history the session has, and scratch
release that spares session-lifetime memos."""

from __future__ import annotations

from simtradedata_spark.functions.caching import (
    protect_current,
    scratch_persist,
)
from simtradedata_spark.queries import QUERIES
from simtradedata_spark.runner import WARMUP, run_query

# Enough eager jobs that the status store must evict during the call
# (retainedJobs=100 trims by at least 10 at a time).
K = 30


def _eager_build(spark):
    def build():
        for i in range(K):
            spark.range(i + 1).collect()  # one job, one stage, no shuffle
        return spark.range(5)

    return build


def test_job_counts_exact_past_retained_jobs(spark):
    sc = spark.sparkContext
    for _ in range(110):  # more than retainedJobs=100 of session history
        sc.parallelize([1], 1).count()
    tracker = sc._jsc.sc().statusTracker()
    old0 = len(tracker.getJobIdsForGroup(None))
    _, jobs, stages = run_query(spark, _eager_build(spark))
    old = len(tracker.getJobIdsForGroup(None)) - old0
    # K eager build jobs + the noop write
    assert jobs == K + 1
    assert stages == K + 1  # one stage each, no shuffle
    _, jobs2, stages2 = run_query(spark, _eager_build(spark))
    assert (jobs2, stages2) == (jobs, stages)
    # the status-store delta the runner replaced is short (or negative)
    # once the store is at its cap
    assert old < K + 1


def _persisted(spark) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_frees_scratch_keeps_protected_memo(spark):
    memo = spark.range(100).selectExpr("id * 2 AS v").persist()
    memo.count()
    protect_current(spark)
    memo_ids = _persisted(spark)
    made = {}

    def build():
        scratch = scratch_persist(spark.range(50).selectExpr("id + 1 AS w"))
        scratch.count()
        made["ids"] = _persisted(spark) - memo_ids
        return scratch

    try:
        run_query(spark, build)
        assert made["ids"]  # the build did persist scratch
        left = _persisted(spark)
        assert memo_ids <= left  # protected memo survives
        assert not (made["ids"] & left)  # scratch freed
        assert memo.agg({"v": "sum"}).first()[0] == 9900
    finally:
        memo.unpersist()


def test_warmup_names_are_registered():
    assert WARMUP and all(n in QUERIES for n in WARMUP)
    assert len(set(WARMUP)) == len(WARMUP)
