"""Concurrent-query throughput: the multi-tenant axis bench.py doesn't see.

A shared cluster runs many queries at once; what matters is aggregate
throughput, not per-query latency. This runs a fixed 16-query mix twice —
serially, then from an 8-thread pool with the FAIR scheduler (each thread
its own pool, so no query starves behind a long job's stages) — and
reports the wall-time speedup. local[32] has the cores to overlap the
scheduling gaps that serialize a single-query run.

Scratch is released only between the phases, never per query:
``release_scratch`` is session-wide, not thread-scoped, so a release in one
thread could free a concurrent query's checkpoints.

Usage: python tools/bench_concurrent.py [sf_dir]   → one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simtradedata_spark.queries import QUERIES
from simtradedata_spark.runner import release_scratch, warm_up
from simtradedata_spark.session import get_spark

MIX = [
    "pricing_summary", "region_revenue", "top_customers",
    "supplier_moving_avg", "doc_stats", "hash_sample_docs",
    "weekly_ohlc", "token_budget", "shipping_priority",
    "customer_order_distribution", "priority_lateness", "market_share",
    "latest_event_per_user", "sessionize_users", "quality_classifier",
    "filtered_revenue",
]


def run_one(spark, sf_dir: str, name: str) -> None:
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
    QUERIES[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(
        "bench-concurrent", extra_conf={"spark.scheduler.mode": "FAIR"}
    )
    warm_up(spark, sf_dir)

    t0 = time.time()
    for name in MIX:
        run_one(spark, sf_dir, name)
    serial = time.time() - t0
    release_scratch(spark)

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda n: run_one(spark, sf_dir, n), MIX))
    concurrent = time.time() - t0
    release_scratch(spark)

    print(
        json.dumps(
            {
                "metric": "concurrent_throughput",
                "n_queries": len(MIX),
                "serial_sec": round(serial, 2),
                "concurrent8_sec": round(concurrent, 2),
                "speedup": round(serial / concurrent, 2),
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )


if __name__ == "__main__":
    main()
