"""Measure the SESSION-AGE tax: how much slower a fixed probe query runs
after N other queries have aged the driver JVM (listener stores, codegen
cache, heap fragmentation) vs on a fresh session.

Usage: python tools/session_age_probe.py [n_prime] [conf_k=v ...]

Runs the probe queries on a fresh session, then executes the first
``n_prime`` registry queries (canonical order, bench methodology:
``simtradedata_spark.runner.run_query``), then re-times the probes. Prints
fresh/aged medians plus driver heap and GC-time deltas so retention-conf
A/Bs have a sensitive, bounded-cost signal (a full bench is 7 min and
±2x noisy; this is ~3 min and isolates the aging mechanism).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simtradedata_spark.queries import QUERIES
from simtradedata_spark.runner import run_query, warm_up
from simtradedata_spark.session import get_spark

PROBES = ["dedup_clusters", "cluster_representatives", "minute_bars_fold"]


def _run(spark, sf_dir, name) -> float:
    return run_query(spark, lambda: QUERIES[name][0](spark, sf_dir))[0]


def _jvm_stats(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    gc_ms = sum(
        b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
    )
    return {"heap_used_mb": heap.getUsed() // (1024 * 1024), "gc_ms": gc_ms}


def main() -> None:
    args = sys.argv[1:]
    n_prime = int(args[0]) if args and "=" not in args[0] else 80
    extra = dict(a.split("=", 1) for a in args if "=" in a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("session_age_probe", input_dir=sf_dir, extra_conf=extra)

    warm_up(spark, sf_dir)

    fresh = {p: [_run(spark, sf_dir, p) for _ in range(2)] for p in PROBES}
    s0 = _jvm_stats(spark)
    t_prime0 = time.time()
    primed = [n for n in sorted(QUERIES) if n not in PROBES][:n_prime]
    for name in primed:
        _run(spark, sf_dir, name)
    t_prime = time.time() - t_prime0
    s1 = _jvm_stats(spark)
    aged = {p: [_run(spark, sf_dir, p) for _ in range(2)] for p in PROBES}

    print(f"primed {len(primed)} queries in {t_prime:.1f}s  conf={extra}")
    print(
        f"heap {s0['heap_used_mb']} -> {s1['heap_used_mb']} MB, "
        f"gc {s0['gc_ms']} -> {s1['gc_ms']} ms (+{s1['gc_ms']-s0['gc_ms']})"
    )
    for p in PROBES:
        f, a = statistics.median(fresh[p]), statistics.median(aged[p])
        print(
            f"{p:28s} fresh={f:6.2f}  aged={a:6.2f}  ratio={a/f:5.2f}  "
            f"runs fresh={fresh[p]} aged={aged[p]}"
        )


if __name__ == "__main__":
    main()
