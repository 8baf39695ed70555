"""Benchmark harness: runs every registered query and production twin at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec, ...},
"jobs": {name: n}, "stages": {name: n}, "sf": ...}.

Usage: python bench.py [--repeats N] [NAME ...]

``NAME ...`` times only those registry entries or ``@`` twins, in the
order given (an unknown name exits before anything runs); without names
the whole registry runs in canonical order, then every twin. Each entry
goes through ``simtradedata_spark.runner.run_query``: fully executed via
the noop sink (the whole plan runs, nothing is collected — engine time,
not toPandas serialization), scratch released between entries. ``jobs``
and ``stages`` count what the entry launched, eager build jobs included.

``--repeats N`` runs every entry N times back-to-back and records the
per-query MEDIAN (plus a compact min/max spread) — use ≥3 when recording
the repo-root ``benchmarks_*.json`` artifacts so a single unlucky draw
can't become the authoritative number. Default 1, so the per-round run
stays one pass.

Every artifact also carries a ``calibration`` block: a fixed-work
pure-Python loop and a fixed tiny Spark job, timed on THIS host in THIS
session. Round-over-round comparisons divide by the calibration ratio
(tools/scale_report.py reports the normalized ratio when both artifacts
carry the block) so a slower host does not masquerade as a code
regression.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from simtradedata_spark.runner import run_query, warm_up
from simtradedata_spark.session import get_spark
from tools.prod_variants import builders, resolve


def calibration_probe(spark) -> dict[str, float]:
    """Fixed-work host-speed probe recorded into every bench artifact.

    python_sec: a pure-Python arithmetic/hash loop — pins the interpreter
    + core speed the per-query driver overhead rides on. spark_sec: one
    tiny deterministic Spark job (sum over range) — pins JVM/codegen/
    scheduler throughput. Both are median-of-3 so the probe itself isn't a
    noise source. Comparing two rounds' artifacts: divide the per-query
    ratio by (cal_b/cal_a) before calling anything a regression.
    """
    py_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(5_000_000):
            acc += i * i % 7
        py_runs.append(time.perf_counter() - t0)
    spark_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * id % 7) AS s"
        ).collect()
        spark_runs.append(time.perf_counter() - t0)
    return {
        "python_sec": round(statistics.median(py_runs), 4),
        "spark_sec": round(statistics.median(spark_runs), 4),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="bench.py")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("names", nargs="*", metavar="NAME")
    args = ap.parse_args(argv)
    if args.repeats < 1:
        ap.error("--repeats must be >= 1")
    repeats = args.repeats
    names = resolve(args.names)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # input-size-derived initial shuffle partitions: floors at cores for the
    # driver scales (plans unchanged), rises toward 4x cores at 10-100x
    # replicas where the pinned-cores ceiling measurably spills
    spark = get_spark("bench", input_dir=sf_dir)
    builds = builders(spark, sf_dir, names)

    warm_up(spark, sf_dir)
    calibration = calibration_probe(spark)

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    spread: dict[str, dict] = {}
    errors: dict[str, int] = {}

    # Timing order is canonical (alphabetical), decoupled from the
    # registry order: the registry's front 50 is the driver-gate window and
    # rotates every round, and bench position measurably moves sub-second
    # queries (entries moved >30 slots later read 1.27x, earlier 0.94x —
    # session JIT/GC state, not code).
    for name, build in builds.items():
        runs, counts = [], []
        for _ in range(repeats):
            try:
                dt, n_jobs, n_stages = run_query(spark, build)
            except Exception as e:  # a failed query must not hide the others
                print(f"bench error in {name}: {e}", file=sys.stderr)
                continue
            runs.append(round(dt, 3))
            counts.append((n_jobs, n_stages))
        # A query that failed on ANY run gets a NEGATIVE headline entry
        # (-median, or -1.0 when every run failed) so intermittent
        # failures surface in `queries` itself and stay out of the
        # >=0-filtered totals, plus an `errors` count.
        med = round(statistics.median(runs), 3) if runs else 1.0
        n_err = repeats - len(runs)
        timings[name] = -med if n_err else med
        jobs[name], stages[name] = counts[0] if counts else (-1, -1)
        if n_err:
            errors[name] = n_err
        if repeats > 1:
            spread[name] = {
                "min": min(runs) if runs else -1.0,
                "max": max(runs) if runs else -1.0,
                "errors": n_err,
            }

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # The @twins are PRODUCTION re-runs of oracle-suite queries with the
    # cheaper non-oracle backends (xxhash64, auto-sized blooms, LSH, IVF,
    # GEMM SemDeDup); a naive grand total double-counts those families.
    # oracle_suite_sec is the round-over-round comparable number.
    oracle_total = round(
        sum(t for n, t in timings.items() if t >= 0 and "@" not in n), 3
    )
    out = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "unit": "sec",
        "oracle_suite_sec": oracle_total,
        "production_variants_sec": round(total - oracle_total, 3),
        "queries": timings,
        "jobs": jobs,
        "stages": stages,
        "sf": sf,
        "repeats": repeats,
        "calibration": calibration,
    }
    if errors:
        out["errors"] = errors
    if spread:
        out["spread"] = spread
    print(json.dumps(out))


if __name__ == "__main__":
    main()
