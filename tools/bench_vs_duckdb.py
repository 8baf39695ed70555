"""Spark vs DuckDB per-query wall time — the honest single-node baseline.

Every oracled query has a DuckDB-executable SQL twin; running both at the
same sf quantifies what the JVM/scheduler overhead costs at laptop scale.
The expected picture (and the reason this engine exists anyway): DuckDB
wins small — no scheduler, no codegen warm-up, single process — while the
Spark plans are the ones that keep working when the data is 10⁶× larger
than RAM and spread over 1000 executors. A query where Spark loses by far
more than the scheduling floor (~0.3–0.5 s) is a real plan smell worth
chasing, which is the actionable output here.

Usage: python tools/bench_vs_duckdb.py [sf_dir] [query ...] → one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from simtradedata_spark.catalog import TESTDATA_TABLES
from simtradedata_spark.queries import QUERIES
from simtradedata_spark.runner import run_query, warm_up
from simtradedata_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or [n for n, (_f, sql) in QUERIES.items() if sql]

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark("bench-vs-duckdb")
    warm_up(spark, sf_dir)

    per: dict[str, dict[str, float]] = {}
    for name in names:
        fn, sql = QUERIES[name]
        if not sql:
            continue
        t_spark = run_query(spark, lambda: fn(spark, sf_dir))[0]
        t0 = time.time()
        con.execute(sql).fetchall()
        t_duck = time.time() - t0
        per[name] = {
            "spark": round(t_spark, 3),
            "duckdb": round(t_duck, 3),
            "ratio": round(t_spark / max(t_duck, 1e-9), 1),
        }

    tot_s = sum(v["spark"] for v in per.values())
    tot_d = sum(v["duckdb"] for v in per.values())
    print(
        json.dumps(
            {
                "metric": "spark_vs_duckdb",
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "n_queries": len(per),
                "spark_total_sec": round(tot_s, 1),
                "duckdb_total_sec": round(tot_d, 1),
                "median_ratio": round(
                    sorted(v["ratio"] for v in per.values())[len(per) // 2], 1
                ),
                "queries": per,
            }
        )
    )


if __name__ == "__main__":
    main()
