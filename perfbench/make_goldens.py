"""Write ``goldens.json``: row count and digest of every suite query's
answer on the benchmark's sf0.1 tables (``sf0.1/``), computed by the query's
DuckDB oracle SQL (an engine independent of the one under test).

    python3 perfbench/make_goldens.py

Re-run after changing ``QUERY_LIST``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path.insert(0, ROOT)
    import duckdb

    from harness import digest
    from simtradedata_spark.queries import QUERIES
    from suite import QUERY_LIST, SF_DIR

    con = duckdb.connect()
    for f in sorted(os.listdir(SF_DIR)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{f}')")
    goldens = {}
    for name in QUERY_LIST:
        cur = con.execute(QUERIES[name][1])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        goldens[name] = {"rows": len(rows), "digest": digest(cols, rows)}
        print(name, goldens[name], file=sys.stderr)
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
