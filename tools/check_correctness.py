"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
(views over the same parquet), then compares row count, column names, and an
order-insensitive value comparison with doubles rounded to 6 decimals.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simtradedata_spark.catalog import TESTDATA_TABLES
from simtradedata_spark.runner import release_scratch
from simtradedata_spark.session import get_spark


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        else:
            try:
                if df[c].map(lambda v: hasattr(v, "isoformat")).any():
                    df[c] = df[c].astype(str)
            except Exception:
                pass
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _num_kind(s: pd.Series) -> str | None:
    if pd.api.types.is_bool_dtype(s):
        return None
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return None


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    # The driver hashes values per-dtype: an int64 Spark column vs a float64
    # DuckDB column (e.g. sum(BIGINT) → HUGEINT → float64 in pandas) hash
    # differently even when numerically equal. Flag the kind mismatch so the
    # oracle gets an explicit CAST instead of silently passing locally.
    for c in s_cols:
        ka, kb = _num_kind(spark_df[c]), _num_kind(duck_df[c])
        if ka and kb and ka != kb:
            problems.append(f"dtype-kind {c}: spark={ka} duck={kb}")
    a, b = canonicalize(spark_df), canonicalize(duck_df)
    # Signed-zero divergence: -0.0 == 0.0 compares equal here, but the driver
    # byte-hashes values, so a -0.0 on one engine vs +0.0 on the other is a
    # hash RED this comparator would otherwise never see (r5 macd_indicators).
    # Per-column negative-zero COUNTS are order-insensitive, so a count
    # mismatch is exactly a multiset (⇒ hash) mismatch on the zero cells.
    import numpy as np

    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            za = int((np.signbit(a[c].to_numpy()) & (a[c].to_numpy() == 0.0)).sum())
            zb = int((np.signbit(b[c].to_numpy()) & (b[c].to_numpy() == 0.0)).sum())
            if za != zb:
                problems.append(f"signed-zero {c}: spark has {za} -0.0 cells, duck {zb}")
    if len(a) == len(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        if neq.any().any():
            bad_cols = [c for c in a.columns if neq[c].any()]
            i = neq.any(axis=1).idxmax()
            problems.append(
                f"values differ in {bad_cols}; first diff row spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    spark = get_spark("correctness")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # same posture as bench.py: several operators persist scratch
            # intermediates; across a 171-query session those accumulate in
            # storage memory and slow the tail queries
            release_scratch(spark)
        if name not in oracles:
            status = "ROWS-ONLY"
            print(f"{status:9s} {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
        else:
            print(f"OK        {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
