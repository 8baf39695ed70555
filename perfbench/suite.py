"""Workload ``suite_sf0.1``: registry queries over the sf0.1 test tables.

Each operation is one ``QUERIES`` entry: build the DataFrame (the
``queries.build`` layer, including the eager jobs operators run while
building it), write it to the ``noop`` sink, release the scratch it
persisted. The seed permutes the order. At this scale the run is bound by
fixed per-job overhead, so cuts to job count or driver work show here and
byte cuts barely do.

The tables are the seven of the repository's sf0.1 test set (seed 42,
``TESTDATA.md``) that the suite reads, copied byte for byte
into ``sf0.1/`` beside this file so the benchmark needs nothing outside its
checkout.

Outside the timed blocks every result is collected once and compared with
its golden (row count and digest, ``goldens.json``), written from the
DuckDB oracle SQL by ``make_goldens.py``.
"""

from __future__ import annotations

import json
import os
import random

from harness import digest

# Iterative-operator queries (the build-bound shapes) and relational /
# market shapes bound by execution.
HEAVY = ["dedup_clusters", "semantic_dedup", "bpe_merges"]
LIGHT = ["pricing_summary", "region_revenue"]
QUERY_LIST = HEAVY + LIGHT
HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "sf0.1")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(ctx) -> None:
    ctx.sf = SF_DIR
    with open(os.path.join(HERE, "goldens.json")) as f:
        ctx.goldens = json.load(f)


def run(ctx) -> dict:
    from simtradedata_spark.functions import caching
    from simtradedata_spark.queries import QUERIES

    spark, ops, tr = ctx.spark, ctx.ops, ctx.tracer
    rng = random.Random(ctx.seed)
    done: list[float] = []  # wall seconds per query
    passes: list[tuple[float, float]] = []
    attempted = failed = 0
    while sum(w for w, _ in passes) < ctx.seconds:
        order = list(QUERY_LIST)
        rng.shuffle(order)
        this_pass: list[tuple[float, float]] = []
        for name in order:
            attempted += 1
            walls: list[float] = []
            c0, c1 = ops.cpu_s(), None
            df = None
            try:
                with ops.timed(name, walls):
                    with ops.span("queries.build", op=name):
                        df = QUERIES[name][0](spark, ctx.sf)
                    if tr is not None:
                        with ops.span("spark.plan", op=name):
                            df._jdf.queryExecution().executedPlan()
                    with ops.span("spark.exec", op=name):
                        _noop(df)
                c1 = ops.cpu_s()
                with ops.span("check", op=name):
                    ok = _check(ctx, name, df)
            except Exception as e:  # a failing query is counted, not fatal
                print(f"query {name} failed: {e!r}"[:2000], file=ctx.log)
                ok = False
            finally:
                if c1 is None:  # the query raised inside its timed block
                    c1 = ops.cpu_s()
                c2 = ops.cpu_s()
                with ops.timed(name, walls):
                    caching.release_scratch(spark)
                c3 = ops.cpu_s()
            failed += not ok
            op = (sum(walls), (c1 - c0) + (c3 - c2))
            this_pass.append(op)
            print(f"{name}: {op[0]:.2f}s wall {op[1]:.2f}s CPU ok={ok}", file=ctx.log)
        done += [w for w, _ in this_pass]
        passes.append((sum(w for w, _ in this_pass), sum(c for _, c in this_pass)))
    return {"attempted": attempted, "failed": failed, "ops": done, "passes": passes}


def _check(ctx, name: str, df) -> bool:
    rows = df.collect()
    want = ctx.goldens[name]
    got = {"rows": len(rows), "digest": digest(df.columns, rows)}
    if got != want:
        print(f"query {name}: output {got} != golden {want}", file=ctx.log)
        return False
    return True
