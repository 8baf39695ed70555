"""Workload ``backtest_loop``: a PTrade strategy stepping day by day.

Set-up opens a synthetic warehouse written by ``build_warehouse`` (see
``_warehouse`` for when it is written) and the documented backtest client
(``PTradeDataAPI(point_cache=True, cache_tables=True)``). The timed phase
is a closed loop over trading days from a seed-chosen start on a
seed-chosen universe. Each day the strategy calls ``get_history`` for its
moving averages, ``get_stock_status`` and ``get_fundamentals('valuation')``;
every ``REBALANCE`` days it also calls ``get_Ashares``, a weekly
pre-adjusted ``get_price`` range and a forward-filled ``get_history``. The
loop is bound by the latency of small Spark jobs and the pandas edge and
runs none of the curation operators.

Outside the timed blocks two laws are checked, so the check holds for any
seed: on sampled days the point-cache answer equals the default-path
answer, and every daily moving-average signal equals the one a single batch
window query over the stored bars gives (the law of
``tests/test_backtest_loop.py``).
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random

N_SYMBOLS = 40
MARKET_SEED = 42
UNIVERSE = 10
SHORT_N, LONG_N = 5, 20
REBALANCE = 5
BLOCK = REBALANCE  # trading days per measured block: one rebalance each
SAMPLED_DAYS = 2
WARMUP_DAYS = 2 * BLOCK
MIN_BLOCKS = 3  # blocks per run at least (54 calls); the run reports the median


def _program_key(root: str) -> str:
    """Hash of every source file of the package and of the market's
    parameters: a warehouse is reused only by the code that wrote it."""
    h = hashlib.sha256(f"{N_SYMBOLS}/{MARKET_SEED}".encode())
    pkg = os.path.join(root, "simtradedata_spark")
    for d, _dirs, names in sorted(os.walk(pkg)):
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _warehouse(ctx):
    """The synthetic warehouse. Writing it takes about 45 s in a fresh
    process on 4 busy cores, most of a run, so untraced runs write it once
    per checkout and program version (the first untraced run pays it) and
    reuse it; traced runs always write it, which is where the ``sources.*``
    write-path metrics come from."""
    from simtradedata_spark.sources import tables
    from simtradedata_spark.sources.synthetic import SyntheticMarket

    cached = os.path.join(ctx.scratch, f"warehouse-{_program_key(ctx.root)}")
    if ctx.tracer is None and os.path.isdir(cached):
        return tables.Warehouse(ctx.spark, cached)
    root = os.path.join(ctx.workdir, "warehouse")
    market = SyntheticMarket(ctx.spark, n_symbols=N_SYMBOLS, seed=MARKET_SEED)
    wh = tables.build_warehouse(ctx.spark, root, market)
    if ctx.tracer is not None:
        return wh
    try:
        os.rename(root, cached)
    except OSError:  # another run stored it first
        pass
    return tables.Warehouse(ctx.spark, cached)


def setup(ctx) -> None:
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    ctx.wh = _warehouse(ctx)
    ctx.api = PTradeDataAPI(ctx.wh, cache_tables=True, point_cache=True)
    rng = random.Random(ctx.seed)
    with ctx.ops.span("setup.calendar"):
        ctx.days = ctx.api.get_trade_days()
        ctx.start = rng.randrange(LONG_N + WARMUP_DAYS, len(ctx.days))
        listed = ctx.api.get_Ashares(ctx.days[ctx.start])
    ctx.universe = sorted(rng.sample(listed, min(UNIVERSE, len(listed))))
    ctx.rng = rng
    # Fill the client caches the loop relies on (table pins, per-symbol
    # history) the way a backtest's first days do, and give the JIT time
    # to compile the loop's paths, outside the timing: without it passes
    # fell by up to a quarter within a run, and further when the host was
    # busy, because the compiler threads then fell behind.
    with ctx.ops.span("warmup"):
        for j in range(ctx.start - WARMUP_DAYS, ctx.start):
            _day(ctx, ctx.days[j], j % REBALANCE == 0, out=[], signals={})


def _day(ctx, d: str, rebalance: bool, out: list, signals: dict, keep=None):
    """One simulated trading day; appends each call's wall seconds to ``out``."""
    api, uni, ops = ctx.api, ctx.universe, ctx.ops
    with ops.timed("get_history", out):
        h = api.get_history(LONG_N, "1d", "close", uni, current_date=d)
    if keep is not None:
        keep[d] = h
    for sym in uni:
        closes = h[sym].dropna() if sym in h else []
        if len(closes) == LONG_N:
            ma_s, ma_l = closes.iloc[-SHORT_N:].mean(), closes.mean()
            if abs(ma_s - ma_l) > 1e-9:
                signals[(d, sym)] = bool(ma_s > ma_l)
    with ops.timed("get_stock_status", out):
        api.get_stock_status(uni, "ST", d)
    with ops.timed("get_fundamentals", out):
        api.get_fundamentals(uni, "valuation", fields=["pe_ttm", "total_value"], date=d)
    if rebalance:
        i = bisect.bisect_left(ctx.days, d)
        with ops.timed("get_Ashares", out):
            api.get_Ashares(d)
        with ops.timed("get_price", out):
            api.get_price(
                uni, start_date=ctx.days[max(0, i - REBALANCE)], end_date=d,
                frequency="1w", fq="pre",
            )
        with ops.timed("get_history", out):
            api.get_history(LONG_N, "1d", "close", uni, fill="pre", current_date=d)


def run(ctx) -> dict:
    calls: list[float] = []  # wall seconds per API call
    blocks: list[tuple[float, float]] = []  # (wall, CPU) per block
    signals: dict = {}
    kept: dict = {}
    attempted = failed = 0
    n_days = len(ctx.days)
    i, k = ctx.start, 0
    sample_at = set(ctx.rng.sample(range(BLOCK), SAMPLED_DAYS))
    while sum(w for w, _ in blocks) < ctx.seconds or len(blocks) < MIN_BLOCKS:
        block: list[float] = []
        cpu0 = ctx.ops.cpu_s()
        for _ in range(BLOCK):
            before = len(block)
            try:
                _day(
                    ctx, ctx.days[i], k % REBALANCE == 0, block, signals,
                    keep=kept if (not blocks and k in sample_at) else None,
                )
            except Exception as e:  # a failing call is counted, not fatal
                print(f"day {ctx.days[i]} failed: {e!r}"[:2000], file=ctx.log)
                failed += 1
            attempted += len(block) - before
            k += 1
            i = i + 1 if i + 1 < n_days else LONG_N + 1
        calls += block
        blocks.append((sum(block), ctx.ops.cpu_s() - cpu0))
        print(f"block: {blocks[-1][0]:.2f}s wall {blocks[-1][1]:.2f}s CPU", file=ctx.log)
    with ctx.ops.span("check"):
        failed += _check(ctx, kept, signals)
    return {"attempted": attempted, "failed": failed, "ops": calls, "passes": blocks}


def _check(ctx, kept: dict, signals: dict) -> int:
    """Number of failed checks: sampled days whose point-cache answer
    differs from the default path, plus days with a signal that differs
    from the batch window query."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simtradedata_spark.api.ptrade import PTradeDataAPI

    bad = 0
    plain = PTradeDataAPI(ctx.wh)
    for d, h in kept.items():
        ref = plain.get_history(LONG_N, "1d", "close", ctx.universe, current_date=d)
        if not h.equals(ref):
            print(f"point cache != default path on {d}", file=ctx.log)
            bad += 1

    def win(n):
        return Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-(n - 1), 0)

    pdf = (
        ctx.wh.read("bars")
        .filter(F.col("symbol").isin(ctx.universe))
        .select(
            "symbol", "trade_date",
            F.avg("close").over(win(SHORT_N)).alias("ma_s"),
            F.avg("close").over(win(LONG_N)).alias("ma_l"),
        )
        .toPandas()
    )
    pdf["trade_date"] = pdf["trade_date"].astype(str)
    state = {
        sym: (list(g["trade_date"]), list(g["ma_s"] > g["ma_l"]))
        for sym, g in pdf.sort_values("trade_date").groupby("symbol")
    }
    wrong_days = set()
    for (d, sym), sig in signals.items():
        dates, batch = state[sym]
        j = bisect.bisect_left(dates, d) - 1  # last bar strictly before d
        if j < 0 or batch[j] != sig:
            wrong_days.add(d)
    if wrong_days:
        print(f"signals differ from the batch query on {sorted(wrong_days)}", file=ctx.log)
    return bad + len(wrong_days)
