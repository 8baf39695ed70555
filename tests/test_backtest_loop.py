"""End-to-end backtest consumer loop (SURVEY §3.3): the engine's job is to
answer N sequential point-in-time ``get_history`` calls cheaply and
consistently. A dual-MA crossover strategy (the reference's
``strategies/simple/backtest.py:57-67`` pattern) is driven day by day through
the API, and every daily signal must equal the one computed by the batch
path — a single vectorized window query over the warehouse — so the
pointwise and set-oriented paths can never disagree."""

import bisect

import pandas as pd
from pyspark.sql import functions as F

from simtradedata_spark.operators.windows import moving_avg

SHORT_N, LONG_N = 3, 6


def test_backtest_consumer_loop_matches_batch_signals(api, warehouse):
    sym = "600000.SS"
    days = api.get_trade_days("2022-03-01", "2022-12-31")
    sample = days[20:32]

    # --- pointwise path: one exclusive-of-today get_history per bar day ----
    loop_signals = {}
    for d in sample:
        h = api.get_history(
            LONG_N, field="close", security_list=[sym], is_dict=True, current_date=d
        )[sym]
        closes = h["close"]
        assert len(closes) == LONG_N
        assert str(h.index.max()) < d  # no lookahead
        ma_s, ma_l = closes.iloc[-SHORT_N:].mean(), closes.mean()
        if abs(ma_s - ma_l) < 1e-9:  # don't assert a coin-flip comparison
            continue
        loop_signals[d] = ma_s > ma_l

    # --- batch path: one window query computing every day's MAs at once ----
    bars = warehouse.read("bars").filter(F.col("symbol") == sym)
    ma = moving_avg(bars, "close", SHORT_N, ["symbol"], ["trade_date"], "ma_s")
    ma = moving_avg(ma, "close", LONG_N, ["symbol"], ["trade_date"], "ma_l")
    pdf = ma.select("trade_date", "ma_s", "ma_l").toPandas()
    pdf["trade_date"] = pdf["trade_date"].astype(str)
    pdf = pdf.sort_values("trade_date").set_index("trade_date")
    bar_dates = list(pdf.index)

    assert loop_signals, "every sampled day was a tie — generator is degenerate"
    for d, sig in loop_signals.items():
        # the strategy acting on day d sees bars strictly before d: its MA
        # state is the window row of the last bar date < d
        prev = bar_dates[bisect.bisect_left(bar_dates, d) - 1]
        row = pdf.loc[prev]
        assert (row.ma_s > row.ma_l) == sig, f"signal mismatch on {d} (state {prev})"


def test_minute_backtest_loop_matches_batch_signals(warehouse):
    """The same loop ≡ batch law at MINUTE frequency: a dual-MA strategy
    stepping bar by bar through get_history(frequency='30m') on the
    point-cache client must reproduce the signals of one vectorized
    window query over the folded 30-minute bars."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    api = PTradeDataAPI(warehouse, point_cache=True)
    sym = "600000.SS"
    days = api.get_trade_days("2022-03-01", "2022-03-31")

    loop_signals = {}
    for d in days[2:8]:
        h = api.get_history(
            LONG_N, frequency="30m", field="close",
            security_list=[sym], current_date=d,
        )
        closes = h["close"]
        assert len(closes) == LONG_N
        assert h.index.max().strftime("%Y-%m-%d") < d  # no lookahead
        ma_s, ma_l = closes.iloc[-SHORT_N:].mean(), closes.mean()
        if abs(ma_s - ma_l) < 1e-9:
            continue
        loop_signals[d] = ma_s > ma_l

    # batch path: fold the materialized 1m store to 30m, one window query
    from simtradedata_spark.operators.resample import rebucket_minute_bars
    from simtradedata_spark.operators.windows import moving_avg

    mb = rebucket_minute_bars(
        warehouse.read("minute_bars").filter(F.col("symbol") == sym), 30
    )
    ma = moving_avg(mb, "close", SHORT_N, ["symbol"], ["trade_date", "bar_time"], "ma_s")
    ma = moving_avg(ma, "close", LONG_N, ["symbol"], ["trade_date", "bar_time"], "ma_l")
    pdf = (
        ma.select("trade_date", "bar_time", "ma_s", "ma_l")
        .orderBy("trade_date", "bar_time")
        .toPandas()
    )
    pdf["d"] = pdf["trade_date"].astype(str)

    assert loop_signals, "every sampled day was a tie"
    for d, sig in loop_signals.items():
        # strategy on day d sees bars strictly before d: the last bar row
        prev = pdf[pdf["d"] < d].iloc[-1]
        assert (prev.ma_s > prev.ma_l) == sig, f"minute signal mismatch on {d}"


def _assert_same(a, b):
    assert type(a) is type(b)
    if isinstance(a, pd.DataFrame):
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    elif isinstance(a, dict):
        assert a.keys() == b.keys()
        for k in a:
            _assert_same(a[k], b[k])
    else:
        assert a == b


def test_backtest_day_cached_client_equals_plain_client(warehouse):
    """The benchmark's trading day (perfbench/backtest.py::_day: history,
    ST status, valuation; on a rebalance day also get_Ashares, a weekly
    pre-adjusted get_price and a forward-filled history) stepped over 10
    days on a plain client and on the backtest client (cache_tables and
    point_cache). Every answer is equal. The universe gains two symbols at
    the first rebalance, and after the first day the cached client's daily
    calls run at most one Spark job per table: the one fill that pulls
    both new symbols. On the second rebalance, over the same universe, its
    three rebalance calls run no Spark job at all. Jobs are counted by the
    DAGScheduler id range, as runner.run_query does."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.runner import _next_ids

    plain = PTradeDataAPI(warehouse)
    cached = PTradeDataAPI(warehouse, cache_tables=True, point_cache=True)
    days = plain.get_trade_days("2022-08-15", "2022-12-31")[:10]
    uni = ["600000.SS", "000001.SZ", "600002.SS", "000003.SZ", "000005.SZ"]
    rebalances = (4, 8)
    daily = {
        "get_history": lambda api, d: api.get_history(
            LONG_N, "1d", "close", uni, current_date=d
        ),
        "get_stock_status": lambda api, d: api.get_stock_status(uni, "ST", d),
        "get_fundamentals": lambda api, d: api.get_fundamentals(
            uni, "valuation", fields=["pe_ttm", "total_value"], date=d
        ),
    }
    jobs = dict.fromkeys(daily, 0)
    rebalance_jobs = {}
    for i, d in enumerate(days):
        if i in rebalances:
            if i == rebalances[0]:
                uni = uni + ["600004.SS", "000009.SZ"]
            start = days[i - 4]
            for name, call in {
                "get_Ashares": lambda api: api.get_Ashares(d),
                "get_price": lambda api: api.get_price(
                    uni, start, d, frequency="1w", fq="pre"
                ),
                "get_history": lambda api: api.get_history(
                    LONG_N, "1d", "close", uni, fill="pre", current_date=d
                ),
            }.items():
                want = call(plain)
                jobs0 = _next_ids(warehouse.spark)[0]
                got = call(cached)
                rebalance_jobs[name] = _next_ids(warehouse.spark)[0] - jobs0
                _assert_same(got, want)
        for name, call in daily.items():
            want = call(plain, d)
            jobs0 = _next_ids(warehouse.spark)[0]
            got = call(cached, d)
            if i:
                jobs[name] += _next_ids(warehouse.spark)[0] - jobs0
            _assert_same(got, want)
    assert all(n <= 1 for n in jobs.values()), jobs
    # the last rebalance's counts: a warm rebalance day runs no Spark job
    assert rebalance_jobs == dict.fromkeys(rebalance_jobs, 0), rebalance_jobs
