"""PTrade query API surface (SURVEY §2.12) against the synthetic warehouse."""

import datetime as _dt

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_trade_days_range(api):
    days = api.get_trade_days("2022-03-01", "2022-03-31")
    assert days and all("2022-03-01" <= d <= "2022-03-31" for d in days)
    assert days == sorted(days)


def test_get_price_single_shape(api):
    df = api.get_price("600000.SS", "2022-02-01", "2022-02-28")
    assert list(df.columns) == ["open", "high", "low", "close", "volume", "money"]
    assert df.index.name == "trade_date"
    assert len(df) > 10
    assert (df.low <= df.high).all()


def test_get_price_count_excludes_end(api):
    days = api.get_trade_days("2022-01-01", "2022-06-30")
    cut = days[30]
    df = api.get_price("600000.SS", end_date=cut, count=5)
    assert len(df) == 5
    assert str(df.index.max()) < cut  # exclusive-of-today rule (spec :1977)


def test_get_price_multi_single_field(api):
    df = api.get_price(["600000.SS", "000001.SZ"], "2022-02-01", "2022-02-28",
                       fields=["close"])
    assert set(df.columns) == {"600000.SS", "000001.SZ"}


def test_get_price_fq_continuity(api, market):
    """Post-adjusted price = raw × back_adj; pre-adjusted final price == raw."""
    sym = "600000.SS"  # sym_idx 0 -> has exrights (0 % 3 == 0)
    raw = api.get_price(sym, "2022-01-01", "2023-12-29")
    post = api.get_price(sym, "2022-01-01", "2023-12-29", fq="post")
    pre = api.get_price(sym, "2022-01-01", "2023-12-29", fq="pre")
    assert abs(pre.close.iloc[-1] - raw.close.iloc[-1]) < 1e-6
    af = market.adjust_factor().filter(F.col("symbol") == sym).toPandas()
    af = af.set_index("trade_date").back_adj
    expected_last = raw.close.iloc[-1] * af.iloc[-1]
    assert abs(post.close.iloc[-1] - expected_last) < 1e-3
    # before first event all three agree (back_adj == 1)
    assert abs(post.close.iloc[0] - raw.close.iloc[0]) < 1e-6


def test_get_history_dict_mode(api):
    days = api.get_trade_days()
    d = days[100]
    h = api.get_history(10, field=["close", "volume"], security_list=["000001.SZ"],
                        is_dict=True, current_date=d)
    assert set(h.keys()) == {"000001.SZ"}
    assert len(h["000001.SZ"]) == 10
    assert str(h["000001.SZ"].index.max()) < d


def test_get_ashares_point_in_time(api, market):
    days = api.get_trade_days()
    early, late = days[10], days[-10]
    ipo_sym = market.symbols().filter(
        F.col("sym_idx") == market.ipo_idx
    ).first()["symbol"]
    delist_sym = market.symbols().filter(
        F.col("sym_idx") == market.delist_idx
    ).first()["symbol"]
    early_univ = api.get_Ashares(early)
    late_univ = api.get_Ashares(late)
    assert ipo_sym not in early_univ and ipo_sym in late_univ
    assert delist_sym in early_univ and delist_sym not in late_univ


def test_stock_status(api, market):
    days = api.get_trade_days()
    st_sym = market.symbols().filter(F.col("sym_idx") == 2).first()["symbol"]
    halt_sym = market.symbols().filter(F.col("sym_idx") == 3).first()["symbol"]
    halt_day = market.trading_days().filter(F.col("day_idx") == 105).first()["trade_date"]
    st = api.get_stock_status([st_sym, halt_sym], "ST", days[-5])
    assert st[st_sym] is True
    halt = api.get_stock_status([halt_sym, st_sym], "HALT", str(halt_day))
    assert halt[halt_sym] is True and halt[st_sym] is False
    delist_sym = market.symbols().filter(
        F.col("sym_idx") == market.delist_idx
    ).first()["symbol"]
    dl = api.get_stock_status([delist_sym], "DELISTING", days[-1])
    assert dl[delist_sym] is True


def test_fundamentals_no_lookahead(api, warehouse):
    """date-mode must only use reports with publ_date <= query date (J5)."""
    f = warehouse.read("fundamentals").toPandas()
    sym = "600000.SS"
    pub = f[(f.symbol == sym) & (f.merge_seq == 0)].sort_values("publ_date")
    # query one day before a known publication: that report must NOT appear
    target = pub.iloc[2]
    qd = (pd.Timestamp(target.publ_date) - pd.Timedelta(days=1)).date().isoformat()
    got = api.get_fundamentals(sym, date=qd)
    assert str(got.loc[sym, "end_date"]) < str(target.end_date)
    # query exactly on the publication date: report appears
    got2 = api.get_fundamentals(sym, date=str(target.publ_date))
    assert str(got2.loc[sym, "end_date"]) == str(target.end_date)


def test_fundamentals_merge_type(api):
    """'latest' must pick the restated 2022Q4 row, 'first' the original."""
    sym = "600000.SS"
    first = api.get_fundamentals(sym, table="profit_ability",
                                 start_year=2022, end_year=2022, merge_type="first")
    latest = api.get_fundamentals(sym, table="profit_ability",
                                  start_year=2022, end_year=2022, merge_type="latest")
    q4f = first[first.end_date.astype(str) == "2022-12-31"]
    q4l = latest[latest.end_date.astype(str) == "2022-12-31"]
    assert len(q4f) == 1 and len(q4l) == 1
    assert q4f.iloc[0].merge_seq == 0 and q4l.iloc[0].merge_seq == 1
    assert q4f.iloc[0].roe != q4l.iloc[0].roe


def test_fundamentals_year_mode_selection(api, market):
    """Year-mode get_fundamentals (r6 verdict item 4; the same selection
    semantics the hash-certified statements_by_year/..._latest registry
    queries pin against DuckDB): year × report_types filters, then
    merge_type='first' keeps merge_seq=0 and 'latest' keeps the
    max-merge_seq restatement per (symbol, end_date). Expectation is an
    independent pandas recomputation from the generator frame."""
    cols = ["symbol", "end_date", "publ_date", "report_type", "merge_seq",
            "operating_revenue", "net_profit", "basic_eps"]
    raw = market.fundamentals().select(*cols).toPandas()
    syms = sorted(raw.symbol.unique())
    raw = raw[
        (pd.to_datetime(raw.end_date).dt.year == 2022)
        & raw.report_type.isin([2, 4])
    ]
    for mt in ("first", "latest"):
        if mt == "first":
            want = raw[raw.merge_seq == 0]
        else:
            idx = raw.groupby(["symbol", "end_date"]).merge_seq.idxmax()
            want = raw.loc[idx]
        want = want.sort_values(["symbol", "end_date"]).reset_index(drop=True)
        got = (
            api.get_fundamentals(
                syms, table="income_statement", start_year=2022,
                end_year=2022, report_types=[2, 4], merge_type=mt,
            )
            .reset_index()
            .sort_values(["symbol", "end_date"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


def test_fundamentals_table_dispatch(api):
    """Each ability table projects its own indicator group
    (ptrade_data_api.py:484-590 dispatch; BaoStock per-domain query split)."""
    import pytest

    from simtradedata_spark.api.ptrade import FUNDAMENTAL_TABLES

    sym = "600000.SS"
    for table, cols in FUNDAMENTAL_TABLES.items():
        got = api.get_fundamentals(sym, table=table, start_year=2022, end_year=2022)
        assert set(cols) <= set(got.columns), table
        other = {
            c for t, cs in FUNDAMENTAL_TABLES.items() if t != table for c in cs
        } - set(cols)
        assert not other & set(got.columns), table
    with pytest.raises(ValueError, match="not supported"):
        api.get_fundamentals(sym, table="no_such_table")


def test_fundamentals_statement_tables(api):
    """Spec :3274-3412 statement tables (beyond the reference's own impl):
    date-mode as-of returns the statement visible at the query date, and the
    eps/income tables share basic_eps."""
    sym = "600000.SS"
    inc = api.get_fundamentals(sym, table="income_statement", date="2023-01-05")
    assert len(inc) == 1
    row = inc.iloc[0]
    assert row["publ_date"] <= _dt.date(2023, 1, 5)
    assert row["operating_revenue"] >= 5.0
    eps = api.get_fundamentals(sym, table="eps", date="2023-01-05")
    assert float(eps.iloc[0]["basic_eps"]) == float(row["basic_eps"])
    bal = api.get_fundamentals(
        sym, table="balance_statement", fields=["total_assets"], date="2023-01-05"
    )
    assert "total_assets" in bal.columns and "fixed_assets" not in bal.columns


def test_index_stocks_point_in_time(api, warehouse):
    ic = warehouse.read("index_constituents").toPandas()
    samples = sorted(ic[ic.index_code == "000300.SS"].sample_date.unique())
    first_members = api.get_index_stocks("000300.SS", str(samples[0]))
    later_members = api.get_index_stocks("000300.SS", str(samples[-1]))
    assert first_members and later_members
    assert set(first_members) != set(later_members)
    expect = sorted(
        ic[(ic.index_code == "000300.SS") & (ic.sample_date == samples[0])].symbol
    )
    assert first_members == expect


def test_industry_and_blocks(api):
    blocks = api.get_stock_blocks("600000.SS")
    assert "industry" in blocks
    members = api.get_industry_stocks(blocks["industry"])
    assert "600000.SS" in members


def test_exrights_int_index(api):
    ex = api.get_stock_exrights("600000.SS")
    assert ex is not None
    assert ex.index.dtype.kind == "i"  # yyyymmdd int (data_converter.py:356)
    assert all(20220101 < d < 20240101 for d in ex.index)
    # A/B linear-form consistency: forward A = 1/backward A
    assert ((ex.exer_forward_a * ex.exer_backward_a - 1).abs() < 1e-9).all()


def test_fundamentals_valuation_table(api):
    got = api.get_fundamentals(
        ["600000.SS", "000001.SZ"], table="valuation",
        fields=["pe_ttm", "pb", "total_value"], date="2022-06-15",
    )
    assert len(got) == 2
    assert str(got.loc["600000.SS", "trade_date"]) == "2022-06-15"
    assert got.loc["600000.SS", "total_value"] > 0


def test_split_stock_index(spark):
    from simtradedata_spark.functions.codes import split_stock_index

    df = spark.createDataFrame(
        [("600000.SS",), ("000300.SS",), ("399001.SZ",), ("000001.SZ",)], ["symbol"]
    )
    stocks, indices = split_stock_index(df)
    assert {r[0] for r in stocks.collect()} == {"600000.SS", "000001.SZ"}
    assert {r[0] for r in indices.collect()} == {"000300.SS", "399001.SZ"}


def test_get_indeces(api):
    idx = api.get_Indeces()
    assert set(idx) == {"000016.SS", "000300.SS", "000905.SS"}
    # disjoint from the stock universe (F3 split)
    assert not set(idx) & set(api.get_Ashares())


def test_get_price_weekly_resample(api):
    daily = api.get_price("600000.SS", "2022-03-01", "2022-04-29")
    weekly = api.get_price(
        "600000.SS", "2022-03-01", "2022-04-29", frequency="1w"
    )
    # weekly bars must reproduce pandas' resample of the daily frame
    import pandas as pd

    d = daily.copy()
    d.index = pd.to_datetime(d.index)
    exp = pd.DataFrame(
        {
            "open": d.open.resample("W-SUN", label="left", closed="left").first(),
            "high": d.high.resample("W-SUN", label="left", closed="left").max(),
            "low": d.low.resample("W-SUN", label="left", closed="left").min(),
            "close": d.close.resample("W-SUN", label="left", closed="left").last(),
            "volume": d.volume.resample("W-SUN", label="left", closed="left").sum(),
        }
    ).dropna()
    got = weekly[["open", "high", "low", "close", "volume"]].astype(float)
    got.index = pd.to_datetime(got.index)
    # spark's date_trunc('week') is Monday-anchored; pandas W-SUN label='left'
    # labels the Sunday before — shift to align then compare values
    exp.index = exp.index + pd.Timedelta(days=1)
    pd.testing.assert_frame_equal(got.sort_index(), exp.sort_index(),
                                  check_freq=False, check_names=False)


def test_get_price_monthly_count_mode(api):
    got = api.get_price("600000.SS", end_date="2022-12-30", frequency="1M", count=3)
    assert len(got) == 3
    # periods strictly before end_date, newest = December (bars before 12-30)
    assert [str(i)[:7] for i in got.index] == ["2022-10", "2022-11", "2022-12"]


def test_leftover_adjusted_tables_are_ignored(warehouse, spark, tmp_path):
    """Adjusted bars are derived on every read from the current ``bars`` and
    ``adjust_factor``: ``bars_pre``/``bars_post`` directories in the
    warehouse (stored by an older layout, and left stale by a rebuild of
    ``bars``) change no answer, on a plain or a fully cached client."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.operators.adjust import adjust_bars
    from simtradedata_spark.sources.tables import Warehouse

    sym = "600000.SS"  # has exrights, so pre/post differ from raw
    tw = Warehouse(spark, str(tmp_path / "wh"))
    for t in ("bars", "adjust_factor"):
        tw.write(t, warehouse.read(t).filter(F.col("symbol") == sym))
    bars, af = tw.read("bars"), tw.read("adjust_factor")
    for fq in ("pre", "post"):
        stale = adjust_bars(bars, af, fq).withColumn("close", F.col("close") * 10)
        stale.withColumn("trade_year", F.year("trade_date")).write.partitionBy(
            "trade_year"
        ).parquet(tw.path(f"bars_{fq}"))
    fields = ["open", "high", "low", "close", "volume", "money"]
    clients = [PTradeDataAPI(tw), PTradeDataAPI(tw, cache_tables=True, point_cache=True)]
    for fq in ("pre", "post"):
        want = (
            adjust_bars(bars, af, fq)
            .filter(F.col("trade_date").between("2022-01-04", "2022-12-30"))
            .select("trade_date", *fields)
            .orderBy("trade_date")
            .toPandas()
            .set_index("trade_date")
        )
        for client in clients:
            got = client.get_price(sym, "2022-01-04", "2022-12-30", fq=fq)
            pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("point_cache", [False, True])
def test_unknown_fq_fails_loudly(warehouse, point_cache):
    """An ``fq`` outside None/'none'/'pre'/'post' raises ValueError on
    every bar read, daily and minute, instead of silently returning raw
    prices, and leaves nothing in the point cache."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    api = PTradeDataAPI(warehouse, point_cache=point_cache)
    sym, day = "600000.SS", "2022-03-01"
    calls = [
        lambda: api.get_price(sym, "2022-02-01", day, fq="qfq"),
        lambda: api.get_price(sym, end_date=day, frequency="5m", count=10, fq="qfq"),
        lambda: api.get_history(5, "1d", "close", [sym], fq="hfq", current_date=day),
        lambda: api.get_history(5, "1m", "close", [sym], fq="Pre", current_date=day),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="fq"):
            call()
    assert api._point_rows == {}


def test_get_sort_msg_industry_ranking(api, warehouse):
    """Ranking must agree with a pandas recompute from raw tables."""
    out = api.get_sort_msg(sort_field_name="business_balance", data_count=5)
    assert out and len(out) <= 5
    balances = [r["business_balance"] for r in out]
    assert balances == sorted(balances, reverse=True)

    days = api.get_trade_days()
    prev_d, d = days[-2], days[-1]
    bars = warehouse.read("bars").toPandas()
    bars["trade_date"] = bars["trade_date"].astype(str)
    meta = warehouse.read("stock_metadata").toPandas()
    ind = {r.symbol: r.blocks.get("industry") for r in meta.itertuples()}
    day = bars[bars.trade_date == d].copy()
    day["grp"] = day.symbol.map(ind)
    expect = day.groupby("grp").money.sum().sort_values(ascending=False)
    got_top = out[0]
    assert got_top["prod_code"] == expect.index[0]
    assert abs(got_top["business_balance"] - expect.iloc[0]) < 1e-6

    # ascending mode + field validation
    asc = api.get_sort_msg(sort_field_name="px_change_rate", sort_type=0, data_count=3)
    rates = [r["px_change_rate"] for r in asc]
    assert rates == sorted(rates)
    import pytest

    with pytest.raises(ValueError, match="sort_field_name"):
        api.get_sort_msg(sort_field_name="nope")


def test_cached_api_results_identical(warehouse):
    """cache_tables=True must change latency only, never results."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    cold = PTradeDataAPI(warehouse)
    hot = PTradeDataAPI(warehouse, cache_tables=True)
    a = cold.get_price("600000.SS", "2022-02-01", "2022-03-31", fq="post")
    b = hot.get_price("600000.SS", "2022-02-01", "2022-03-31", fq="post")
    pd.testing.assert_frame_equal(a, b)
    assert cold.get_trade_days("2022-03-01", "2022-03-31") == hot.get_trade_days(
        "2022-03-01", "2022-03-31"
    )
    h1 = cold.get_history(5, security_list=["000001.SZ"], current_date="2022-06-01")
    h2 = hot.get_history(5, security_list=["000001.SZ"], current_date="2022-06-01")
    pd.testing.assert_frame_equal(h1, h2)


def test_get_history_fill_pre_forward_fills(spark, tmp_path):
    """W2: fill='pre' forward-fills suspension nulls; fill='nan' keeps them."""
    import datetime

    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.sources.tables import Warehouse

    base = datetime.date(2022, 3, 1)
    rows = []
    for i in range(8):
        close = None if i in (3, 4) else 10.0 + i
        rows.append(
            ("600009.SS", base + datetime.timedelta(days=i),
             close, close, close, close, 100.0, 1000.0)
        )
    bars = spark.createDataFrame(
        rows,
        "symbol string, trade_date date, open double, high double,"
        " low double, close double, volume double, money double",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("bars", bars)
    api = PTradeDataAPI(wh)

    cur = str(base + datetime.timedelta(days=8))
    raw = api.get_history(8, field="close", security_list=["600009.SS"],
                          fill="nan", current_date=cur)
    assert raw["close"].isna().sum() == 2
    filled = api.get_history(8, field="close", security_list=["600009.SS"],
                             fill="pre", current_date=cur)
    assert filled["close"].isna().sum() == 0
    # the gap days carry the last pre-gap close (12.0 at offset 2)
    assert (filled["close"].iloc[3:5] == 12.0).all()
    # non-gap values untouched
    assert filled["close"].iloc[0] == 10.0 and filled["close"].iloc[-1] == 17.0


def test_get_trading_day_offsets(api):
    days = api.get_trade_days()
    # day=0 anchored on a trading day returns it; on a weekend, the previous
    assert api.get_trading_day(0, days[10]).isoformat() == days[10]
    assert api.get_trading_day(1, days[10]).isoformat() == days[11]
    assert api.get_trading_day(-3, days[10]).isoformat() == days[7]
    import datetime

    sat = datetime.date.fromisoformat(days[10])
    while sat.isoformat() in days:
        sat += datetime.timedelta(days=1)
    prev = api.get_trading_day(0, sat.isoformat()).isoformat()
    assert prev in days and prev < sat.isoformat()


def test_get_stock_name(api):
    syms = api.get_Ashares()[:3]
    names = api.get_stock_name(syms + ["999999.SS"])
    assert all(names[s] for s in syms)
    assert names["999999.SS"] is None
    one = api.get_stock_name(syms[0])
    assert one[syms[0]] == names[syms[0]]


def test_get_market_list_and_detail(api):
    ml = api.get_market_list()
    assert set(ml.columns) == {"finance_mic", "finance_name"}
    assert "XSHG" in set(ml.finance_mic)
    det = api.get_market_detail("XSHG")
    assert list(det.columns) == [
        "hq_type_code", "prod_code", "prod_name", "trade_time_rule"
    ]
    assert len(det) > 0 and (det.hq_type_code == "ESA").all()
    # 'SS' alias resolves like XSHG; indices come back under MRI
    assert len(api.get_market_detail("SS")) == len(det)
    mri = api.get_market_detail("MRI")
    assert "000300" in set(mri.prod_code)


def test_get_ipo_stocks_finds_the_synthetic_ipo(api, market):
    # the generator lists sym_idx 5 (odd -> 000005.SZ) one third into range
    meta = {r["symbol"]: r for r in market.stock_metadata().collect()}
    ipo_sym = "000005.SZ"
    assert ipo_sym in meta and meta[ipo_sym]["listed_date"] is not None
    d = meta[ipo_sym]["listed_date"].isoformat()
    got = api.get_ipo_stocks(d)
    assert ipo_sym in got["深证普通代码"]
    assert set(got) == {
        "上证普通代码", "上证科创板代码", "深证普通代码", "深证创业板代码", "可转债代码"
    }
    # a non-IPO day returns the empty classification
    later = api.get_trading_day(5, d).isoformat()
    assert all(not v for v in api.get_ipo_stocks(later).values())


def test_get_snapshot_and_gears(api):
    days = api.get_trade_days()
    d = days[20]
    syms = api.get_Ashares(d)[:2]
    snaps = api.get_snapshot(syms, d)
    assert set(snaps) == set(syms)
    for s, v in snaps.items():
        assert v["trade_status"] in ("TRADE", "SUSP", "DELISTED")
        assert v["low_px"] <= v["last_px"] <= v["high_px"]
        assert v["down_px"] < v["preclose_px"] < v["up_px"]
        assert set(v["bid_grp"]) == {1, 2, 3, 4, 5}
        assert v["bid_grp"][1][0] > v["bid_grp"][5][0]  # bids descend
        assert v["offer_grp"][1][0] < v["offer_grp"][5][0]  # offers ascend
        assert v["bid_grp"][5][0] < v["last_px"] < v["offer_grp"][1][0]
    g = api.get_gear_price(syms[0], d)
    assert set(g) == {"bid_grp", "offer_grp"}
    assert g["bid_grp"] == snaps[syms[0]]["bid_grp"]


def test_snapshot_suspended_day_reports_susp(api, market):
    # generator suspends sym_idx 3 for day_idx in [100, 110)
    days = api.get_trade_days()
    d = days[105]
    snap = api.get_snapshot("000003.SZ", d)["000003.SZ"]
    assert snap["trade_status"] == "SUSP"
    assert snap["business_amount"] == 0


def test_etf_surface(api):
    etfs = api.get_etf_list()
    assert "510300.SS" in etfs
    info = api.get_etf_info(etfs)
    assert set(info) == set(etfs)
    assert info["510300.SS"]["report_unit"] == 1_000_000
    assert api.get_etf_info("999999.SS") == {}
    members = api.get_etf_stock_list("510300.SS")
    assert members == api.get_index_stocks("000300.SS")
    assert members
    si = api.get_etf_stock_info("510300.SS", members[:3] + ["999999.SS"])
    assert set(si) == set(members[:3])
    for v in si.values():
        assert v["cash_replace_flag"] == "1" and v["is_open"] in (0, 1)
    # deterministic basket sizes
    si2 = api.get_etf_stock_info("510300.SS", members[:3])
    assert {k: v["code_num"] for k, v in si.items()} == {
        k: v["code_num"] for k, v in si2.items()
    }


def test_cb_surface(api):
    cbs = api.get_cb_list()
    assert cbs and all(c.split(".")[0][:3] in ("110", "123") for c in cbs)
    info = api.get_cb_info()
    assert set(info.columns) >= {
        "bond_code", "bond_name", "stock_code", "stock_name", "list_date",
        "premium_rate", "convert_date", "maturity_date", "convert_rate",
        "convert_price", "convert_value",
    }
    assert sorted(info.bond_code) == cbs
    row = info.iloc[0]
    # convert_value consistency: rate x latest close; rate = 100 / price
    assert abs(row.convert_rate * row.convert_price - 100.0) < 0.05
    assert row.convert_value > 0


def test_tick_surface(api):
    days = api.get_trade_days()
    d = days[40]
    syms = api.get_Ashares(d)[:2]
    tx = api.get_individual_transaction(syms, data_count=10, date=d)
    assert set(tx) == set(syms)
    f = tx[syms[0]]
    assert len(f) == 10
    assert list(f.trade_index) == list(range(1, 11))
    assert (f.business_direction.isin([0, 1])).all()
    # backward pager returns the END of the day: last tick == close
    back = api.get_individual_transaction(syms[0], data_count=5,
                                          search_direction=2, date=d)
    close = api.get_price(syms[0], start_date=d, end_date=d)["close"].iloc[0]
    assert back[syms[0]].hq_px.iloc[-1] == close
    ent = api.get_individual_entrust(syms, data_count=5, date=d)
    kinds = {s: set(ent[s].trans_kind) for s in syms}
    for s in syms:
        assert kinds[s] == ({4} if s.endswith(".SS") else {2})
    td = api.get_tick_direction(syms[0], data_count=8,
                                query_date=int(d.replace("-", "")))
    frame = td[syms[0]]
    assert (frame.business_direction.isin([0, 1, 2])).all()
    assert (frame.business_balance ==
            (frame.hq_px * frame.business_amount).round(0).astype("int64")).all()


def test_ticks_respect_bar_envelope(api, market):
    days = api.get_trade_days()
    d = days[40]
    sym = "600000.SS"
    bars = api.get_price(sym, start_date=d, end_date=d,
                         fields=["open", "high", "low", "close"])
    t = api.get_tick_direction(sym, data_count=200,
                               query_date=int(d.replace("-", "")))[sym]
    assert t.hq_px.max() <= bars["high"].iloc[0] + 1e-9
    assert t.hq_px.min() >= bars["low"].iloc[0] - 1e-9
    assert t.hq_px.iloc[-1] == bars["close"].iloc[0]
    # suspended day -> no ticks
    susp = api.get_tick_direction(
        "000003.SZ", data_count=10, query_date=int(days[105].replace("-", "")))
    assert susp == {} or "000003.SZ" not in susp


def test_point_cache_parity_and_no_spark_after_warm(api, warehouse):
    """point_cache=True serves get_price point queries from the per-symbol
    pandas cache: results identical to the Spark path (range, count, fq,
    multi-security shapes), and after warm-up the cache path never touches
    Spark again (proven by breaking _bars)."""
    import pandas as pd

    from simtradedata_spark.api.ptrade import PTradeDataAPI

    pc = PTradeDataAPI(warehouse, point_cache=True)
    sym, sym2 = "600000.SS", "600001.SS"
    cases = [
        dict(security=sym, start_date="2022-03-01", end_date="2022-03-31"),
        dict(security=sym, end_date="2022-06-30", count=10),
        dict(security=sym, start_date="2022-03-01", end_date="2022-03-31", fq="post"),
        dict(security=[sym, sym2], start_date="2022-03-01", end_date="2022-03-15",
             fields=["close"]),
        # a repeated symbol is read once, as Spark's isin reads it
        dict(security=[sym, sym2, sym], start_date="2022-03-01",
             end_date="2022-03-15", fields=["close"]),
    ]
    for kw in cases:
        a = api.get_price(**kw)
        b = pc.get_price(**kw)
        pd.testing.assert_frame_equal(
            a if isinstance(a, pd.DataFrame) else a["close"],
            b if isinstance(b, pd.DataFrame) else b["close"],
        )

    # warm for both fq variants used above, then sever the Spark path
    pc._bars = None  # any further Spark access would raise TypeError
    got = pc.get_price(sym, start_date="2022-05-01", end_date="2022-05-31")
    want = api.get_price(sym, start_date="2022-05-01", end_date="2022-05-31")
    pd.testing.assert_frame_equal(got, want)
    # a resampled frequency folds the warm daily rows without Spark
    got = pc.get_price(sym, start_date="2022-05-01", end_date="2022-05-31",
                       frequency="1w")
    want = api.get_price(sym, start_date="2022-05-01", end_date="2022-05-31",
                         frequency="1w")
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # a daily column outside BAR_FIELDS still goes to Spark: the cache
    # must NOT have hijacked it
    with pytest.raises(TypeError):
        pc.get_price(sym, start_date="2022-05-01", end_date="2022-05-31",
                     fields=["preclose"])


# -- minute frequency (spec :521-694 minute mode) --------------------------


def test_get_price_minute_matches_ticks(api, market):
    """frequency='1m' with the default 40-tick day (6-minute spacing) puts
    one tick in each touched minute: OHLC collapse to the tick price,
    volume to its qty, and the index is a real timestamp starting 09:30."""
    sym, day = "600000.SS", "2022-03-01"
    df = api.get_price(sym, day, day, frequency="1m")
    ticks = (
        market.ticks()
        .filter((F.col("symbol") == sym) & (F.col("trade_date") == day))
        .orderBy("seq")
        .collect()
    )
    assert len(df) == len(ticks) == 40
    assert df.index[0].strftime("%H:%M") == "09:30"
    assert df.index[-1].strftime("%H:%M") == "14:54"
    for (_, bar), t in zip(df.iterrows(), ticks):
        assert bar["open"] == bar["high"] == bar["low"] == bar["close"] == t.price
        assert bar["volume"] == t.qty


def test_get_price_minute_rebucket_consistency(api):
    """'30m' folds the materialized 1m store: 8 session bars/day, same
    total volume/money as '1m', OHLC nesting preserved."""
    sym, day = "000001.SZ", "2022-03-01"
    m1 = api.get_price(sym, day, day, frequency="1m",
                       fields=["open", "high", "low", "close", "volume", "money"])
    m30 = api.get_price(sym, day, day, frequency="30m",
                        fields=["open", "high", "low", "close", "volume", "money"])
    assert len(m30) == 8
    assert m30["volume"].sum() == m1["volume"].sum()
    assert abs(m30["money"].sum() - m1["money"].sum()) < 1e-6
    assert m30["high"].max() == m1["high"].max()
    assert m30["low"].min() == m1["low"].min()
    assert m30["open"].iloc[0] == m1["open"].iloc[0]
    assert m30["close"].iloc[-1] == m1["close"].iloc[-1]


def test_get_price_minute_count_mode(api):
    """count mode returns the last N minute bars on or before end_date —
    the end date's own session included (completed minutes are final)."""
    df = api.get_price("600000.SS", end_date="2022-03-02", count=50,
                       frequency="1m")
    assert len(df) == 50
    assert df.index[-1].strftime("%Y-%m-%d %H:%M") == "2022-03-02 14:54"
    # 40 bars from 03-02, the 10 before that from the previous trading day
    assert df.index[0].strftime("%Y-%m-%d") == "2022-03-01"


def test_get_price_minute_fq_post(api, market):
    """fq='post' scales minute OHLC by the same per-day factor as daily
    bars (A·x with the day's back_adj)."""
    sym, day = "600000.SS", "2023-06-01"  # after this symbol's ex-events
    raw = api.get_price(sym, day, day, frequency="1m")
    adj = api.get_price(sym, day, day, frequency="1m", fq="post")
    fac = (
        market.adjust_factor()
        .filter((F.col("symbol") == sym) & (F.col("trade_date") == day))
        .select("back_adj")
        .collect()[0][0]
    )
    assert fac != 1.0
    for c in ("open", "high", "low", "close"):
        assert (adj[c] - raw[c] * fac).abs().max() < 1e-4
    assert (adj["volume"] - (raw["volume"] / fac).round(2)).abs().max() < 1e-9


def test_get_history_minute(api):
    """get_history minute mode: last N bars strictly before current_date."""
    df = api.get_history(12, frequency="1m", field="close",
                         security_list="600000.SS", current_date="2022-03-02")
    assert len(df) == 12
    assert df.index[-1].strftime("%Y-%m-%d %H:%M") == "2022-03-01 14:54"
    d = api.get_history(5, frequency="5m", field=["close", "vwap"],
                        security_list=["600000.SS"], current_date="2022-03-02",
                        include=True, is_dict=True)
    assert set(d) == {"600000.SS"} and len(d["600000.SS"]) == 5


def test_get_price_minute_bad_inputs(api):
    with pytest.raises(ValueError):
        api.get_price("600000.SS", "2022-03-01", "2022-03-02",
                      frequency="1m", fields=["n_bars"])
    with pytest.raises(ValueError):
        api.get_price("600000.SS", "2022-03-01", "2022-03-02", frequency="7s")
    # get_history checks fields the same way, naming the frequency
    for freq, field in (("1w", "pe_ttm"), ("1m", "n_bars")):
        with pytest.raises(ValueError, match=freq):
            api.get_history(3, freq, field, "600000.SS",
                            current_date="2022-03-02")


def test_point_cache_minute_parity(warehouse):
    """The minute point-cache client returns byte-identical frames to the
    Spark minute path, then serves repeat queries from pandas."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    slow = PTradeDataAPI(warehouse)
    fast = PTradeDataAPI(warehouse, point_cache=True)
    for kwargs in (
        dict(start_date="2022-03-01", end_date="2022-03-02", frequency="1m"),
        dict(end_date="2022-03-02", count=50, frequency="1m"),
        dict(start_date="2022-03-01", end_date="2022-03-03",
             frequency="30m", fq="post", fields=["close", "vwap"]),
        # count mode over two symbols: the end date's session is included
        dict(security=["600000.SS", "000001.SZ"], end_date="2022-03-02",
             count=50, frequency="1m", fields=["close"]),
    ):
        security = kwargs.pop("security", "600000.SS")
        a = slow.get_price(security, **kwargs)
        b = fast.get_price(security, **kwargs)
        pd.testing.assert_frame_equal(a, b)
    assert ("bars", "600000.SS", None, 1) in fast._point_rows


def test_get_history_weekly_resample(api):
    """get_history now honors resample frequencies (previously silently
    daily): last 4 weekly bars before current_date, OHLC folded per week."""
    wk = api.get_history(4, frequency="1w", field=["close", "volume"],
                         security_list="600000.SS", current_date="2022-06-15")
    assert len(wk) == 4
    daily = api.get_price("600000.SS", "2022-05-16", "2022-06-14")
    # last full week's close == close of that week's last daily bar
    assert wk["close"].iloc[-1] == daily["close"].iloc[-1]
    week_start = wk.index[-1]
    sel = daily[(daily.index >= week_start)]
    assert wk["volume"].iloc[-1] == sel["volume"].sum()


def test_get_history_minute_fill_pre_suspension(api, market):
    """fill='pre' at minute frequency densifies suspension gaps: the
    suspended symbol (sym_idx 3, days 100-109) gets full-session bars with
    the carried close, zero volume (code-review finding: fill was silently
    ignored at minute frequency)."""
    sym = [r["symbol"] for r in market.symbols().filter("sym_idx = 3")
           .select("symbol").collect()][0]
    days = api.get_trade_days()
    susp_day, after = days[103], days[110]
    # densified: EVERY grid minute becomes a bar (240/day), so reaching
    # back from day 109 to day 103 needs 7 full days of bars
    filled = api.get_history(
        240 * 8, frequency="1m", field=["close", "volume"],
        security_list=sym, current_date=after, fill="pre")
    day_rows = filled[filled.index.strftime("%Y-%m-%d") == susp_day]
    assert len(day_rows) == 240  # full 1-minute session grid
    assert (day_rows["volume"] == 0).all()
    assert day_rows["close"].nunique() == 1  # carried close, constant
    # without fill, the suspended day contributes no bars at all
    bare = api.get_history(
        40 * 3, frequency="1m", field="close",
        security_list=sym, current_date=after)
    assert (bare.index.strftime("%Y-%m-%d") == susp_day).sum() == 0


def test_point_cache_get_history_parity(warehouse):
    """get_history from a point_cache client is byte-identical to the
    Spark path at daily AND minute frequency (range of count/include/
    is_dict/fq shapes)."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    slow = PTradeDataAPI(warehouse)
    fast = PTradeDataAPI(warehouse, point_cache=True)
    cases = [
        dict(count=10, field="close", security_list="600000.SS",
             current_date="2022-06-15"),
        dict(count=7, field=["close", "volume"],
             security_list=["600000.SS", "000001.SZ"],
             current_date="2022-06-15", include=True, fq="post"),
        dict(count=25, frequency="1m", field="close",
             security_list="600000.SS", current_date="2022-06-15"),
        dict(count=9, frequency="30m", field=["close", "vwap"],
             security_list="000001.SZ", current_date="2022-06-15",
             include=True),
        # daily fill='pre' over rows without NaN and a resampled
        # frequency, both served from the cache
        dict(count=10, field=["close", "volume"],
             security_list=["600000.SS", "000003.SZ"],
             current_date="2022-06-15", fill="pre"),
        dict(count=4, frequency="1w", field=["close", "n_bars"],
             security_list="600000.SS", current_date="2022-06-15"),
        # the cases that stay on Spark: minute fill='pre', a daily field
        # outside BAR_FIELDS
        dict(count=30, frequency="1m", field="close",
             security_list="000003.SZ", current_date="2022-06-15",
             fill="pre"),
        dict(count=6, field="preclose", security_list="600000.SS",
             current_date="2022-06-15"),
    ]
    for kw in cases:
        _assert_same_answer(slow.get_history(**kw), fast.get_history(**kw))
    d1 = slow.get_history(5, field="close", security_list=["600000.SS"],
                          current_date="2022-06-15", is_dict=True)
    d2 = fast.get_history(5, field="close", security_list=["600000.SS"],
                          current_date="2022-06-15", is_dict=True)
    pd.testing.assert_frame_equal(d1["600000.SS"], d2["600000.SS"])


def _assert_same_answer(a, b):
    """Equal PTrade answers (a frame or a dict of frames), to the bit."""
    assert type(a) is type(b)
    if isinstance(a, dict):
        assert a.keys() == b.keys()
        for k in a:
            pd.testing.assert_frame_equal(a[k], b[k], check_exact=True)
    else:
        pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_point_cache_resampled_parity(warehouse):
    """Weekly, monthly, quarterly and yearly bars folded from the point
    cache's daily rows equal the Spark resample to the bit: get_price range
    and count mode, get_history with ``include`` both ways, fq None, pre
    and post, single- and multi-symbol shapes with ``n_bars``, an unknown
    symbol, a window before 000005.SZ lists, an empty range and a repeated
    symbol. Once warm, the same calls run with the Spark path severed."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    slow = PTradeDataAPI(warehouse)
    fast = PTradeDataAPI(warehouse, point_cache=True)
    multi = ["600000.SS", "000003.SZ", "000005.SZ"]
    price = [
        dict(security=multi, start_date="2022-03-09", end_date="2022-08-17",
             frequency="1w", fq="pre", fields=["close"]),
        dict(security="600000.SS", start_date="2022-01-01", end_date="2023-06-30",
             frequency="1M", fq="post"),
        dict(security=multi, start_date="2022-02-10", end_date="2023-11-20",
             frequency="1q", fields=["open", "high", "low", "n_bars"]),
        dict(security=multi, start_date="2022-05-05", end_date="2023-12-31",
             frequency="1y", fq="pre"),
        dict(security=multi, end_date="2023-03-15", count=5, frequency="1w",
             fields=["volume", "money", "n_bars"]),
        dict(security="000003.SZ", end_date="2023-02-01", count=3,
             frequency="1M", fq="pre"),
        dict(security=multi, end_date="2023-10-10", count=2, frequency="1q",
             fq="post", fields=["close", "n_bars"]),
        dict(security="600000.SS", end_date="2023-05-01", count=4,
             frequency="1y"),
        dict(security=["600000.SS", "NOPE.SZ"], start_date="2022-03-01",
             end_date="2022-04-30", frequency="1w", fields=["close"]),
        dict(security="NOPE.SZ", start_date="2022-03-01",
             end_date="2022-04-30", frequency="1M"),
        dict(security="000005.SZ", start_date="2022-01-01",
             end_date="2022-02-28", frequency="1w", fq="pre"),
        dict(security=multi, start_date="2022-06-18", end_date="2022-06-19",
             frequency="1w", fields=["close"]),
        dict(security=["600000.SS", "600000.SS"], start_date="2022-03-01",
             end_date="2022-05-31", frequency="1M", fields=["close"]),
    ]
    history = [
        dict(count=6, frequency="1w", field=["close", "n_bars"],
             security_list=multi, current_date="2022-11-16", fq="pre"),
        dict(count=6, frequency="1w", field=["close", "n_bars"],
             security_list=multi, current_date="2022-11-16", fq="pre",
             include=True),
        dict(count=3, frequency="1M", field="close",
             security_list="000005.SZ", current_date="2022-12-01",
             include=True, fq="post", fill="pre"),
        dict(count=2, frequency="1q", field=["open", "volume"],
             security_list=multi, current_date="2023-07-03", is_dict=True),
        dict(count=2, frequency="1y", field="money",
             security_list=multi, current_date="2023-01-03"),
    ]
    calls = [("get_price", kw) for kw in price] + [("get_history", kw) for kw in history]
    for name, kw in calls:
        _assert_same_answer(getattr(fast, name)(**kw), getattr(slow, name)(**kw))
    fast._bars = None  # any further Spark bar read raises TypeError
    for name, kw in calls:
        _assert_same_answer(getattr(fast, name)(**kw), getattr(slow, name)(**kw))


def _gappy_bars(spark, tmp_path):
    """A tmp warehouse over three weeks: 600009.SS with a null close on
    days 3-4, 600010.SS with a stored NaN close on day 5, 600011.SS with
    no gap. ``volume`` is a long column."""
    from simtradedata_spark.sources.tables import Warehouse

    base = _dt.date(2022, 3, 7)  # a Monday
    rows = []
    for sym, gap, bad in (("600009.SS", (3, 4), None), ("600010.SS", (5,), float("nan")),
                          ("600011.SS", (), None)):
        for i in range(19):
            px = bad if i in gap else 10.0 + i * 0.37
            rows.append((sym, base + _dt.timedelta(days=i), px, px, px, px,
                         100 + i, 1000.1 * (i + 1)))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("bars", spark.createDataFrame(
        rows,
        "symbol string, trade_date date, open double, high double,"
        " low double, close double, volume long, money double",
    ))
    return wh, base


def test_point_cache_nan_or_null_rows_go_to_spark(spark, tmp_path):
    """toPandas reads a null and a stored NaN both as NaN, and Spark treats
    them apart: the forward fill fills only the null, max/min/sum and the
    weekly open/close differ between the two. A point-cache read whose
    rows hold either must answer as the Spark path does; rows without one
    are served from the cache (long ``volume`` sums stay int64)."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    wh, base = _gappy_bars(spark, tmp_path)
    slow, fast = PTradeDataAPI(wh), PTradeDataAPI(wh, point_cache=True)
    end = str(base + _dt.timedelta(days=19))
    syms = ["600009.SS", "600010.SS", "600011.SS"]
    for sec in (syms, *syms):
        for call in (
            lambda api: api.get_history(19, "1d", ["close", "high"], sec,
                                        fill="pre", current_date=end),
            lambda api: api.get_history(3, "1w", ["close", "n_bars"], sec,
                                        fill="pre", current_date=end),
            lambda api: api.get_price(sec, str(base), end, frequency="1w"),
        ):
            _assert_same_answer(call(fast), call(slow))
    filled = fast.get_history(19, "1d", "close", "600009.SS", fill="pre",
                              current_date=end)
    assert filled["close"].notna().all()  # the Spark forward fill ran
    weekly = fast.get_price("600011.SS", str(base), end, frequency="1w")
    assert weekly["volume"].dtype == "int64" and len(weekly) == 3


def test_point_cache_get_ashares_parity(warehouse):
    """get_Ashares from the listing memo equals the Spark filter on every
    listing and delisting date, a day either side, and with no date;
    once filled, the memo answers without Spark. A date Spark would cast
    leniently (2022-3-1) still gets Spark's answer, and a malformed one
    raises on both clients."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    slow = PTradeDataAPI(warehouse)
    fast = PTradeDataAPI(warehouse, point_cache=True)
    meta = warehouse.read("stock_metadata").select(
        "listed_date", "de_listed_date").collect()
    edges = {d for r in meta for d in r if d is not None}
    dates = [None, *sorted({e + _dt.timedelta(days=k) for e in edges for k in (-1, 0, 1)})]
    assert len(dates) >= 7  # a shared listing day, the IPO and the delisting
    assert fast.get_Ashares("2022-3-1") == slow.get_Ashares("2022-3-1")
    for bad in ("2022-13-01", "not-a-date"):
        for api in (slow, fast):
            with pytest.raises(Exception):
                api.get_Ashares(bad)
    fast.get_Ashares()
    fast._table = None  # any further table read raises TypeError
    for d in dates:
        for arg in ((d,) if d is None else (d, d.isoformat(), d.strftime("%Y%m%d"))):
            assert fast.get_Ashares(arg) == slow.get_Ashares(arg), arg
    assert fast.get_Ashares("2022-01-04") != fast.get_Ashares("2023-12-29")


def test_point_cache_one_entry_per_unadjusted_fq(warehouse):
    """``fq='none'`` and ``fq=None`` read the same unadjusted history: the
    second call adds no point-cache entry and runs no Spark job."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.runner import _next_ids

    fast = PTradeDataAPI(warehouse, point_cache=True)
    a = fast.get_price("600000.SS", "2022-03-01", "2022-03-31", fq=None)
    keys = set(fast._point_rows)
    jobs0 = _next_ids(warehouse.spark)[0]
    b = fast.get_price("600000.SS", "2022-03-01", "2022-03-31", fq="none")
    assert _next_ids(warehouse.spark)[0] == jobs0
    assert set(fast._point_rows) == keys == {("bars", "600000.SS", None, None)}
    pd.testing.assert_frame_equal(a, b, check_exact=True)


# -- point cache: valuation and status ------------------------------------


def _plain_and_point(warehouse):
    from simtradedata_spark.api.ptrade import PTradeDataAPI

    return PTradeDataAPI(warehouse), PTradeDataAPI(warehouse, point_cache=True)


def test_point_cache_valuation_parity(warehouse):
    """get_fundamentals('valuation') from the point cache equals the Spark
    path in values, dtypes, index and row order: with and without
    ``date``, ``fields=None``, an unknown symbol, a date before a symbol's
    first row (000005.SZ lists a third into the range) and dates before
    and after the data."""
    slow, fast = _plain_and_point(warehouse)
    stocks = ["600000.SS", "NOPE.SZ", "000005.SZ", "000001.SZ", "600000.SS"]
    for kw in (
        dict(fields=["pe_ttm", "total_value"], date="2022-06-15"),
        dict(fields=None, date="2022-06-18"),  # a Saturday
        dict(fields=["pb"]),  # no date: the last row
        dict(fields=None, date="2021-12-31"),  # before every row
        dict(fields=["pe_ttm"], date="20300101"),  # after the data
        dict(fields=None, date=_dt.date(2023, 3, 1)),
    ):
        a = slow.get_fundamentals(stocks, "valuation", **kw)
        b = fast.get_fundamentals(stocks, "valuation", **kw)
        pd.testing.assert_frame_equal(a, b)
    # rows follow the requested stocks, duplicates dropped, on both paths
    for api in (slow, fast):
        got = api.get_fundamentals(stocks, "valuation", date="2022-06-15")
        assert list(got.index) == ["600000.SS", "000001.SZ"]
        got = api.get_fundamentals(stocks, "valuation", date="2023-06-15")
        assert list(got.index) == ["600000.SS", "000005.SZ", "000001.SZ"]


def test_point_cache_stock_status_parity(warehouse):
    """ST and HALT from the point cache equal the Spark path on a trading
    day, a non-trading day, out-of-range dates and without a date,
    including an unknown symbol, the ST symbol (600002.SS, ST from the
    range's midpoint) and the suspended one (000003.SZ, halted on trading
    days 100-109)."""
    slow, fast = _plain_and_point(warehouse)
    days = slow.get_trade_days()
    stocks = ["600002.SS", "000003.SZ", "600000.SS", "NOPE.SZ", "000005.SZ"]
    for qt in ("ST", "HALT"):
        for d in (days[105], days[-5], "2022-06-18", "2021-06-01", "2030-01-01", None):
            want = slow.get_stock_status(stocks, qt, d)
            got = fast.get_stock_status(stocks, qt, d)
            assert got == want, (qt, d)
            assert all(type(v) is bool for v in got.values())
    assert fast.get_stock_status(stocks, "HALT", days[105])["000003.SZ"] is True
    assert fast.get_stock_status(stocks, "ST", days[-5])["600002.SS"] is True
    assert fast.get_stock_status(stocks, "ST", days[5])["600002.SS"] is False


def test_point_cache_null_flag_and_nullable_int_column(spark, tmp_path):
    """toPandas turns a null tinyint flag into NaN, and a null anywhere in
    an int column's rows makes the column float64. The point cache holds a
    symbol's whole history, so it must still read a null flag as False
    (``bool(NaN)`` is True) and give each answer the dtype the Spark path
    gives that answer's own rows."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.sources.tables import Warehouse

    day = [_dt.date(2022, 3, 1) + _dt.timedelta(days=i) for i in range(4)]
    a, b = "600009.SS", "000010.SZ"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("stock_status", spark.createDataFrame(
        [(a, day[0], 1, 0), (a, day[1], None, None), (a, day[2], 0, 1),
         (b, day[0], 0, None), (b, day[1], 1, 1)],
        "symbol string, trade_date date, is_st tinyint, is_halt tinyint",
    ))
    wh.write("valuation", spark.createDataFrame(
        [(a, day[0], 10.0, None), (a, day[1], 11.0, 500), (a, day[2], None, 600),
         (b, day[0], 9.0, 700), (b, day[2], 8.0, 800)],
        "symbol string, trade_date date, pe_ttm double, total_shares long",
    ))
    slow, fast = PTradeDataAPI(wh), PTradeDataAPI(wh, point_cache=True)
    for d in (*day, None):
        for qt in ("ST", "HALT"):
            assert fast.get_stock_status([a, b], qt, d) == slow.get_stock_status([a, b], qt, d)
        for stocks in ([a, b], [a], [b]):
            pd.testing.assert_frame_equal(
                fast.get_fundamentals(stocks, "valuation", fields=None, date=d),
                slow.get_fundamentals(stocks, "valuation", fields=None, date=d),
            )
    assert fast.get_stock_status([a], "ST", day[1]) == {a: False}
    assert fast.get_stock_status([b], "HALT", day[0]) == {b: False}
    got = fast.get_fundamentals([a], "valuation", date=day[1])
    assert got["total_shares"].dtype == "int64"  # day 0's null does not leak
    got = fast.get_fundamentals([a, b], "valuation", date=day[0])
    assert got["total_shares"].dtype == "float64"  # this answer holds the null


def test_point_cache_tables_no_spark_after_warm(warehouse):
    """After one status and one valuation call, repeat calls on those
    symbols never touch Spark (proven by severing ``_table``); a new
    symbol, DELISTING and the other fundamentals tables still do."""
    slow, fast = _plain_and_point(warehouse)
    stocks = ["600000.SS", "000003.SZ"]
    fast.get_stock_status(stocks, "ST", "2022-06-15")
    fast.get_fundamentals(stocks, "valuation", date="2022-06-15")
    fast._table = None  # any further table read raises TypeError
    for d in ("2022-03-01", "2022-06-06", "2023-09-29", None):
        for qt in ("ST", "HALT"):
            assert fast.get_stock_status(stocks, qt, d) == slow.get_stock_status(stocks, qt, d)
        pd.testing.assert_frame_equal(
            fast.get_fundamentals(stocks[::-1], "valuation", fields=["pb"], date=d),
            slow.get_fundamentals(stocks[::-1], "valuation", fields=["pb"], date=d),
        )
    with pytest.raises(TypeError):
        fast.get_stock_status(["600002.SS"], "ST", "2022-06-15")
    with pytest.raises(TypeError):
        fast.get_stock_status(stocks, "DELISTING")
    with pytest.raises(TypeError):
        fast.get_fundamentals(stocks, "growth_ability", date="2022-06-15")
