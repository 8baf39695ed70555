"""Real-provider integration seam: a recorded BaoStock-shaped CSV fixture
(native column names, all-string values, '' = missing, as the real
``query_history_k_data_plus`` returns) flows through EVERY ingest stage —
``fetch_unified`` fan-out, the ``simtrade_provider`` DataSource with
pushdown, ``split_unified`` routing, a Warehouse write, and a PTrade
``get_price`` read — proving a non-synthetic provider slots in with zero
downstream changes (reference ``unified_fetcher.py:20-34`` field contract,
``baostock_fetcher.py:69-266`` rename/coerce behavior)."""

import datetime as dt
import os

import pandas as pd
import pytest

from simtradedata_spark.sources.adapters import (
    baostock_code_to_ptrade,
    make_baostock_csv_provider,
    ptrade_code_to_baostock,
)
from simtradedata_spark.sources.provider import fetch_unified

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "baostock_daily.csv")


def test_code_round_trip():
    assert baostock_code_to_ptrade("sh.600000") == "600000.SS"
    assert baostock_code_to_ptrade("sz.000001") == "000001.SZ"
    assert ptrade_code_to_baostock("600000.SS") == "sh.600000"
    assert ptrade_code_to_baostock("000001.SZ") == "sz.000001"


def test_fixture_through_fetch_unified(spark):
    symbols = spark.createDataFrame(
        [("600000.SS",), ("000001.SZ",), ("999999.SS",)], ["symbol"]
    )
    unified = fetch_unified(
        symbols,
        make_baostock_csv_provider(FIXTURE),
        "2023-01-03",
        "2023-01-09",
        fetch_partitions=2,
    )
    rows = {(r.symbol, str(r.trade_date)): r for r in unified.collect()}
    assert len(rows) == 10  # absent symbol contributes nothing, no error
    r = rows[("600000.SS", "2023-01-03")]
    assert r.close == 7.30 and r.money == 206834512.34 and r.trade_status == 1
    halt = rows[("000001.SZ", "2023-01-05")]
    # suspension row: empty strings coerced to NULL, status 0 (P3 coercion)
    assert halt.open is None and halt.trade_status == 0 and halt.volume == 0.0


def test_fixture_through_datasource_with_pushdown(spark):
    from simtradedata_spark.sources.pyds import ProviderDataSource

    try:
        spark.dataSource.register(ProviderDataSource)
    except Exception:
        pass  # already registered by another test
    df = (
        spark.read.format("simtrade_provider")
        .option("symbols", "600000.SS,000001.SZ")
        .option("start", "2023-01-03")
        .option("end", "2023-01-09")
        .option(
            "provider_factory",
            "simtradedata_spark.sources.adapters:make_baostock_csv_provider",
        )
        .option("provider_arg", FIXTURE)
        .load()
    )
    # date pushdown narrows the provider call, symbol pushdown prunes a
    # whole partition's fetches
    out = df.filter(
        (df.trade_date >= dt.date(2023, 1, 5)) & (df.symbol == "600000.SS")
    ).collect()
    assert sorted(str(r.trade_date) for r in out) == [
        "2023-01-05",
        "2023-01-06",
        "2023-01-09",
    ]
    assert {r.close for r in out} == {7.33, 7.37, 7.50}
    # one unified row schema: the DataSource and the mapInPandas fan-out
    # type the status flags alike
    symbols = spark.createDataFrame([("600000.SS",)], ["symbol"])
    fanned = fetch_unified(
        symbols, make_baostock_csv_provider(FIXTURE), "2023-01-03", "2023-01-09"
    )
    for col in ("is_st", "trade_status"):
        assert df.schema[col].dataType == fanned.schema[col].dataType, col


def test_fixture_to_warehouse_to_get_price(spark, tmp_path):
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.sources.splitter import split_unified
    from simtradedata_spark.sources.tables import Warehouse

    symbols = spark.createDataFrame([("600000.SS",), ("000001.SZ",)], ["symbol"])
    unified = fetch_unified(
        symbols, make_baostock_csv_provider(FIXTURE), "2023-01-03", "2023-01-09"
    )
    parts = split_unified(unified)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("bars", parts["market"])
    wh.write("valuation", parts["valuation"])
    wh.write("stock_status", parts["status"])

    api = PTradeDataAPI(wh)
    px = api.get_price(
        "600000.SS", start_date="2023-01-04", end_date="2023-01-06"
    )
    assert list(px["close"]) == [7.39, 7.33, 7.37]
    # valuation routed with provider→PTrade renames intact
    val = wh.read("valuation").filter("symbol = '000001.SZ'").toPandas()
    assert val["pe_ttm"].notna().sum() == 4  # suspension day is NULL


# ---------------------------------------------------------------------------
# Second provider dialect: mootdx (reference mootdx_fetcher.py:89-217 —
# numeric columns, 'vol' is the share volume and 'volume' a DIFFERENT
# field to drop, no symbol column, OHLCV only) + the unified_fetcher
# posture of BaoStock-primary / mootdx-fallback and the column-level
# valuation merge.
# ---------------------------------------------------------------------------

MOOTDX_FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "mootdx_daily.csv"
)


def test_mootdx_adapter_dialect(spark):
    from simtradedata_spark.sources.adapters import make_mootdx_csv_provider

    symbols = spark.createDataFrame([("600000.SS",)], ["symbol"])
    unified = fetch_unified(
        symbols, make_mootdx_csv_provider(MOOTDX_FIXTURE),
        "2023-01-03", "2023-01-09",
    )
    rows = {str(r.trade_date): r for r in unified.collect()}
    assert len(rows) == 5
    r = rows["2023-01-03"]
    # 'vol' (share volume) won, the misleading 'volume' column dropped
    assert r.volume == 28451200.0 and r.money == 206834512.34
    # OHLCV-only provider: valuation/status columns are typed nulls
    assert r.pe_ttm is None and r.is_st is None and r.trade_status is None


def test_fallback_provider_per_symbol(spark):
    """BaoStock-primary, mootdx-secondary: 000001.SZ exists in both (the
    primary wins, valuation present); a symbol the primary errors on is
    served by the secondary (OHLCV-only) instead of failing the batch."""
    from simtradedata_spark.sources.adapters import (
        make_baostock_csv_provider,
        make_fallback_provider,
        make_mootdx_csv_provider,
    )

    primary = make_baostock_csv_provider(FIXTURE)
    secondary = make_mootdx_csv_provider(MOOTDX_FIXTURE)
    both = make_fallback_provider(primary, secondary)

    symbols = spark.createDataFrame([("000001.SZ",), ("600000.SS",)], ["symbol"])
    unified = fetch_unified(symbols, both, "2023-01-03", "2023-01-04")
    rows = {(r.symbol, str(r.trade_date)): r for r in unified.collect()}
    # primary covers both symbols on these dates → valuation populated
    assert rows[("000001.SZ", "2023-01-03")].pe_ttm is not None

    def broken_for_600000(symbol, start, end):
        if symbol == "600000.SS":
            raise RuntimeError("provider outage")
        return primary(symbol, start, end)

    patched = make_fallback_provider(broken_for_600000, secondary)
    unified2 = fetch_unified(symbols, patched, "2023-01-03", "2023-01-04")
    rows2 = {(r.symbol, str(r.trade_date)): r for r in unified2.collect()}
    # 600000.SS fell through to mootdx: bars present, valuation null
    assert rows2[("600000.SS", "2023-01-03")].close == 7.30
    assert rows2[("600000.SS", "2023-01-03")].pe_ttm is None
    # 000001.SZ still came from the primary
    assert rows2[("000001.SZ", "2023-01-03")].pe_ttm is not None


def test_merge_unified_fills_valuation_from_secondary(spark):
    """Column-level provider merge: mootdx bars as primary + BaoStock as
    secondary → the valuation block fills in from BaoStock while the
    primary's OHLCV wins where both cover; days only one side has
    survive the full outer join."""
    from simtradedata_spark.sources.adapters import (
        make_baostock_csv_provider,
        make_mootdx_csv_provider,
    )
    from simtradedata_spark.sources.provider import merge_unified

    symbols = spark.createDataFrame([("000001.SZ",)], ["symbol"])
    md = fetch_unified(
        symbols, make_mootdx_csv_provider(MOOTDX_FIXTURE),
        "2023-01-03", "2023-01-09",
    )
    bs = fetch_unified(
        symbols, make_baostock_csv_provider(FIXTURE),
        "2023-01-03", "2023-01-09",
    )
    merged = merge_unified(md, bs)
    rows = {str(r.trade_date): r for r in merged.collect()}
    # mootdx skips 2023-01-05 (suspension day): BaoStock's row survives
    assert set(rows) == {
        "2023-01-03", "2023-01-04", "2023-01-05", "2023-01-06", "2023-01-09"
    }
    r = rows["2023-01-03"]
    assert r.volume == 98123400.0          # primary's OHLCV
    assert r.pe_ttm is not None            # secondary's valuation filled
    assert rows["2023-01-05"].trade_status == 0  # secondary-only day kept


# ---------------------------------------------------------------------------
# Provider edge cases the reference documents (r5 verdict item 8):
# index codes answer adjust-factor queries with an EMPTY frame
# (baostock_fetcher.py:96-104), suspension rows carry empty-string turn
# (BaoStock_API_Reference.md:330), and newest-first pagers overlap at chunk
# boundaries (mootdx_fetcher.py:137-163, dedup keep-first).
# ---------------------------------------------------------------------------

ADJ_FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "baostock_adjust.csv")


def test_adjust_provider_index_empty_and_densify(spark):
    """Adjust-factor events flow provider → fetch_unified → daily
    densification → adjust_bars: the stock's prices scale from its event
    date, the index (empty provider answer) passes through unadjusted."""
    from simtradedata_spark.operators.adjust import adjust_bars, densify_adjust_factors
    from simtradedata_spark.sources.adapters import (
        make_baostock_adjust_csv_provider,
        make_baostock_csv_provider,
    )
    from simtradedata_spark.sources.provider import ADJUST_EVENT_SCHEMA

    provider = make_baostock_adjust_csv_provider(ADJ_FIXTURE)
    # the RPC's documented index answer: an empty, correctly-typed frame
    assert provider("000300.SS", "2023-01-01", "2023-12-31").empty

    symbols = spark.createDataFrame([("600000.SS",), ("000300.SS",)], ["symbol"])
    events = fetch_unified(
        symbols, provider, "2023-01-01", "2023-12-31",
        schema=ADJUST_EVENT_SCHEMA,
    )
    assert events.count() == 1  # only the stock has an event row

    bars = fetch_unified(
        spark.createDataFrame([("600000.SS",)], ["symbol"]),
        make_baostock_csv_provider(FIXTURE), "2023-01-03", "2023-01-09",
    ).unionByName(
        # synthesize index bars on the same dates (the bar provider fixture
        # has no index; only (symbol, trade_date, close) matter here)
        spark.sql(
            "SELECT '000300.SS' AS symbol, d AS trade_date, "
            "CAST(NULL AS DOUBLE) open, CAST(NULL AS DOUBLE) high, "
            "CAST(NULL AS DOUBLE) low, 4000.0 close, 0.0 volume, "
            "0.0 money, CAST(NULL AS DOUBLE) pe_ttm, CAST(NULL AS DOUBLE) pb, "
            "CAST(NULL AS DOUBLE) ps_ttm, CAST(NULL AS DOUBLE) pcf, "
            "CAST(NULL AS DOUBLE) turnover_rate, CAST(NULL AS TINYINT) is_st, "
            "CAST(1 AS TINYINT) trade_status "
            "FROM (VALUES (DATE'2023-01-04'), (DATE'2023-01-06')) t(d)"
        )
    )
    daily = densify_adjust_factors(events, bars.select("symbol", "trade_date"))
    rows = {(r.symbol, str(r.trade_date)): r for r in daily.collect()}
    # before the 2023-01-05 event: back 1, fore 1/1.125; after: 1.125 / 1
    assert rows[("600000.SS", "2023-01-04")].back_adj == 1.0
    assert abs(rows[("600000.SS", "2023-01-04")].fore_adj - 0.888889) < 1e-6
    assert rows[("600000.SS", "2023-01-06")].back_adj == 1.125
    assert rows[("600000.SS", "2023-01-06")].fore_adj == 1.0
    # the index: all-1 factors on every sampled day
    assert rows[("000300.SS", "2023-01-04")].back_adj == 1.0
    assert rows[("000300.SS", "2023-01-04")].fore_adj == 1.0

    adj = adjust_bars(bars, daily, fq="post")
    arows = {(r.symbol, str(r.trade_date)): r for r in adj.collect()}
    assert arows[("600000.SS", "2023-01-04")].close == 7.39      # pre-event
    assert arows[("600000.SS", "2023-01-06")].close == 8.29125   # 7.37*1.125
    assert arows[("000300.SS", "2023-01-06")].close == 4000.0    # untouched


def test_densify_reproduces_generator_daily_table(spark, market):
    """THE densification invariant: sampling the generator's own EVENT rows
    back onto the trading-day spine reproduces its daily adjust_factor
    table (same cumprod identity, both directions)."""
    from pyspark.sql import functions as F

    from simtradedata_spark.operators.adjust import densify_adjust_factors

    daily = market.adjust_factor()
    events = daily.join(
        market.exrights().select(
            "symbol", F.col("ex_date").alias("trade_date")
        ),
        ["symbol", "trade_date"],
    )
    dens = densify_adjust_factors(
        events, daily.select("symbol", "trade_date")
    )
    joined = daily.alias("a").join(
        dens.alias("b"), ["symbol", "trade_date"]
    ).select(
        (F.abs(F.col("a.fore_adj") - F.col("b.fore_adj")) > 2e-6).alias("df"),
        (F.abs(F.col("a.back_adj") - F.col("b.back_adj")) > 2e-6).alias("db"),
    )
    assert joined.filter("df OR db").count() == 0
    assert dens.count() == daily.count()


def test_suspension_empty_turn_reaches_get_price(spark, tmp_path):
    """BaoStock's documented suspension-day shape (flat OHLC at preclose,
    volume 0, turn = '' — BaoStock_API_Reference.md:330): the empty turn
    coerces to NULL (typed, not 0) and survives warehouse → get_price."""
    from simtradedata_spark.api.ptrade import PTradeDataAPI
    from simtradedata_spark.sources.splitter import split_unified
    from simtradedata_spark.sources.tables import Warehouse

    symbols = spark.createDataFrame([("000001.SZ",)], ["symbol"])
    unified = fetch_unified(
        symbols, make_baostock_csv_provider(FIXTURE), "2023-01-03", "2023-01-09"
    )
    parts = split_unified(unified)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("bars", parts["market"])
    wh.write("valuation", parts["valuation"])

    api = PTradeDataAPI(wh)
    px = api.get_price(
        "000001.SZ", start_date="2023-01-04", end_date="2023-01-06",
        fields=["close", "volume"],
    )
    sus = px.iloc[1]  # 2023-01-05, the suspension day
    assert sus["volume"] == 0.0
    assert sus["close"] == 13.50          # flat at preclose
    # turn is routed to the valuation table: '' → typed NULL, never 0
    val = wh.read("valuation").filter("trade_date = DATE'2023-01-05'").toPandas()
    assert len(val) == 1 and pd.isna(val["turnover_rate"].iloc[0])
    traded = wh.read("valuation").filter("trade_date = DATE'2023-01-04'").toPandas()
    assert traded["turnover_rate"].iloc[0] == 0.5062


def test_paginated_overlap_keeps_newest_page_row(spark):
    """Newest-first pagers overlap at chunk boundaries when the provider's
    window slides mid-walk; duplicates drop keep-FIRST (the newer page's
    row wins), reproducing mootdx_fetcher.py:163."""
    import pandas as pd  # noqa: F811 (picklable page source below)

    from simtradedata_spark.sources.provider import paginated

    def fetch_page(symbol, offset, size):
        # page 0 (newest): 01-06..01-09; page 1 overlaps on 01-06 with a
        # DIFFERENT close (the stale row the dedup must discard)
        pages = [
            pd.DataFrame({
                "trade_date": ["2023-01-09", "2023-01-06"],
                "close": [7.50, 7.37],
            }),
            pd.DataFrame({
                "trade_date": ["2023-01-06", "2023-01-03"],
                "close": [9.99, 7.30],
            }),
        ]
        return pages[offset // size] if offset // size < len(pages) else None

    fetch = paginated(fetch_page, page_size=2)
    out = fetch("600000.SS", "2023-01-03", "2023-01-09")
    got = dict(zip(out["trade_date"], out["close"]))
    assert got == {"2023-01-09": 7.50, "2023-01-06": 7.37, "2023-01-03": 7.30}
