"""PTrade-compatible query API (SURVEY §2.12) served from the warehouse.

Reference: ``simtradedata/interfaces/ptrade_data_api.py`` (partly built on
deleted fetchers, SURVEY §0.1) + the full spec in
``docs/PTrade_API_mini_Reference.md``. Every method plans a Spark DataFrame
query over the tall tables and converts to pandas only at the client edge
(the W5 shape layer) — a backtest day is a partition-pruned slice, never a
network fetch (§3.2).

Return shapes (``PTrade_API_mini_Reference.md:1826-1875,2015-2073``):
  - single security → pandas DataFrame indexed by date, columns = fields;
  - multiple securities, one field → DataFrame date × symbol;
  - multiple × multiple → dict[field → date×symbol DataFrame] (Panel is dead
    in modern pandas; the spec's Panel axes are preserved as dict keys).
"""

from __future__ import annotations

import hashlib
from datetime import date as _date

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, ByteType, IntegerType, LongType, ShortType, StructType,
)
from pyspark.sql.window import Window

from simtradedata_spark.functions.lits import local_rows
from simtradedata_spark.operators.adjust import adjust_bars
from simtradedata_spark.operators.asof import asof_join
from simtradedata_spark.operators.indicators import compute_indicators
from simtradedata_spark.sources.tables import Warehouse

BAR_FIELDS = ["open", "high", "low", "close", "volume", "money"]

RESAMPLED_FIELDS = ["open", "high", "low", "close", "volume", "money", "n_bars"]

# get_price frequency → resample_ohlc freq (None = native daily bars);
# ("min", N) = N-minute intraday bars from the tick-derived minute store
# (spec :521-694 minute mode — the reference warns and falls back to daily,
# ptrade_data_api.py:58-61). "1m" (minute) and "1M" (month) are distinct
# spec spellings — the lookup is deliberately case-sensitive.
_FREQUENCIES = {
    "1d": None, "daily": None,
    "1w": "W", "weekly": "W",
    "1M": "M", "monthly": "M",
    "1q": "Q", "quarterly": "Q",
    "1y": "Y", "yearly": "Y",
    "1m": ("min", 1), "minute": ("min", 1),
    "5m": ("min", 5), "15m": ("min", 15),
    "30m": ("min", 30), "60m": ("min", 60), "120m": ("min", 120),
}

MINUTE_FIELDS = [
    "open", "high", "low", "close", "volume", "money", "vwap", "n_ticks",
]

VALUATION_FIELDS = [
    "pe_ttm", "pb", "ps_ttm", "pcf", "turnover_rate",
    "total_shares", "total_value", "float_value",
]

# get_fundamentals table → indicator-column group. The reference dispatches
# these table names to four (deleted) per-domain fetchers
# (``ptrade_data_api.py:484-590``); the grouping of the 23 canonical PTrade
# indicators (``data_converter.py:247-271``) follows the BaoStock per-domain
# query split (profit / growth / operation / balance,
# ``docs/reference/baostock_api/BaoStock_API_Reference.md``).
FUNDAMENTAL_TABLES = {
    "profit_ability": [
        "roe", "roe_ttm", "roa", "roa_ttm", "roa_ebit_ttm", "roic",
        "net_profit_ratio", "net_profit_ratio_ttm",
        "gross_income_ratio", "gross_income_ratio_ttm",
    ],
    "growth_ability": [
        "operating_revenue_grow_rate", "net_profit_grow_rate",
        "total_asset_grow_rate", "basic_eps_yoy", "np_parent_company_yoy",
    ],
    "operating_ability": [
        "accounts_receivables_turnover_rate", "inventory_turnover_rate",
        "total_asset_turnover_rate", "current_assets_turnover_rate",
    ],
    "debt_paying_ability": [
        "current_ratio", "quick_ratio", "debt_equity_ratio", "interest_cover",
    ],
    # The three statements + per-share table the spec declares
    # (:3274-3412) but the reference's impl never covered
    # (ptrade_data_api.py:425-598) — field specs in
    # sources/synthetic.py::STATEMENT_FIELDS. basic_eps appears in both
    # income_statement and eps, as in the upstream data model.
    "balance_statement": [
        "total_assets", "total_liability", "total_shareholder_equity",
        "fixed_assets", "cash_equivalents", "sold_buyback_secu_proceeds",
        "specific_account_payable",
    ],
    "income_statement": [
        "operating_revenue", "operating_cost", "operating_profit",
        "total_profit", "net_profit", "income_tax", "basic_eps",
    ],
    "cashflow_statement": [
        "net_operate_cash_flow", "net_invest_cash_flow",
        "net_finance_cash_flow", "cash_equivalent_increase",
        "end_period_cash_equivalent",
    ],
    "eps": [
        "basic_eps", "diluted_eps", "naps", "operating_revenue_per_share",
        "capital_reserve_per_share", "retained_earnings_per_share",
    ],
}


def _to_date_str(d) -> str:
    if isinstance(d, _date):
        return d.isoformat()
    s = str(d)
    if len(s) == 8 and s.isdigit():  # YYYYMMDD (C2)
        return f"{s[:4]}-{s[4:6]}-{s[6:]}"
    return s[:10]


def _as_list(x) -> list:
    """One code/field or an iterable of them, as a list."""
    return [x] if isinstance(x, str) else list(x)


def _bar_args(frequency, fields):
    """get_price/get_history argument check: the ``_FREQUENCIES`` value and
    the field list (default by frequency). Minute frequencies carry
    ``MINUTE_FIELDS``, resampled ones ``RESAMPLED_FIELDS``; daily bars
    allow any stored column."""
    freq = _FREQUENCIES.get(frequency, KeyError)
    if freq is KeyError:
        raise ValueError(
            f"frequency={frequency!r} not supported; one of {sorted(_FREQUENCIES)}"
        )
    resampled = isinstance(freq, str)
    fields = fields or (RESAMPLED_FIELDS if resampled else BAR_FIELDS)
    if freq is not None:
        bad = set(fields) - set(RESAMPLED_FIELDS if resampled else MINUTE_FIELDS)
        if bad:
            raise ValueError(f"fields {sorted(bad)} unavailable at {frequency}")
    return freq, fields


# toPandas's numpy type of each integral Spark type
_INT_DTYPES = {ByteType: "int8", ShortType: "int16", IntegerType: "int32", LongType: "int64"}


def _as_to_pandas(parts: list[pd.DataFrame], schema: StructType) -> pd.DataFrame:
    """Point-cache row slices joined into the frame ``toPandas`` returns
    for the same rows. A cache frame holds a symbol's whole history, pulled
    with other symbols, so a nullable integer or boolean column is float64
    or object there when any of those rows is null. toPandas decides on the
    answer's own rows (SPARK-21766): float64 or object only if one of them
    is null, else the column's numpy type (integers below 2**53 round-trip
    float64 exactly)."""
    pdf = pd.concat([p for p in parts if len(p)] or parts[:1], ignore_index=True)
    for f in schema.fields:
        t = bool if isinstance(f.dataType, BooleanType) else _INT_DTYPES.get(type(f.dataType))
        if t is not None and f.name in pdf.columns:
            col = pdf[f.name]
            if col.isna().any():
                t = object if t is bool else "float64"
            pdf[f.name] = col.astype(t)
    return pdf


def _iso_day(s: str) -> _date | None:
    """``s`` as a date when it is a plain ISO day (YYYY-MM-DD), else None."""
    try:
        day = _date.fromisoformat(s)
    except ValueError:
        return None
    return day if day.isoformat() == s else None


def _period_start(days: np.ndarray, freq: str) -> np.ndarray:
    """``resample_ohlc``'s bucket (``date_trunc``) of datetime64[D] days:
    the Monday, or the first day of the month, quarter or year."""
    if freq == "W":  # day 0, 1970-01-01, was a Thursday
        return days - (days.astype("int64") + 3) % 7
    if freq == "Y":
        return days.astype("datetime64[Y]").astype("datetime64[D]")
    month = days.astype("datetime64[M]")
    if freq == "Q":
        month = month - month.astype("int64") % 3
    return month.astype("datetime64[D]")


def _periods_back(d: pd.Series, hi: int, count: int, freq: str) -> int:
    """First row of the last ``count`` periods among the ascending date
    strings ``d[:hi]``: step back one period start at a time."""
    lo = hi
    for _ in range(max(count, 0)):
        if not lo:
            break
        first = _period_start(np.array([d.iat[lo - 1]], "datetime64[D]"), freq)[0]
        lo = int(d.searchsorted(str(first)))
    return lo


def _fold_periods(parts: list[pd.DataFrame], freq: str, schema: StructType) -> pd.DataFrame:
    """``resample_ohlc`` over point-cache daily slices (each one symbol's
    rows in date order, no NaN in ``BAR_FIELDS``), as ``toPandas`` returns
    it: ``trade_date`` is the period start (a ``datetime.date``), open the
    first row's and close the last row's, high the max, low the min,
    volume and money sums (long over an integral column), ``n_bars`` the
    row count.

    Spark's Sum adds a partition's rows left to right, and a ``bars``
    scan partition holds one ``trade_year`` in date order; so each sum
    here adds left to right (a row-wise cumsum, not pandas' compensated
    or numpy's pairwise sum). A period inside one year matches to the
    bit; one spanning a year boundary (a late-December week) is two
    partial sums added in Spark, so there parity holds up to that
    association."""
    pdf = pd.concat(parts, ignore_index=True)
    n = len(pdf)
    sym = pdf["symbol"].to_numpy()
    per = _period_start(pdf["__d"].to_numpy().astype("datetime64[D]"), freq)
    new = np.ones(n, bool)  # the row starts a (symbol, period) group
    new[1:] = (per[1:] != per[:-1]) | (sym[1:] != sym[:-1])
    ends = np.ones(n, bool)  # the row ends one
    ends[:-1] = new[1:]
    first, last = np.flatnonzero(new), np.flatnonzero(ends)
    g = np.cumsum(new) - 1
    pos = np.arange(n) - first[g]

    def total(col):
        integral = type(schema[col].dataType) in _INT_DTYPES
        m = np.zeros((len(first), int(pos.max(initial=0)) + 1), "int64" if integral else "float64")
        m[g, pos] = pdf[col].to_numpy(m.dtype)
        return m.cumsum(axis=1)[:, -1]

    return pd.DataFrame({
        "symbol": sym[first],
        "trade_date": per[first].astype(object),
        "open": pdf["open"].to_numpy()[first],
        "high": np.maximum.reduceat(pdf["high"].to_numpy(), first),
        "low": np.minimum.reduceat(pdf["low"].to_numpy(), first),
        "close": pdf["close"].to_numpy()[last],
        "volume": total("volume"),
        "money": total("money"),
        "n_bars": last - first + 1,
    })


def _minute_ts() -> Column:
    """bar timestamp = trade_date + bar_time (hhmm) as a real timestamp."""
    return F.to_timestamp(
        F.concat(
            F.date_format("trade_date", "yyyy-MM-dd"),
            F.lit(" "),
            F.lpad(F.col("bar_time").cast("string"), 4, "0"),
        ),
        "yyyy-MM-dd HHmm",
    )


class PTradeDataAPI:
    """Two client options, both for backtest loops; leave them off for
    one-shot analytical queries over cold data.

    ``cache_tables=True`` pins each table in executor memory on first use
    — the right posture for a loop issuing thousands of point queries over
    a working set that fits cluster memory (the reference v1.0's LRU query
    cache, done Spark-style). Partition pruning stops mattering because the
    scan is already in memory.

    ``point_cache=True`` keeps one client-side pandas cache of each
    symbol's whole history, keyed (kind, symbol, fq, minutes), and answers
    from it in pandas (~1-10 ms against a ~100-250 ms Spark job floor; the
    reference v1.0 is SQLite + LRU with 30 ms point lookups). A call pulls
    every symbol it finds missing in one Spark query per kind
    (``_point_frames``). It serves:

    - ``get_price`` / ``get_history`` at daily and minute frequencies for
      stored bar fields (``BAR_FIELDS`` daily, ``MINUTE_FIELDS`` minute),
      kind ``"bars"`` under that fq and width;
    - the resampled frequencies (``1w``/``1M``/``1q``/``1y``), folded in
      pandas from the cached daily rows;
    - daily ``fill='pre'`` when the rows it would fill hold no NaN;
    - ``get_fundamentals(table='valuation')``: the last row on or before
      ``date`` (the last row without one);
    - ``get_stock_status`` for ``'ST'`` and ``'HALT'``: the row on exactly
      ``query_date``, a missing row or null flag meaning False (the last
      row without a date);
    - ``get_Ashares``, from one memo of the listing dates.

    Answers equal the Spark path's in values, dtypes and index. Minute
    ``fill='pre'`` (it needs the session grid), other daily bar columns,
    ``'DELISTING'``, the other fundamentals tables, and any bar read whose
    rows hold a NaN (pandas cannot tell a stored NaN from a null, which
    Spark treats apart) stay on Spark. The point cache and the listing
    memo are a snapshot taken at first use: after a rebuild of the
    warehouse, build a new client, as with ``cache_tables``. Per-symbol
    history is a few thousand daily (a few 10k minute) rows; the 100 TB
    answer remains the vectorized batch path."""

    def __init__(
        self,
        warehouse: Warehouse,
        cache_tables: bool = False,
        point_cache: bool = False,
    ):
        self.wh = warehouse
        self.spark = warehouse.spark
        self._cache_tables = cache_tables
        self._cached: dict[str, DataFrame] = {}
        self._trade_days: list[str] | None = None
        self._point_cache = point_cache
        self._listings: list | None = None  # see get_Ashares
        # (kind, symbol, fq, minutes) → (rows, schema); see _point_frames
        self._point_rows: dict[
            tuple[str, str, str | None, int | None], tuple[pd.DataFrame, StructType]
        ] = {}

    def _table(self, name: str) -> DataFrame:
        if not self._cache_tables:
            return self.wh.read(name)
        if name not in self._cached:
            from simtradedata_spark.functions.caching import protect_new, snapshot

            df = self.wh.read(name)
            before = snapshot(self.spark)
            df = df.persist()
            df.count()  # materialize so the pinned blocks can be protected
            protect_new(self.spark, before)
            self._cached[name] = df
        return self._cached[name]

    def _table_range(self, name: str, start=None, end=None) -> DataFrame:
        """read_range when cold (partition pruning), in-memory filter when
        cached (pruning is irrelevant once the table is pinned)."""
        if not self._cache_tables:
            return self.wh.read_range(name, start, end)
        df = self._table(name)
        if start:
            df = df.filter(F.col("trade_date") >= start)
        if end:
            df = df.filter(F.col("trade_date") <= end)
        return df

    # -- calendar ----------------------------------------------------------

    def get_trade_days(self, start_date=None, end_date=None) -> list[str]:
        """F1: trading days in range (``ptrade_data_api.py:274-305``)."""
        cal = self._table("trade_calendar").filter("is_trading_day")
        if start_date:
            cal = cal.filter(F.col("calendar_date") >= _to_date_str(start_date))
        if end_date:
            cal = cal.filter(F.col("calendar_date") <= _to_date_str(end_date))
        rows = cal.select("calendar_date").orderBy("calendar_date").collect()
        return [r[0].isoformat() for r in rows]

    def get_all_trades_days(self) -> list[str]:
        return self.get_trade_days()

    def get_trading_day(self, day: int = 0, date=None) -> _date:
        """Spec ``:1438-1483``: the trading day ``day`` trading days after
        (positive) / before (negative) the current date; ``day=0`` on a
        non-trading date returns the PREVIOUS trading day. ``date`` stands
        in for context.blotter.current_dt (research mode: today). The trade
        calendar is a bounded dimension — collected once per API instance."""
        import bisect

        days = self._trading_days_cached()
        anchor = _to_date_str(date) if date else days[-1]
        # index of the last trading day <= anchor (the day=0 answer)
        i = bisect.bisect_right(days, anchor) - 1
        if i < 0:
            raise ValueError(f"no trading day on or before {anchor}")
        j = i + day
        if not 0 <= j < len(days):
            raise ValueError(
                f"offset {day} from {anchor} leaves the known calendar"
            )
        return _date.fromisoformat(days[j])

    def _trading_days_cached(self) -> list[str]:
        if self._trade_days is None:
            self._trade_days = self.get_trade_days()
        return self._trade_days

    # -- bars --------------------------------------------------------------

    def _bars(self, securities: list[str], fq=None, start=None, end=None) -> DataFrame:
        """Daily bars, read from the one stored ``bars`` table and adjusted
        per ``fq`` on read, so a rebuilt ``bars``/``adjust_factor`` is what
        every call sees. start/end (inclusive date strings) flow into
        read_range so the trade_year partition predicates prune directories
        at the scan."""
        bars = self._table_range("bars", start, end).filter(
            F.col("symbol").isin(securities)
        )
        return self._adjust(bars, fq)

    def _adjust(self, bars: DataFrame, fq) -> DataFrame:
        """``bars`` under ``fq``: unadjusted None (``_bar_rows`` reads
        ``'none'`` as None) leaves them as stored without reading
        ``adjust_factor``; every other value goes to ``adjust_bars``, which
        applies ``'pre'``/``'post'`` and raises ValueError for anything
        else."""
        if fq is None:
            return bars
        return adjust_bars(bars, self._table("adjust_factor"), fq)

    def _minute_bars(
        self, securities, fq, start, end, minutes: int
    ) -> DataFrame:
        """N-minute intraday bars, read from the one stored 1-minute rollup
        ``minute_bars`` (both writers, ``build_warehouse`` and
        ``ingest-ticks``, keep it in step with ``ticks``); coarser widths
        fold from it via rebucket_minute_bars, never re-reading ticks.
        ``fq`` applies the SAME per-day A·x factors as daily bars (OHLC
        scaled, volume divided); ``money`` is actual turnover and ``vwap``
        the raw traded price — neither is restated under adjustment."""
        from simtradedata_spark.operators.resample import rebucket_minute_bars

        mb = self._table_range("minute_bars", start, end)
        if minutes > 1:
            mb = rebucket_minute_bars(mb, minutes)
        return self._adjust(mb.filter(F.col("symbol").isin(securities)), fq)

    def _densify_minute(self, mb, securities, minutes: int):
        """Full (symbol x trading-day x session-bucket) grid over the data's
        date span, left-joined with the real bars; gaps carry the previous
        close. All three grid dimensions are bounded (client edge)."""
        from simtradedata_spark.operators.resample import _session_minute_to_hhmm

        b = mb.agg(
            F.min("trade_date").alias("lo"), F.max("trade_date").alias("hi")
        ).first()
        if b["lo"] is None:
            return mb
        cal = (
            self._table("trade_calendar")
            .filter("is_trading_day")
            .select(F.col("calendar_date").alias("trade_date"))
            .filter(
                (F.col("trade_date") >= b["lo"]) & (F.col("trade_date") <= b["hi"])
            )
        )
        syms = local_rows(self.spark, [(s,) for s in securities], "symbol string")
        mins = self.spark.range(0, 240, minutes).select(
            _session_minute_to_hhmm(F.col("id")).cast("int").alias("bar_time")
        )
        grid = syms.crossJoin(cal).crossJoin(mins)
        mb = grid.join(mb, ["symbol", "trade_date", "bar_time"], "left")
        w = (
            Window.partitionBy("symbol")
            .orderBy("trade_date", "bar_time")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cf = F.last("close", ignorenulls=True).over(w)
        mb = mb.withColumn("__cf", cf)
        for c in ("open", "high", "low", "close"):
            mb = mb.withColumn(c, F.coalesce(c, "__cf"))
        mb = (
            mb.withColumn(
                "volume",
                F.coalesce("volume", F.when(F.col("__cf").isNotNull(), F.lit(0).cast("long"))),
            )
            .withColumn(
                "money",
                F.coalesce("money", F.when(F.col("__cf").isNotNull(), F.lit(0.0))),
            )
            .withColumn(
                "n_ticks",
                F.coalesce("n_ticks", F.when(F.col("__cf").isNotNull(), F.lit(0).cast("long"))),
            )
            .drop("__cf")
        )
        return mb

    def _point_frames(self, kind, securities, fq=None, minutes=None) -> list:
        """The point cache's (rows, schema) of each security, keyed (kind,
        symbol, fq, minutes). Kind ``"bars"`` holds the stored bar fields
        at daily (``minutes`` None) or N-minute width under ``fq``; any
        other kind is that daily table's whole rows. Every security the
        cache lacks is pulled in one Spark query and split by symbol. Rows
        are in time order with the date string in ``__d``; an unknown
        symbol holds none."""
        keys = [(kind, s, fq, minutes) for s in securities]
        missing = [k for k in dict.fromkeys(keys) if k not in self._point_rows]
        if missing:
            syms = [k[1] for k in missing]
            if kind == "bars":
                df = self._bar_query(
                    syms, MINUTE_FIELDS if minutes else BAR_FIELDS, fq,
                    ("min", minutes) if minutes else None,
                )
            else:
                df = self._table(kind).filter(F.col("symbol").isin(syms))
            schema = df.schema
            pdf = df.toPandas().sort_values("trade_date", kind="mergesort")
            pdf["__d"] = pdf["trade_date"].astype(str).str[:10]
            groups = dict(list(pdf.groupby("symbol", sort=False)))
            for k in missing:
                rows = groups.get(k[1], pdf.iloc[:0]).reset_index(drop=True)
                self._point_rows[k] = (rows, schema)
        return [self._point_rows[k] for k in keys]

    def _bar_rows(
        self, securities, fields, fq, freq, start=None, end=None, count=None,
        end_inclusive=False, fill="nan",
    ) -> pd.DataFrame:
        """The one bar path behind get_price and get_history: rows
        (symbol, trade_date, *fields) ordered by (trade_date, symbol).
        ``freq`` is a ``_FREQUENCIES`` value; minute rows carry the full
        bar timestamp in ``trade_date``. Range mode (``count`` None) keeps
        start <= day <= end. Count mode keeps each symbol's last ``count``
        bars (periods, when resampled) on or before ``end`` when
        ``end_inclusive``, strictly before it otherwise. ``fill='pre'``
        forward-fills daily bars (W2) and densifies minute bars to the
        session grid. ``fq`` ``'none'`` is read as None.

        With ``point_cache`` on, the answer comes from ``_cached_bar_rows``
        for stored bar fields at daily and minute width and for every
        resampled frequency (folded from the cached daily rows), except
        minute ``fill='pre'``, which needs the Spark session grid."""
        fq = None if fq == "none" else fq  # one cache entry per unadjusted history
        minutes = freq[1] if isinstance(freq, tuple) else None
        stored = MINUTE_FIELDS if minutes else BAR_FIELDS
        if (
            self._point_cache and securities and not (minutes and fill == "pre")
            and (isinstance(freq, str) or set(fields) <= set(stored))
        ):
            pdf = self._cached_bar_rows(
                securities, fields, fq, freq, start, end, count, end_inclusive, fill
            )
            if pdf is not None:
                return pdf
        return self._bar_query(
            securities, fields, fq, freq, start, end, count, end_inclusive, fill
        ).orderBy("trade_date", "symbol").toPandas()

    def _cached_bar_rows(
        self, securities, fields, fq, freq, start, end, count, end_inclusive, fill,
    ) -> pd.DataFrame | None:
        """``_bar_rows`` from the per-symbol histories ``_point_frames``
        pulls through ``_bar_query``: each symbol's rows are sliced by
        binary search on the date, and resampled reads fold the daily
        slice with ``_fold_periods``. Daily ``fill='pre'`` answers with the
        unfilled slice: Spark's forward fill replaces only nulls, so it is
        the identity over rows that hold none.

        toPandas maps null and NaN alike to NaN, while Spark tells them
        apart (the forward fill fills null only; max/min order NaN above
        every value; sum skips null but propagates NaN; min_by can return
        a null open). So when a row the answer reads holds a NaN (the
        resample's ``BAR_FIELDS`` over the slice, or ``fill='pre'``'s
        fields over the rows up to the end bound) this returns None and
        the whole call goes to Spark."""
        minutes = freq[1] if isinstance(freq, tuple) else None
        resampled = isinstance(freq, str)
        parts = []
        for rows, schema in self._point_frames(
            "bars", list(dict.fromkeys(securities)), fq, minutes
        ):
            d = rows["__d"]  # in date order: bound by binary search
            if count is None:
                lo = d.searchsorted(start) if start else 0
                hi = d.searchsorted(end, "right") if end else len(rows)
            else:
                hi = d.searchsorted(end, "right" if end_inclusive else "left") if end else len(rows)
                lo = _periods_back(d, hi, count, freq) if resampled else max(hi - count, 0)
            parts.append(rows.iloc[lo:hi])
            if resampled:
                read = parts[-1][BAR_FIELDS]
            elif fill == "pre":
                read = rows.iloc[:hi][fields]
            else:
                continue
            if read.isna().to_numpy().any():
                return None
        pdf = _fold_periods(parts, freq, schema) if resampled else _as_to_pandas(parts, schema)
        return (
            pdf.sort_values(["trade_date", "symbol"], kind="mergesort")
            .reset_index(drop=True)[["symbol", "trade_date", *fields]]
        )

    def _bar_query(
        self, securities, fields, fq, freq, start=None, end=None, count=None,
        end_inclusive=False, fill="nan",
    ) -> DataFrame:
        """``_bar_rows``'s Spark query, unordered."""
        minutes = freq[1] if isinstance(freq, tuple) else None
        if minutes:
            bars = self._minute_bars(securities, fq, start, end, minutes)
            if fill == "pre":
                bars = self._densify_minute(bars, securities, minutes)
        else:
            bars = self._bars(securities, fq, start, end)
        if count is not None and end and not end_inclusive:
            # the read is bounded <= end; the exclusive rule needs the
            # strict inequality
            bars = bars.filter(F.col("trade_date") < end)
        if isinstance(freq, str):
            from simtradedata_spark.operators.resample import resample_ohlc

            bars = resample_ohlc(bars, freq).withColumnRenamed(
                "period_start", "trade_date"
            )
        if fill == "pre" and not minutes:
            from simtradedata_spark.operators.align import forward_fill

            bars = forward_fill(bars, list(fields), ["symbol"], ["trade_date"])
        if count is not None:
            order = [F.col("trade_date").desc()]
            if minutes:
                order.append(F.col("bar_time").desc())
            w = Window.partitionBy("symbol").orderBy(*order)
            bars = (
                bars.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= count)
                .drop("__rn")
            )
        ts = _minute_ts().alias("trade_date") if minutes else F.col("trade_date")
        return bars.select("symbol", ts, *fields)

    def get_price(
        self,
        security,
        start_date=None,
        end_date=None,
        frequency="1d",
        fields=None,
        fq=None,
        count=None,
    ):
        """``ptrade_data_api.py:33-106`` / spec ``:1957-2108``.

        Range mode is date-inclusive. Daily count mode returns the
        ``count`` bars strictly BEFORE ``end_date`` (exclusive-of-today
        rule, spec ``:1977``).

        Minute frequencies (spec ``:521-694`` minute mode; the reference
        warns and falls back to daily, ``ptrade_data_api.py:58-61``) index
        by full timestamp (trade_date + bar start time). Their count mode
        returns the last ``count`` bars ON OR BEFORE ``end_date`` — the end
        date's own session is included (minute queries exist to read the
        current day; completed minutes are final, so there is no
        exclusive-of-today lookahead hazard).

        Beyond the reference: weekly/monthly/quarterly/yearly bars are
        synthesized from adjusted daily bars via ``resample_ohlc`` (W4),
        after the range filter so partially-covered edge periods aggregate
        exactly the requested days. ``count`` then counts periods.
        """
        freq, fields = _bar_args(frequency, fields)
        securities = _as_list(security)
        pdf = self._bar_rows(
            securities, fields, fq, freq,
            _to_date_str(start_date) if (start_date and count is None) else None,
            _to_date_str(end_date) if end_date else None,
            count, end_inclusive=isinstance(freq, tuple),
        )
        return self._shape(pdf, securities, fields)

    def get_history(
        self,
        count,
        frequency="1d",
        field="close",
        security_list=None,
        fq=None,
        include=False,
        fill="nan",
        is_dict=False,
        current_date=None,
    ):
        """Spec ``:1774-1955``: last ``count`` bars before ``current_date``
        (inclusive when ``include``), per symbol. ``fill='pre'`` forward-fills
        suspension gaps (W2). Minute frequencies use get_price minute mode's
        timestamp index; there ``fill='pre'`` densifies to the full session
        grid over trading days and carries the previous close through
        suspension gaps (OHLC = carried close, volume/money/n_ticks = 0,
        vwap null — the daily generator's suspended-bar convention); bars
        before a symbol's first trade stay null, mirroring the daily
        forward_fill contract."""
        freq, fields = _bar_args(frequency, _as_list(field))
        securities = _as_list(security_list)
        pdf = self._bar_rows(
            securities, fields, fq, freq, None,
            _to_date_str(current_date) if current_date else None,
            count, include, fill,
        )
        return self._shape(pdf, securities, fields, is_dict)

    @staticmethod
    def _shape(
        pdf: pd.DataFrame, securities: list[str], fields: list[str], is_dict=False
    ):
        """W5 pivots: the three PTrade return shapes, or get_history's
        ``is_dict`` form {symbol: date × field frame}."""
        if is_dict:
            return {
                s: pdf[pdf.symbol == s].set_index("trade_date")[fields]
                for s in securities
            }
        if len(securities) == 1:
            return pdf.set_index("trade_date")[fields]
        if len(fields) == 1:
            return pdf.pivot(index="trade_date", columns="symbol", values=fields[0])
        return {
            f: pdf.pivot(index="trade_date", columns="symbol", values=f)
            for f in fields
        }

    # -- universe / metadata ----------------------------------------------

    def get_Ashares(self, date=None) -> list[str]:
        """Point-in-time universe (``ptrade_data_api.py:109-141``): listed on
        or before ``date``, not yet delisted, excluding the benchmark index.
        A null ``listed_date`` selects nothing.

        With ``point_cache`` on, the same rule filters one memo of
        stock_metadata's (symbol, listed_date, de_listed_date) rows, pulled
        on first use. A ``date`` that is not a plain ISO day goes to Spark,
        which casts it to a date as the column comparison does and raises
        on a malformed one."""
        d = _to_date_str(date) if date else None
        day = _iso_day(d) if d else None
        if self._point_cache and (d is None or day):
            if self._listings is None:
                self._listings = (
                    self._table("stock_metadata")
                    .select("symbol", "listed_date", "de_listed_date")
                    .collect()
                )
            return sorted(
                sym for sym, listed, delisted in self._listings
                if d is None or (
                    listed is not None and listed <= day
                    and (delisted is None or delisted > day)
                )
            )
        meta = self._table("stock_metadata")
        if d:
            meta = meta.filter(
                (F.col("listed_date") <= d)
                & (
                    F.col("de_listed_date").isNull()
                    | (F.col("de_listed_date") > d)
                )
            )
        return sorted(r[0] for r in meta.select("symbol").collect())

    def get_Indeces(self, date=None) -> list[str]:
        """Index codes known to the warehouse (``ptrade_data_api.py:154-156``
        — the F3 split complement of ``get_Ashares``): distinct
        ``index_constituents`` indices plus the benchmark."""
        from simtradedata_spark.sources.synthetic import BENCHMARK

        idx = self._table("index_constituents").select("index_code").distinct()
        codes = {r[0] for r in idx.collect()}
        codes.add(BENCHMARK)
        return sorted(codes)

    def get_stock_info(self, security, field=None) -> pd.DataFrame:
        """``ptrade_data_api.py:158-209``."""
        securities = _as_list(security)
        fields = _as_list(field or ["stock_name", "listed_date", "de_listed_date"])
        meta = self._table("stock_metadata").filter(F.col("symbol").isin(securities))
        return meta.select("symbol", *fields).toPandas().set_index("symbol")

    def get_stock_blocks(self, security) -> dict:
        """``ptrade_data_api.py:212-243``: blocks map for one stock."""
        row = (
            self._table("stock_metadata")
            .filter(F.col("symbol") == security)
            .select("blocks")
            .first()
        )
        return dict(row[0]) if row else {}

    def get_industry_stocks(self, industry: str) -> list[str]:
        """Implemented (stub in the reference — ``ptrade_data_api.py:648-657``):
        symbols whose blocks.industry matches."""
        meta = self._table("stock_metadata")
        return sorted(
            r[0]
            for r in meta.filter(
                F.col("blocks")["industry"] == industry
            ).select("symbol").collect()
        )

    def get_stock_name(self, stocks) -> dict:
        """Spec ``:2775-2820``: {code: name}, None for unknown codes."""
        stocks = _as_list(stocks)
        rows = (
            self._table("stock_metadata")
            .filter(F.col("symbol").isin(stocks))
            .select("symbol", "stock_name")
            .collect()
        )
        found = {r["symbol"]: r["stock_name"] for r in rows}
        return {s: found.get(s) for s in stocks}

    # Markets this warehouse models (spec ``:1607-1661`` lists the venue
    # catalog of a full terminal; the data layer carries the two A-share
    # exchanges plus the index/fund pseudo-markets its tables reference).
    _MARKETS = [
        ("XSHG", "上海证券交易所"),
        ("XSHE", "深圳证券交易所"),
        ("MRI", "指数"),
        ("XFUND", "基金"),
    ]

    def get_market_list(self) -> pd.DataFrame:
        """Spec ``:1607-1661``: (finance_mic, finance_name) catalog."""
        return pd.DataFrame(self._MARKETS, columns=["finance_mic", "finance_name"])

    def get_market_detail(self, finance_mic: str) -> pd.DataFrame:
        """Spec ``:1662-1716``: products of one market —
        (hq_type_code, prod_code, prod_name, trade_time_rule). Equities come
        from stock_metadata split by code suffix (F3); 'MRI' returns the
        index codes the warehouse knows."""
        from simtradedata_spark.sources.synthetic import BENCHMARK

        mic = {"SS": "XSHG", "SZ": "XSHE", "XSHG": "XSHG", "XSHE": "XSHE"}.get(
            finance_mic, finance_mic
        )
        if mic == "MRI":
            codes = self.get_Indeces()
            pdf = pd.DataFrame(
                {
                    "hq_type_code": "MRI",
                    "prod_code": [c.split(".")[0] for c in codes],
                    "prod_name": codes,
                    "trade_time_rule": 0,
                }
            )
            return pdf
        suffix = {"XSHG": ".SS", "XSHE": ".SZ"}.get(mic)
        if suffix is None:
            return pd.DataFrame(
                columns=["hq_type_code", "prod_code", "prod_name", "trade_time_rule"]
            )
        meta = (
            self._table("stock_metadata")
            .filter(F.col("symbol").endswith(suffix))
            .filter(F.col("symbol") != BENCHMARK)
            .select(
                F.lit("ESA").alias("hq_type_code"),
                F.split(F.col("symbol"), r"\.").getItem(0).alias("prod_code"),
                F.col("stock_name").alias("prod_name"),
                F.lit(0).alias("trade_time_rule"),
            )
            .orderBy("prod_code")
        )
        return meta.toPandas()

    def get_ipo_stocks(self, date=None) -> dict:
        """Spec ``:3505-3551``: the day's IPO subscription lists, keyed by
        market class. Served point-in-time from stock_metadata.listed_date
        (the data layer has no subscription-code feed, so codes are the
        listing codes; the 可转债 class is empty until a CB dimension
        exists)."""
        d = self.get_trading_day(0, date).isoformat()
        meta = (
            self._table("stock_metadata")
            .filter(F.col("listed_date") == d)
            .select("symbol")
            .collect()
        )
        out = {
            "上证普通代码": [],
            "上证科创板代码": [],
            "深证普通代码": [],
            "深证创业板代码": [],
            "可转债代码": [],
        }
        for r in meta:
            sym = r["symbol"]
            code = sym.split(".")[0]
            if sym.endswith(".SS"):
                key = "上证科创板代码" if code.startswith("688") else "上证普通代码"
            else:
                key = "深证创业板代码" if code.startswith("300") else "深证普通代码"
            out[key].append(sym)
        return {k: sorted(v) for k, v in out.items()}

    # -- ETF / convertible bonds -------------------------------------------

    def get_etf_list(self) -> list[str]:
        """Spec ``:3464-3504``: all ETF codes."""
        return sorted(
            r[0] for r in self._table("etf_metadata").select("etf_code").collect()
        )

    _ETF_INFO_FIELDS = (
        "etf_redemption_code", "publish", "report_unit", "cash_balance",
        "max_cash_ratio", "pre_cash_component", "nav_percu", "nav_pre",
        "allot_max", "redeem_max",
    )

    def get_etf_info(self, etf_code) -> dict:
        """Spec ``:2424-2488``: {etf_code: info dict}; unknown codes omitted
        (异常返回空dict semantics)."""
        codes = _as_list(etf_code)
        rows = (
            self._table("etf_metadata")
            .filter(F.col("etf_code").isin(codes))
            .collect()
        )
        return {
            r["etf_code"]: {f: r[f] for f in self._ETF_INFO_FIELDS} for r in rows
        }

    def _etf_index(self, etf_code: str) -> str | None:
        row = (
            self._table("etf_metadata")
            .filter(F.col("etf_code") == etf_code)
            .select("index_code")
            .first()
        )
        return row[0] if row else None

    def get_etf_stock_list(self, etf_code: str, date=None) -> list[str]:
        """Spec ``:3180-3225``: constituents of the ETF's tracked index
        (point-in-time via get_index_stocks)."""
        idx = self._etf_index(etf_code)
        return self.get_index_stocks(idx, date) if idx else []

    def get_etf_stock_info(self, etf_code: str, security, date=None) -> dict:
        """Spec ``:2489-2552``: per-constituent creation-basket terms. The
        basket size (code_num) is a deterministic function of (etf, stock) —
        no basket feed exists; is_open is the real halt status (F6)."""
        securities = _as_list(security)
        members = set(self.get_etf_stock_list(etf_code, date))
        halts = self.get_stock_status(securities, "HALT", date)
        out = {}
        for s in securities:
            if s not in members:
                continue
            h = int.from_bytes(
                hashlib.md5(f"{etf_code}|{s}".encode()).digest()[:4], "big"
            )
            out[s] = {
                "code_num": float((h % 95 + 5) * 100),
                "cash_replace_flag": "1",
                "replace_ratio": 0.1,
                "replace_balance": 0.0,
                "is_open": 0 if halts.get(s) else 1,
            }
        return out

    def get_cb_list(self) -> list[str]:
        """Spec ``:1717-1776``: all convertible-bond codes."""
        return sorted(
            r[0] for r in self._table("cb_metadata").select("bond_code").collect()
        )

    def get_cb_info(self, date=None) -> pd.DataFrame:
        """Spec ``:2721-2774``: CB基础信息 DataFrame. convert_value =
        convert_rate × the underlying's latest close ≤ date (one broadcast
        join against the pruned bar slice)."""
        cb = self._table("cb_metadata")
        d = self.get_trading_day(0, date).isoformat()
        bars = (
            self._table_range("bars", d, d)
            .select(F.col("symbol").alias("stock_code"), "close")
        )
        out = (
            cb.join(F.broadcast(bars), "stock_code", "left")
            .select(
                "bond_code", "bond_name", "stock_code", "stock_name",
                "list_date", "premium_rate", "convert_date", "maturity_date",
                "convert_rate", "convert_price",
                F.round(F.col("convert_rate") * F.col("close"), 2).alias(
                    "convert_value"
                ),
            )
            .orderBy("bond_code")
        )
        return out.toPandas()

    # -- tick-level surface (L2) -------------------------------------------

    def _tick_slice(
        self, stocks, date, data_count, start_pos, search_direction
    ) -> pd.DataFrame:
        """Shared pager for the three tick APIs: per-symbol window of
        ``data_count`` ticks from ``start_pos``, direction 1 = forward from
        the start, 2 = backward from the end; partition-pruned single-day
        scan."""
        stocks = _as_list(stocks)
        d = self.get_trading_day(0, date).isoformat()
        data_count = min(int(data_count), 200)
        t = (
            self._table_range("ticks", d, d)
            .filter(F.col("symbol").isin(stocks))
        )
        if search_direction == 2:
            w = Window.partitionBy("symbol").orderBy(F.col("seq").desc())
        else:
            w = Window.partitionBy("symbol").orderBy("seq")
        t = (
            t.withColumn("__rn", F.row_number().over(w))
            .filter(
                (F.col("__rn") > start_pos)
                & (F.col("__rn") <= start_pos + data_count)
            )
            .drop("__rn")
        )
        return t.orderBy("symbol", "seq").toPandas()

    def get_individual_transaction(
        self, stocks, data_count=50, start_pos=0, search_direction=1, date=None
    ) -> dict | None:
        """Spec ``:2179-2251``: 逐笔成交 per code. Panel is dead — returns
        dict[code → DataFrame] with the spec's minor-axis fields (W5
        convention)."""
        pdf = self._tick_slice(stocks, date, data_count, start_pos, search_direction)
        if pdf.empty:
            return None
        cols = {
            "business_time": pdf.ts_ms,
            "hq_px": pdf.price,
            "business_amount": pdf.qty,
            "trade_index": pdf.seq,
            "business_direction": pdf.direction.clip(upper=1),
            "buy_no": pdf.buy_no,
            "sell_no": pdf.sell_no,
            "trans_flag": 0,
            "trans_identify_am": 0,
            "channel_num": 0,
        }
        frame = pd.DataFrame(cols)
        frame["symbol"] = pdf.symbol.values
        return {
            s: g.drop(columns="symbol").reset_index(drop=True)
            for s, g in frame.groupby("symbol")
        }

    def get_individual_entrust(
        self, stocks, data_count=50, start_pos=0, search_direction=1, date=None
    ) -> dict | None:
        """Spec ``:2110-2178``: 逐笔委托 per code; trans_kind 2 (SZ limit
        order) / 4 (SS add order) per the market split."""
        pdf = self._tick_slice(stocks, date, data_count, start_pos, search_direction)
        if pdf.empty:
            return None
        frame = pd.DataFrame(
            {
                "business_time": pdf.ts_ms,
                "hq_px": pdf.price,
                "business_amount": pdf.qty,
                "order_no": pdf.order_no,
                "business_direction": pdf.direction.clip(upper=1),
                "trans_kind": pdf.symbol.str.endswith(".SS").map({True: 4, False: 2}),
            }
        )
        frame["symbol"] = pdf.symbol.values
        return {
            s: g.drop(columns="symbol").reset_index(drop=True)
            for s, g in frame.groupby("symbol")
        }

    def get_tick_direction(
        self, symbols, query_date=0, start_pos=0, search_direction=1, data_count=50
    ):
        """Spec ``:2252-2319``: 分时成交 OrderedDict[code → DataFrame];
        query_date int YYYYMMDD (0 = latest trading day)."""
        from collections import OrderedDict

        date = str(query_date) if query_date else None
        pdf = self._tick_slice(symbols, date, data_count, start_pos, search_direction)
        out = OrderedDict()
        if pdf.empty:
            return out
        frame = pd.DataFrame(
            {
                "time_stamp": pdf.ts_ms,
                "hq_px": pdf.price,
                "hq_px64": 0,
                "business_amount": pdf.qty,
                "business_balance": (pdf.price * pdf.qty).round(0).astype("int64"),
                "business_count": 1,
                "business_direction": pdf.direction,
                "amount": 0,
                "start_index": 0,
                "end_index": 0,
            }
        )
        frame["symbol"] = pdf.symbol.values
        syms = _as_list(symbols)
        for s in syms:
            g = frame[frame.symbol == s]
            if len(g):
                out[s] = g.drop(columns="symbol").reset_index(drop=True)
        return out

    # -- snapshot / gears ---------------------------------------------------

    _LIMIT_RATES = (0.05, 0.10)  # (ST, normal) A-share daily price bands

    def get_snapshot(self, security, date=None) -> dict:
        """Spec ``:2610-2720``: per-symbol quote snapshot dict. The data
        layer serves it from the latest bar ≤ ``date`` joined to valuation
        (pe/pb/turnover/float shares) — one partition-pruned two-table read.
        Level-2 book fields (bid_grp/offer_grp) have NO source table, so the
        five gears are synthesized deterministically around last_px at the
        0.01 tick (documented synthetic, like the multimodal decode stubs);
        entrust counts are 0 per the no-L2 rule (spec ``:2576``)."""
        securities = _as_list(security)
        d = self.get_trading_day(0, date).isoformat()
        bars = (
            self._table_range("bars", d, d)
            .filter(F.col("symbol").isin(securities))
        )
        val = (
            self._table("valuation")
            .filter(F.col("symbol").isin(securities))
            .filter(F.col("trade_date") == d)
            .select(
                "symbol", "pe_ttm", "pb", "turnover_rate",
                "total_shares", "float_value",
            )
        )
        meta = self._table("stock_metadata").select(
            "symbol", "de_listed_date"
        )
        rows = (
            bars.join(val, "symbol", "left")
            .join(F.broadcast(meta), "symbol", "left")
            .collect()
        )
        out = {}
        for r in rows:
            last, pre = r["close"], r["preclose"]
            is_st = bool(r["is_st"])
            limit = self._LIMIT_RATES[0] if is_st else self._LIMIT_RATES[1]
            delisted = (
                r["de_listed_date"] is not None
                and r["de_listed_date"].isoformat() <= d
            )
            status = (
                "DELISTED" if delisted
                else ("SUSP" if r["trade_status"] == 0 else "TRADE")
            )
            float_shares = (
                int(r["float_value"] / last)
                if r["float_value"] and last
                else 0
            )
            snap = {
                "last_px": last,
                "open_px": r["open"],
                "high_px": r["high"],
                "low_px": r["low"],
                "preclose_px": pre,
                "px_change_rate": round((last / pre - 1) * 100, 2) if pre else None,
                "business_amount": int(r["volume"]),
                "business_balance": r["money"],
                "wavg_px": round(r["money"] / r["volume"], 4) if r["volume"] else last,
                "up_px": round(pre * (1 + limit), 2),
                "down_px": round(pre * (1 - limit), 2),
                "pe_rate": r["pe_ttm"],
                "pb_rate": r["pb"],
                "turnover_ratio": r["turnover_rate"],
                "circulation_amount": float_shares,
                "trade_status": status,
                "hsTimeStamp": int(d.replace("-", "")) * 10**9 + 150000000,
            }
            snap.update(self._synthetic_book(last, int(r["volume"])))
            out[r["symbol"]] = snap
        return out

    @staticmethod
    def _synthetic_book(last_px: float, volume: int) -> dict:
        """Deterministic 5-level book around last_px (tick=0.01): volumes
        derive from the day's volume so repeated calls agree."""
        base_qty = max(100, (volume // 1000) // 100 * 100)
        bid = {
            i: [round(last_px - 0.01 * i, 2), base_qty * (6 - i), 0]
            for i in range(1, 6)
        }
        offer = {
            i: [round(last_px + 0.01 * i, 2), base_qty * (6 - i), 0]
            for i in range(1, 6)
        }
        bid[1] = bid[1] + [{}]
        offer[1] = offer[1] + [{}]
        return {"bid_grp": bid, "offer_grp": offer}

    def get_gear_price(self, sids, date=None) -> dict:
        """Spec ``:2553-2609``: five bid/offer gears per code — the book
        subset of get_snapshot; single code returns the inner dict."""
        snaps = self.get_snapshot(sids, date)
        gears = {
            s: {"bid_grp": v["bid_grp"], "offer_grp": v["offer_grp"]}
            for s, v in snaps.items()
        }
        if isinstance(sids, str):
            return gears.get(sids, {"bid_grp": {}, "offer_grp": {}})
        return gears

    _SORT_FIELDS = (
        "px_change_rate", "business_amount", "business_balance",
        "rise_count", "fall_count", "wavg_px",
    )

    def get_sort_msg(
        self,
        sort_type_grp="industry",
        sort_field_name="px_change_rate",
        sort_type=1,
        data_count=100,
        date=None,
    ) -> list[dict]:
        """Industry/sector ranking (spec ``PTrade_API_mini_Reference.md:2320``;
        not implemented by the reference). Groups stocks by
        ``blocks[sort_type_grp]`` and ranks groups at ``date`` (default: the
        last trading day) by: px_change_rate (equal-weighted mean of member
        day-over-day changes), business_amount (Σ volume), business_balance
        (Σ money), rise_count / fall_count, or wavg_px (Σmoney / Σvolume).
        One partition-pruned two-day scan + a broadcast metadata join."""
        if sort_field_name not in self._SORT_FIELDS:
            raise ValueError(
                f"sort_field_name={sort_field_name!r}; one of {self._SORT_FIELDS}"
            )
        days = self.get_trade_days(end_date=date)
        if len(days) < 2:
            return []
        prev_d, d = days[-2], days[-1]
        bars = self._table_range("bars", prev_d, d).select(
            "symbol", "trade_date", "close", "volume", "money"
        )
        meta = self._table("stock_metadata").select(
            "symbol", F.col("blocks")[sort_type_grp].alias("grp")
        ).filter(F.col("grp").isNotNull())
        on_day = lambda day, c: F.max(
            F.when(F.col("trade_date") == day, F.col(c))
        )
        per_stock = (
            bars.join(F.broadcast(meta), "symbol")
            .groupBy("symbol", "grp")
            .agg(
                on_day(d, "close").alias("close"),
                on_day(prev_d, "close").alias("preclose"),
                on_day(d, "volume").alias("volume"),
                on_day(d, "money").alias("money"),
            )
            .filter(F.col("close").isNotNull() & F.col("preclose").isNotNull())
        )
        pct = F.col("close") / F.col("preclose") - 1
        grp = per_stock.groupBy("grp").agg(
            F.avg(pct).alias("px_change_rate"),
            F.sum("volume").alias("business_amount"),
            F.sum("money").alias("business_balance"),
            F.sum(F.when(pct > 0, 1).otherwise(0)).alias("rise_count"),
            F.sum(F.when(pct < 0, 1).otherwise(0)).alias("fall_count"),
            (F.sum("money") / F.sum("volume")).alias("wavg_px"),
            F.count(F.lit(1)).alias("n_members"),
        )
        order = F.col(sort_field_name)
        ranked = grp.orderBy(
            order.asc() if sort_type == 0 else order.desc(), F.col("grp")
        ).limit(int(data_count))
        return [
            {
                "prod_code": r["grp"],
                "prod_name": r["grp"],
                "hq_type_code": sort_type_grp,
                "px_change_rate": r["px_change_rate"],
                "business_amount": r["business_amount"],
                "business_balance": r["business_balance"],
                "rise_count": r["rise_count"],
                "fall_count": r["fall_count"],
                "wavg_px": r["wavg_px"],
                "n_members": r["n_members"],
            }
            for r in ranked.collect()
        ]

    def get_stock_exrights(self, security: str, date=None) -> pd.DataFrame | None:
        """``ptrade_data_api.py:246-271``: ex-rights rows, int yyyymmdd index
        (``data_converter.py:356``)."""
        ex = self._table("exrights").filter(F.col("symbol") == security)
        if date:
            ex = ex.filter(F.col("ex_date") == _to_date_str(date))
        pdf = (
            ex.select(
                F.date_format("ex_date", "yyyyMMdd").cast("long").alias("date"),
                "allotted_ps", "rationed_ps", "rationed_px", "bonus_ps",
                "exer_forward_a", "exer_forward_b",
                "exer_backward_a", "exer_backward_b",
            )
            .orderBy("date")
            .toPandas()
        )
        return pdf.set_index("date") if len(pdf) else None

    # -- status predicates (F5/F6/F7) --------------------------------------

    def get_stock_status(self, stocks, query_type="ST", query_date=None) -> dict:
        """``ptrade_data_api.py:308-422``. ST/HALT read the stock_status
        row on exactly ``query_date`` (the latest row without one); a
        missing row or a null flag is False."""
        stocks = _as_list(stocks)
        if query_type not in ("ST", "HALT", "DELISTING"):
            raise ValueError(query_type)
        if query_type == "DELISTING":
            meta = self._table("stock_metadata").filter(F.col("symbol").isin(stocks))
            d = _to_date_str(query_date) if query_date else None
            rows = meta.select("symbol", "de_listed_date").collect()
            return {
                r["symbol"]: (
                    r["de_listed_date"] is not None
                    and (d is None or r["de_listed_date"].isoformat() <= d)
                )
                for r in rows
            }
        col = "is_st" if query_type == "ST" else "is_halt"
        d = _to_date_str(query_date) if query_date else None
        if self._point_cache:
            found = {}
            for s, (rows, _) in zip(stocks, self._point_frames("stock_status", stocks)):
                i = len(rows) if d is None else rows["__d"].searchsorted(d, "right")
                if i and (d is None or rows["__d"].iat[i - 1] == d):
                    flag = rows[col].iat[i - 1]
                    found[s] = not pd.isna(flag) and bool(flag)
            return {s: found.get(s, False) for s in stocks}
        st = self._table("stock_status").filter(F.col("symbol").isin(stocks))
        if d:
            st = st.filter(F.col("trade_date") == d)
        else:
            w = Window.partitionBy("symbol").orderBy(F.col("trade_date").desc())
            st = st.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1")
        rows = st.select("symbol", col).collect()
        found = {r["symbol"]: bool(r[col]) for r in rows}
        return {s: found.get(s, False) for s in stocks}

    # -- fundamentals (J5 as-of) -------------------------------------------

    def get_fundamentals(
        self,
        stocks,
        table="growth_ability",
        fields=None,
        date=None,
        start_year=None,
        end_year=None,
        report_types=None,
        merge_type="first",
    ) -> pd.DataFrame:
        """``ptrade_data_api.py:425-598`` / spec ``:3274-3412,6145-6259``.

        date mode: as-of join on publ_date — the most recent report PUBLISHED
        on or before ``date`` per symbol (no lookahead). year mode: all
        reports whose end_date falls in [start_year, end_year].
        merge_type: 'first' → only original publications (merge_seq=0);
        'latest' → restatements supersede (keep max merge_seq per report).
        """
        stocks = _as_list(stocks)
        if table == "valuation":
            return self._valuation_fundamentals(stocks, fields, date)
        if table not in FUNDAMENTAL_TABLES:
            raise ValueError(
                f"table={table!r} not supported; one of "
                f"{['valuation', *sorted(FUNDAMENTAL_TABLES)]}"
            )
        # each ability table is a projection of the one tall quarterly table
        # (the reference's four per-domain fetchers, ptrade_data_api.py:484-590)
        if fields is None:
            fields = FUNDAMENTAL_TABLES[table]
        f = self._table("fundamentals").filter(F.col("symbol").isin(stocks))
        if report_types:
            rts = [int(r) for r in (
                report_types if isinstance(report_types, (list, tuple)) else [report_types]
            )]
            f = f.filter(F.col("report_type").isin(rts))
        if merge_type == "first":
            f = f.filter(F.col("merge_seq") == 0)
        else:
            w = Window.partitionBy("symbol", "end_date").orderBy(
                F.col("merge_seq").desc()
            )
            f = f.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")

        if date is not None:
            d = _to_date_str(date)
            probe = local_rows(
                self.spark, [(s, d) for s in stocks], "symbol string, qd string"
            ).select("symbol", F.col("qd").cast("date").alias("publ_date"))
            payload = [c for c in f.columns if c not in ("symbol", "publ_date")]
            joined = asof_join(probe, f, on="publ_date", by=["symbol"], right_cols=payload)
            pdf = joined.drop("__asof_matched_publ_date").toPandas()
        else:
            if start_year:
                f = f.filter(F.year("end_date") >= int(start_year))
            if end_year:
                f = f.filter(F.year("end_date") <= int(end_year))
            pdf = f.orderBy("symbol", "end_date").toPandas()
        if fields:
            keep = ["symbol", "end_date", "publ_date", "report_type", "merge_seq"] + [
                c for c in fields if c in pdf.columns
            ]
            pdf = pdf[[c for c in keep if c in pdf.columns]]
        return pdf.set_index("symbol")

    def _valuation_fundamentals(self, stocks, fields, date) -> pd.DataFrame:
        """``get_fundamentals(table='valuation')`` — daily table, so the
        as-of is the latest trade date <= query date (suspension-safe).
        Rows follow ``stocks``, duplicates dropped."""
        d = _to_date_str(date) if date is not None else None
        order = list(dict.fromkeys(stocks))
        if self._point_cache and order:
            parts = []
            for rows, schema in self._point_frames("valuation", order):
                i = len(rows) if d is None else rows["__d"].searchsorted(d, "right")
                parts.append(rows.iloc[i - 1:i] if i else rows.iloc[:0])
            pdf = _as_to_pandas(parts, schema).drop(columns="__d")
        else:
            v = self._table("valuation").filter(F.col("symbol").isin(order))
            if d is not None:
                v = v.filter(F.col("trade_date") <= d)
            w = Window.partitionBy("symbol").orderBy(F.col("trade_date").desc())
            v = v.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
            rank = {s: i for i, s in enumerate(order)}
            pdf = v.toPandas().sort_values(
                "symbol", key=lambda c: c.map(rank), kind="mergesort"
            )
        if fields:
            keep = ["symbol", "trade_date"] + [c for c in fields if c in pdf.columns]
            pdf = pdf[keep]
        return pdf.set_index("symbol")

    # -- constituents -------------------------------------------------------

    def get_index_stocks(self, index_code: str, date=None) -> list[str]:
        """``ptrade_data_api.py:601-645``: membership at the latest sample on
        or before ``date`` (point-in-time, not latest-overall)."""
        ic = self._table("index_constituents").filter(
            F.col("index_code") == index_code
        )
        if date:
            ic = ic.filter(F.col("sample_date") <= _to_date_str(date))
        last = ic.agg(F.max("sample_date").alias("d")).first()["d"]
        if last is None:
            return []
        return sorted(
            r[0]
            for r in ic.filter(F.col("sample_date") == last)
            .select("symbol")
            .collect()
        )

    # -- indicators (W7) ----------------------------------------------------

    def get_indicators(
        self, security, start_date=None, end_date=None, frequency="1d"
    ) -> pd.DataFrame:
        """``frequency`` accepts the minute spellings too ('1m'..'120m'):
        indicators then run over post-adjusted minute bars with a
        timestamp index — the same EMA recursions, one Arrow batch per
        symbol either way."""
        securities = _as_list(security)
        # only the END bound is safe to push to the scan: EMA state at
        # start_date depends on all earlier bars (warmup), later ones never
        end = _to_date_str(end_date) if end_date else None
        freq = _FREQUENCIES.get(frequency, KeyError)
        if freq is KeyError or (freq is not None and not isinstance(freq, tuple)):
            raise ValueError(
                f"frequency={frequency!r} not supported for indicators"
            )
        if isinstance(freq, tuple):
            mb = self._minute_bars(securities, "post", None, end, freq[1])
            bars = mb.select(
                "symbol", _minute_ts().alias("trade_date"), "high", "low", "close"
            )
            ind = compute_indicators(bars, ts_type="timestamp")
        else:
            ind = compute_indicators(self._bars(securities, fq="post", end=end))
        day = F.to_date("trade_date")  # the identity on daily bars
        if start_date:
            ind = ind.filter(day >= _to_date_str(start_date))
        if end:
            ind = ind.filter(day <= end)
        return ind.orderBy("symbol", "trade_date").toPandas()

    def get_MACD(self, security, **kw) -> pd.DataFrame:
        return self.get_indicators(security, **kw)[
            ["symbol", "trade_date", "dif", "dea", "macd"]
        ]

    def get_KDJ(self, security, **kw) -> pd.DataFrame:
        return self.get_indicators(security, **kw)[
            ["symbol", "trade_date", "k", "d", "j"]
        ]

    def get_RSI(self, security, **kw) -> pd.DataFrame:
        return self.get_indicators(security, **kw)[["symbol", "trade_date", "rsi"]]

    def get_CCI(self, security, **kw) -> pd.DataFrame:
        return self.get_indicators(security, **kw)[["symbol", "trade_date", "cci"]]
