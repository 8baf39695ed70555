"""Spark 4 Python Data Source packaging of the provider scan — S1/S2 as a
first-class ``spark.read.format("simtrade_provider")`` (the "custom batch
DataSource" column of SURVEY §2.1).

The mapInPandas fan-out in ``provider.py`` stays the workhorse for arbitrary
callables; this connector is the catalog-friendly face of the same scan:
symbols come in as an option, each ``InputPartition`` carries one symbol
batch (reads parallel across executors), rows are the unified 14-field wide
row (``unified_fetcher.py:20-34``). Two pushdowns make it scan-efficient:

  - ``symbol = 'x'`` / ``symbol IN (...)`` prunes PARTITIONS — unselected
    symbols are never fetched (the provider analog of partition pruning);
  - ``trade_date`` bounds narrow the per-call fetch range — the provider is
    asked for fewer days (predicate pushdown to the RPC).

The bundled row generator is the deterministic synthetic provider (pure
python — executors only need this package), seeded per (symbol, day): the
same (symbol, date) always yields the same row, on any partitioning.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

from simtradedata_spark.sources.provider import UNIFIED_SCHEMA


def _u01(key: str) -> float:
    """Deterministic uniform [0,1) — md5-based, engine/partition invariant."""
    h = int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")
    return h / 2**64


def _close_on(seed: int, symbol: str, d: _dt.date) -> float:
    """Close as a PURE function of (seed, symbol, date) — never of the
    requested range. A provider must return identical rows for (symbol,
    date) whatever window is asked for, or pushing date bounds into the
    scan would change the data (tested)."""
    base = 5.0 + 95.0 * _u01(f"{seed}|{symbol}|base")
    swing = (_u01(f"{seed}|{symbol}|{d.isoformat()}|lvl") - 0.5) * 0.3
    return round(base * (1 + swing), 4)


def _prev_weekday(d: _dt.date) -> _dt.date:
    d -= _dt.timedelta(days=1)
    while d.weekday() >= 5:
        d -= _dt.timedelta(days=1)
    return d


def synthetic_provider_rows(
    symbol: str, start: str, end: str, seed: int = 42
) -> Iterator[tuple]:
    """The fake-BaoStock unified daily scan: weekday rows in [start, end],
    per-day deterministic close, OHLC envelope — range-invariant by
    construction (see _close_on)."""
    d0 = _dt.date.fromisoformat(start)
    d1 = _dt.date.fromisoformat(end)
    d = d0
    while d <= d1:
        if d.weekday() < 5:
            k = f"{seed}|{symbol}|{d.isoformat()}"
            close = _close_on(seed, symbol, d)
            prev = _close_on(seed, symbol, _prev_weekday(d))
            op = round(prev * (1 + (_u01(k + "|op") - 0.5) * 0.02), 4)
            hi = round(max(op, close) * (1 + _u01(k + "|hi") * 0.02), 4)
            lo = round(min(op, close) * (1 - _u01(k + "|lo") * 0.02), 4)
            vol = round(1e5 + 1e6 * _u01(k + "|vol"), 0)
            money = round(vol * (hi + lo) / 2, 2)
            yield (
                symbol, d, op, hi, lo, close, vol, money,
                round(10 + 40 * _u01(k + "|pe"), 4),
                round(1 + 5 * _u01(k + "|pb"), 4),
                round(1 + 10 * _u01(k + "|ps"), 4),
                round(2 + 20 * _u01(k + "|pcf"), 4),
                round(_u01(k + "|turn"), 6),
                0, 1,
            )
        d += _dt.timedelta(days=1)


class _SymbolBatch(InputPartition):
    def __init__(self, symbols: list[str]):
        self.symbols = symbols


class ProviderReader(DataSourceReader):
    def __init__(self, options):
        self.symbols = [
            s for s in options.get("symbols", "").split(",") if s
        ]
        if not self.symbols:
            raise ValueError("option 'symbols' (comma-separated) is required")
        self.start = options.get("start", "2022-01-03")
        self.end = options.get("end", "2022-12-30")
        self.seed = int(options.get("seed", "42"))
        self.batch_size = int(options.get("batch_size", "4"))
        # Arbitrary provider seam: "pkg.mod:factory" resolved lazily on the
        # EXECUTOR (options are strings, so a factory + string arg rather
        # than a pickled callable). factory(arg) -> provider(symbol, start,
        # end) -> unified pandas frame — the same contract as fetch_unified.
        self.provider_factory = options.get("provider_factory", "")
        self.provider_arg = options.get("provider_arg", "")

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            col = f.attribute[0] if getattr(f, "attribute", None) else None
            if col == "symbol" and isinstance(f, EqualTo):
                self.symbols = [s for s in self.symbols if s == f.value]
            elif col == "symbol" and isinstance(f, In):
                keep = set(f.values)
                self.symbols = [s for s in self.symbols if s in keep]
            elif col == "trade_date" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual)
            ):
                self.start = max(self.start, str(f.value))
            elif col == "trade_date" and isinstance(
                f, (LessThan, LessThanOrEqual)
            ):
                self.end = min(self.end, str(f.value))
            else:
                yield f  # unsupported → Spark evaluates it post-scan
                continue
            # pushed filters are also re-checked by Spark only if yielded;
            # equality/range pushes here are exact, so they are consumed

    def partitions(self) -> Sequence[InputPartition]:
        b = self.batch_size
        return [
            _SymbolBatch(self.symbols[i : i + b])
            for i in range(0, len(self.symbols), b)
        ] or [_SymbolBatch([])]

    def read(self, partition: _SymbolBatch) -> Iterator[tuple]:
        if self.provider_factory:
            import importlib

            mod, _, fn = self.provider_factory.partition(":")
            factory = getattr(importlib.import_module(mod), fn)
            provider = factory(self.provider_arg) if self.provider_arg else factory()
            for sym in partition.symbols:
                pdf = provider(sym, self.start, self.end)
                if pdf is None or not len(pdf):
                    continue
                for row in pdf.itertuples(index=False, name=None):
                    # numpy scalars → python; NaN → NULL (the DataSource row
                    # converter wants plain python values)
                    yield tuple(
                        None
                        if (isinstance(v, float) and v != v)
                        else (v.item() if hasattr(v, "item") else v)
                        for v in row
                    )
            return
        for sym in partition.symbols:
            yield from synthetic_provider_rows(
                sym, self.start, self.end, self.seed
            )


class ProviderStreamReader(SimpleDataSourceStreamReader):
    """The provider scan as a STREAMING source (Spark 4
    ``simpleStreamReader``): each micro-batch delivers one trading day's
    rows for every requested symbol — the live-feed shape of the same
    unified scan (a real deployment polls the provider for "what closed
    today"; the offset is simply the last delivered date).

    Replay safety comes from the provider's range-invariance: rows are a
    pure function of (seed, symbol, date), so ``readBetweenOffsets`` —
    Spark's crash-recovery path — regenerates EXACTLY the rows the lost
    batch contained. Past ``end`` the reader returns an empty batch with an
    unchanged offset, so ``processAllAvailable`` terminates (and a bounded
    backtest feed can be streamed to completion)."""

    def __init__(self, options):
        self.symbols = [s for s in options.get("symbols", "").split(",") if s]
        if not self.symbols:
            raise ValueError("option 'symbols' (comma-separated) is required")
        self.start = options.get("start", "2022-01-03")
        self.end = options.get("end", "2022-12-30")
        self.seed = int(options.get("seed", "42"))

    def initialOffset(self) -> dict:
        # offset = last delivered date (exclusive start for the next read)
        first = _dt.date.fromisoformat(self.start)
        return {"date": _prev_weekday(first).isoformat()}

    def _next_day(self, after: str) -> _dt.date | None:
        d = _dt.date.fromisoformat(after) + _dt.timedelta(days=1)
        while d.weekday() >= 5:
            d += _dt.timedelta(days=1)
        return d if d <= _dt.date.fromisoformat(self.end) else None

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # iter(list), never a generator: Spark's prefetch cache copy.copy()s
        # the iterator and next()-probes the empty case — list iterators
        # support both, generators neither
        d = self._next_day(start["date"])
        if d is None:
            return iter([]), start
        return iter(self._rows_between(start["date"], d.isoformat())), {
            "date": d.isoformat()
        }

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._rows_between(start["date"], end["date"]))

    def _rows_between(self, after: str, upto: str) -> list[tuple]:
        out: list[tuple] = []
        d = self._next_day(after)
        while d is not None and d.isoformat() <= upto:
            for sym in self.symbols:
                out.extend(
                    synthetic_provider_rows(
                        sym, d.isoformat(), d.isoformat(), self.seed
                    )
                )
            d = self._next_day(d.isoformat())
        return out


class ProviderDataSource(DataSource):
    """``spark.dataSource.register(ProviderDataSource)`` then
    ``spark.read.format("simtrade_provider").option("symbols", "a,b").load()``
    (batch) or ``spark.readStream.format("simtrade_provider")...`` (one
    trading day per micro-batch). Options: symbols (required,
    comma-separated), start, end, seed, batch_size (symbols per input
    partition, batch reads only)."""

    @classmethod
    def name(cls) -> str:
        return "simtrade_provider"

    def schema(self) -> str:
        return UNIFIED_SCHEMA

    def reader(self, schema) -> ProviderReader:
        return ProviderReader(self.options)

    def simpleStreamReader(self, schema) -> ProviderStreamReader:
        return ProviderStreamReader(self.options)
