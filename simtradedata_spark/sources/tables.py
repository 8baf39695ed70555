"""Warehouse: tall partitioned parquet tables replacing the reference's
per-symbol HDF5 keys (``h5_writer.py`` K1-K6, SURVEY §2.2).

Layout decisions (designed for 100 TB, exercised locally), each stated once:
  - ``GRAIN`` maps every fact table to its partition column, derived from
    ``trade_date`` by ``_grain_value``. Dailies (``bars``, ``valuation``,
    ``adjust_factor``, ``stock_status``) are partitioned by ``trade_year``
    — date-range queries prune whole directories; within a partition,
    files are written sorted by (symbol, trade_date) so min/max parquet
    stats make symbol predicates effective too.
  - ``ticks``/``minute_bars`` are partitioned by ``trade_month`` (derived
    int yyyymm): intraday tables are ~2 orders of magnitude denser per day
    than the dailies, and the incremental ingest rebuilds whole partitions —
    at year grain a one-day tick batch rewrote ~365 days of minute bars
    (~365× write amplification at 100 TB); at month grain the dynamic
    overwrite touches only the batch's own months (≤31× worst case, 1-day
    granularity costs a 12× deeper dir tree for no extra pruning win).
  - every other table (metadata, calendar, exrights, fundamentals,
    constituents) is a single unpartitioned table — broadcast-sized at any
    realistic scale.
  - directory replacement (``compact``, ``regrain``) is one crash-safe
    rename-aside swap (``_swap``) over one staging name (``_staging``),
    and one sweep (``_sweep``) finishes or drops what a crash left behind.
  - ``compression`` inherits the session's zstd default (K1's blosc-9 analog).
  - one stored table per bar read: daily bars live only in ``bars`` and
    intraday bars only in ``minute_bars``. Adjusted prices are derived on
    read from ``bars``/``minute_bars`` and ``adjust_factor``, never stored
    beside them, so a rebuild of those tables is all a reader ever sees.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

GRAIN = {
    "bars": "trade_year",
    "valuation": "trade_year",
    "adjust_factor": "trade_year",
    "stock_status": "trade_year",
    "ticks": "trade_month",
    "minute_bars": "trade_month",
}
_PART_COLS = ("trade_year", "trade_month")


def _grain_value(part_col: str, date: Column | str = "trade_date") -> Column:
    """The ``part_col`` partition value of ``date``: its year, or the int
    yyyymm of its month."""
    year = F.year(date)
    return year if part_col == "trade_year" else year * 100 + F.month(date)


def _staging(live: str, op: str, kind: str = "tmp") -> str:
    """Hidden sibling ``.<name>.<op>-<kind>`` of the dir ``live``:
    dot-prefixed, so Spark's file listing never parses it as data or as a
    partition value."""
    name = f".{os.path.basename(live)}.{op}-{kind}"
    return os.path.join(os.path.dirname(live), name)


def _swap(live: str, op: str) -> None:
    """Replace ``live`` with its fully written staging dir by renaming the
    old dir aside first, so there is never a moment when the data is simply
    gone. A crash between the renames leaves the staging dir and no live
    dir, which ``_sweep`` finishes on the next run; a crash after them
    leaves only the trash dir, which ``_sweep`` drops."""
    trash = _staging(live, op, "trash")
    os.rename(live, trash)
    os.rename(_staging(live, op), live)
    shutil.rmtree(trash)


def _sweep(parent: str, prefix: str = ".") -> None:
    """Clean up after a crashed ``_swap`` among ``parent``'s staging dirs
    whose names start with ``prefix``: a ``-trash`` dir is a superseded
    original (drop it); a ``-tmp`` dir without its live dir is a finished
    replacement whose swap never happened (move it in); a ``-tmp`` dir
    beside its live dir is a write cut short (drop it)."""
    if not os.path.isdir(parent):
        return
    for d in os.listdir(parent):
        name, _, tag = d[1:].rpartition(".")
        p, live = os.path.join(parent, d), os.path.join(parent, name)
        if not (d.startswith(prefix) and name and os.path.isdir(p)):
            continue
        if tag.endswith("-trash") or (tag.endswith("-tmp") and os.path.isdir(live)):
            shutil.rmtree(p)
        elif tag.endswith("-tmp"):
            os.rename(p, live)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        dynamic: bool = False,
    ) -> None:
        """K1-K5 sink: a ``GRAIN`` fact table gets its derived partition
        column and the ``_cluster`` file layout; any other table is written
        as-is. ``dynamic=True`` replaces only the partitions present in
        ``df`` and leaves every other partition's files untouched — the
        incremental-ingest write: a daily tick batch rewrites one month of
        minute bars, not the table."""
        self._write_to(self.path(table), table, df, mode, dynamic)

    def _write_to(
        self,
        path: str,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        dynamic: bool = False,
    ) -> None:
        if dynamic and mode != "overwrite":
            # dynamic overwrite IS an overwrite of the touched partitions;
            # silently coercing e.g. mode="append" would hand the caller
            # partition replaces where they asked for appends.
            raise ValueError(
                f"dynamic=True requires mode='overwrite' (got mode={mode!r})"
            )
        part_col = GRAIN.get(table)
        if part_col is None or "trade_date" not in df.columns:
            df.write.mode(mode).parquet(path)
            return
        if mode == "append" or dynamic:
            # a full overwrite replaces the table dir wholesale, but an
            # append/dynamic write LANDS BESIDE existing partition dirs
            # — mixing grains there breaks partition discovery on the
            # next read ("Conflicting partition column names")
            self._check_grain(table)
        staged = self._cluster(
            df.withColumn(part_col, _grain_value(part_col)), part_col
        )
        w = staged.write.mode(mode)
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy(part_col).parquet(path)

    def _cluster(self, df: DataFrame, part_col: str) -> DataFrame:
        """The file layout inside each partition: one task per partition
        value, rows sorted by (symbol, trade_date)."""
        return df.repartition(part_col).sortWithinPartitions("symbol", "trade_date")

    def _on_disk_part_col(self, table: str) -> str | None:
        """The partition column actually present on disk (None for a
        missing or unpartitioned table)."""
        root = self.path(table)
        if not os.path.isdir(root):
            return None
        for d in os.listdir(root):
            if "=" in d and os.path.isdir(os.path.join(root, d)):
                name = d.split("=", 1)[0]
                if name in _PART_COLS:
                    return name
        return None

    def _check_grain(self, table: str) -> None:
        on_disk = self._on_disk_part_col(table)
        if on_disk and on_disk != GRAIN[table]:
            raise ValueError(
                f"{table} at {self.path(table)} is partitioned by "
                f"{on_disk}= on disk but this writer lands {GRAIN[table]}= "
                f"dirs; migrate first: python -m simtradedata_spark "
                f"maintain --root {self.root} --regrain {table}"
            )

    def regrain(self, table: str) -> dict:
        """Migrate a table whose on-disk partition grain predates the
        current layout (e.g. a minute_bars written under trade_year=
        before intraday tables moved to month grain) by rewriting it at
        its ``GRAIN``. The replacement is fully written to a staging dir,
        then ``_swap``-ped in: a crash leaves either the old table or a
        finished staging dir, never a mixed-grain table. No-op
        (regrained=False) when the grain already matches, the table is
        unpartitioned, or it is absent."""
        live = self.path(table)
        _sweep(self.root, f".{table}.")
        want = GRAIN.get(table)
        on_disk = self._on_disk_part_col(table)
        if want is None or on_disk in (None, want):
            return {"table": table, "regrained": False, "grain": on_disk}
        self._write_to(_staging(live, "regrain"), table, self.read(table))
        _swap(live, "regrain")
        return {"table": table, "regrained": True, "grain": want}

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions the footers of every file so a
        column added by a later ingest batch is visible table-wide (older
        files yield nulls) — parquet-level schema evolution, the additive
        half of what a metastore would track. Off by default: footer-union
        costs one extra listing pass, and the common read wants the latest
        writer's schema."""
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(self.path(table))
        return df.drop(*[c for c in _PART_COLS if c in df.columns])

    def read_range(
        self,
        table: str,
        start: str | None = None,
        end: str | None = None,
        date_col: str = "trade_date",
    ) -> DataFrame:
        """Date-bounded read that actually PRUNES partitions: a predicate on
        ``date_col`` alone never prunes a partitioned table (pruning needs
        partition-column predicates), so the year/month bounds are derived
        here before the partition column is dropped. At 100 TB this is the
        difference between scanning one month's directory and all of them
        for a backtest-day slice."""
        df = self.spark.read.parquet(self.path(table))
        part = next((c for c in _PART_COLS if c in df.columns), None)

        def _bound(d: str) -> Column:  # the partition value holding date d
            return _grain_value(part, F.lit(d).cast("date"))

        if start:
            df = df.filter(F.col(date_col) >= start)
            if part:
                df = df.filter(F.col(part) >= _bound(start))
        if end:
            df = df.filter(F.col(date_col) <= end)
            if part:
                df = df.filter(F.col(part) <= _bound(end))
        return df.drop(part) if part else df

    def exists(self, table: str) -> bool:
        """K6 integrity: the parquet footer read doubles as an openability
        check (h5_writer.py:511-537 analog)."""
        try:
            self.spark.read.parquet(self.path(table)).schema
            return True
        except Exception:
            return False

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
            and not d.startswith((".", "_"))
        )

    def compact(self, table: str, target_file_bytes: int = 128 << 20) -> dict:
        """Small-file compaction — the operational fix for incremental
        ingest's 100 TB killer: every append/merge batch leaves files far
        below row-group-efficient size, and scans then pay a per-file
        open + footer + task cost that dwarfs the data read. Each partition
        directory is rewritten into ``ceil(bytes / target_file_bytes)``
        files, preserving the (symbol, trade_date) in-file sort so parquet
        min/max stats keep pruning symbol predicates. Partitions already at
        or below the target file count are left untouched (idempotent; a
        scheduled run costs nothing once the table is compact). The rewrite
        is per-partition dir-swap — the same non-transactional replace
        semantics as ``write(mode="overwrite")``; pair with table-level
        locking or a metastore for concurrent readers.
        """
        root = self.path(table)
        # Finish or drop what a crashed run left: partition-level staging
        # lives inside the table dir, table-level staging (unpartitioned
        # case) beside it in the warehouse root.
        _sweep(self.root, f".{table}.")
        for parent in [dp for dp, _dirs, _files in os.walk(root)]:
            _sweep(parent)
        # Recurse to LEAF partition dirs: a table partitioned by
        # (exchange, year) nests key=value dirs two deep, and scanning only
        # the first level would find zero parquet files and silently report
        # the table as already compact.
        def _leaves(base: str) -> list[str]:
            subs = sorted(
                d
                for d in os.listdir(base)
                if "=" in d and os.path.isdir(os.path.join(base, d))
            )
            if not subs:
                return [base]
            out: list[str] = []
            for d in subs:
                out.extend(_leaves(os.path.join(base, d)))
            return out

        part_dirs = _leaves(root)
        stats = {"files_before": 0, "files_after": 0, "partitions_rewritten": 0}
        sort_cols = [
            c for c in ("symbol", "trade_date")
            if c in self.spark.read.parquet(root).columns
        ]
        for pdir in part_dirs:
            files = [
                f for f in os.listdir(pdir) if f.endswith(".parquet")
            ]
            nbytes = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
            n_target = max(1, math.ceil(nbytes / target_file_bytes))
            stats["files_before"] += len(files)
            if n_target >= len(files):
                stats["files_after"] += len(files)
                continue
            # mergeSchema: a partition whose files straddle a schema
            # evolution must keep the union schema, not one random footer.
            df = self.spark.read.option("mergeSchema", "true").parquet(pdir)
            w = df.repartition(n_target)
            if sort_cols:
                w = w.sortWithinPartitions(*sort_cols)
            w.write.mode("overwrite").parquet(_staging(pdir, "compact"))
            _swap(pdir, "compact")
            stats["files_after"] += sum(
                1 for f in os.listdir(pdir) if f.endswith(".parquet")
            )
            stats["partitions_rewritten"] += 1
        return stats


def build_warehouse(
    spark: SparkSession, root: str, market=None, warehouse: Warehouse | None = None
) -> Warehouse:
    """Generate the full synthetic market and persist every table — the
    engine-side replacement for scripts/download_efficient.py (§3.1).
    Pass a ``warehouse`` instance (e.g. ``ZOrderWarehouse``) to choose the
    file layout inside each partition; the partition grain is ``GRAIN``.
    The bar tables it writes, ``bars`` and ``minute_bars``, are the only
    sources of PTrade bar reads: adjusted prices come from them and
    ``adjust_factor`` on read, so nothing derived from them is stored."""
    from simtradedata_spark.sources.synthetic import SyntheticMarket

    market = market or SyntheticMarket(spark)
    wh = warehouse or Warehouse(spark, root)
    bars = market.bars().drop("sym_idx", "day_idx")
    bench = market.benchmark().drop("sym_idx", "day_idx")
    wh.write("bars", bars.unionByName(bench))
    wh.write("trade_calendar", market.trade_calendar())
    wh.write("valuation", market.valuation())
    wh.write("adjust_factor", market.adjust_factor())
    wh.write("exrights", market.exrights().drop("sym_idx", "day_idx"))
    wh.write("fundamentals", market.fundamentals().drop("sym_idx"))
    wh.write("stock_metadata", market.stock_metadata().drop("sym_idx"))
    wh.write("index_constituents", market.index_constituents())
    wh.write("stock_status", market.stock_status())
    wh.write("etf_metadata", market.etf_metadata())
    wh.write("cb_metadata", market.cb_metadata())
    ticks = market.ticks()
    wh.write("ticks", ticks)
    # Materialized finest-level intraday rollup: get_price(frequency='1m')
    # reads this directly; coarser minute frequencies fold from it
    # (rebucket_minute_bars) without re-reading ticks — the hypertable
    # continuous-aggregate layout applied to the bar store. Written WITH
    # the decomposable state (open_ord/close_ord/money_e4) so (a) folds
    # stay integer-exact at any width and (b) refresh_time_bars can merge
    # later tick batches without re-reading history.
    from simtradedata_spark.operators.resample import time_bars_from_ticks

    wh.write("minute_bars", time_bars_from_ticks(ticks, minutes=1, with_state=True))
    return wh


def zorder_value(a: F.Column, b: F.Column, bits: int = 16) -> F.Column:
    """Interleave the low ``bits`` bits of two non-negative int columns into
    one Z-value (Morton code). Rows sorted by the Z-value cluster into
    rectangle-ish regions of the (a, b) plane, so EVERY file's min/max
    footer stats are narrow in BOTH dimensions — the data-skipping property
    a single-column sort only gives you for its leading column. Pure
    shift/or expressions: whole-stage codegen, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


class ZOrderWarehouse(Warehouse):
    """Warehouse variant whose fact-table FILES are Z-order clustered on
    (symbol, trade_date) — the SURVEY §7 phase-5 lakehouse layout, done with
    plain parquet instead of Delta OPTIMIZE ZORDER.

    The default layout sorts (symbol, trade_date) inside each year
    partition: symbol predicates skip row groups via footer min/max, but a
    date predicate inside the year must read every row group (date min/max
    spans the whole partition in every file). Z-ordering makes BOTH
    predicates skip: symbol's coordinate is its dense lexicographic rank,
    date's is the day offset, files cover Z-ranges ≈ rectangles. At 100 TB
    this is the difference between a backtest-day slice reading ~1/√F of a
    year and reading all of it. Verified by reading parquet footers in
    tests/test_zorder.py, not by assertion on faith. Only the
    within-partition layout (``_cluster``) differs from ``Warehouse``; the
    grain, its guard and the dynamic overwrite are the base writer's."""

    def __init__(self, spark: SparkSession, root: str, files_per_partition: int = 16):
        super().__init__(spark, root)
        self.files = files_per_partition

    def _cluster(self, df: DataFrame, part_col: str) -> DataFrame:
        # Coordinates must be MONOTONE in each column's natural order —
        # parquet footer min/max are on the raw columns, so a hashed
        # coordinate would cluster by hash while the stats span the
        # whole alphabet (measured: hash coords prune almost nothing).
        # Symbol → dense lexicographic rank via a broadcast dictionary
        # (the symbol dim is bounded — ~5k A-shares — at any scale);
        # date → days offset. Both scaled to the SAME bit width so the
        # interleave is balanced.
        syms = sorted(r[0] for r in df.select("symbol").distinct().collect())
        bits = max(2, (max(len(syms), 2) - 1).bit_length())
        sym_dim = df.sparkSession.createDataFrame(
            [(s, i * (1 << bits) // len(syms)) for i, s in enumerate(syms)],
            ["symbol", "__sx"],
        )
        bounds = df.agg(
            F.min("trade_date").alias("d0"), F.max("trade_date").alias("d1")
        ).first()
        span = max((bounds["d1"] - bounds["d0"]).days + 1, 1)
        dx = (
            F.datediff("trade_date", F.lit(str(bounds["d0"])))
            * (1 << bits)
            / span
        ).cast("long")
        z = zorder_value(F.col("__sx").cast("long"), dx, bits=bits)
        return (
            df.join(F.broadcast(sym_dim), "symbol")
            .withColumn("__z", z)
            .repartitionByRange(self.files, part_col, "__z")
            .sortWithinPartitions(part_col, "__z")
            .drop("__z", "__sx")
        )

