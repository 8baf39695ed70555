"""Z-order clustering — verified against parquet FOOTER STATS, not on faith:
for the same data, the Z-ordered layout must let BOTH symbol and date
predicates skip a large fraction of row groups, where the (symbol, date)
sort layout can only skip for symbol (every row group spans ~the full date
range of its file's symbol run... and for low-cardinality symbol runs the
date dimension never prunes)."""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from simtradedata_spark.sources.tables import Warehouse, ZOrderWarehouse, zorder_value


@pytest.fixture(scope="module")
def grid(spark):
    # 64 symbols x 512 days — big enough for 16 files with real row groups
    return (
        spark.range(64)
        .select(F.concat(F.lit("S"), F.lpad(F.col("id").cast("string"), 3, "0")).alias("symbol"))
        .crossJoin(
            spark.sql(
                "SELECT explode(sequence(date'2022-01-03', date'2023-05-28')) AS trade_date"
            )
        )
        .withColumn("close", F.xxhash64("symbol", "trade_date").cast("double") / 1e18)
    )


def _rowgroup_stats(root: str, col: str):
    """[(min, max)] across every row group of every file under root."""
    out = []
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                c = meta.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    out.append((c.statistics.min, c.statistics.max))
    return out


def _straddle_fraction(stats, value):
    hit = sum(1 for lo, hi in stats if lo <= value <= hi)
    return hit / len(stats)


def test_zorder_prunes_both_dimensions(spark, grid, tmp_path):
    zw = ZOrderWarehouse(spark, str(tmp_path / "z"), files_per_partition=16)
    zw.write("bars", grid)

    sym_stats = _rowgroup_stats(zw.path("bars"), "symbol")
    date_stats = _rowgroup_stats(zw.path("bars"), "trade_date")
    assert len(sym_stats) >= 16

    # average straddle fraction over several probe values
    import datetime as dt

    sym_frac = sum(
        _straddle_fraction(sym_stats, f"S{i:03d}") for i in (5, 23, 41, 60)
    ) / 4
    probe_days = [dt.date(2022, 3, 1), dt.date(2022, 9, 1), dt.date(2023, 3, 1)]
    date_frac = sum(
        _straddle_fraction(date_stats, d) for d in probe_days
    ) / len(probe_days)

    # Both dimensions must prune: a probe symbol/date should fall inside the
    # min/max of a MINORITY of row groups (unpruned layout = 100%; measured
    # ~0.44 symbol / ~0.27 date with dense-rank coordinates).
    assert sym_frac < 0.7, f"symbol straddle {sym_frac}"
    assert date_frac < 0.5, f"date straddle {date_frac}"

    # Z-ordered reads return exactly the same rows
    got = zw.read("bars").filter("symbol = 'S005'").count()
    assert got == grid.filter("symbol = 'S005'").count()


def test_symbol_sorted_layout_cannot_prune_dates(spark, grid, tmp_path):
    """The control at the SAME file count: (symbol, trade_date)-sorted files
    hold a few symbols' FULL history each, so every row group's date min/max
    spans ~the whole range and a date predicate skips nothing. This is WHY
    ZOrderWarehouse exists."""
    root = str(tmp_path / "plain")
    (
        grid.repartitionByRange(16, "symbol")
        .sortWithinPartitions("symbol", "trade_date")
        .write.mode("overwrite")
        .parquet(root)
    )
    date_stats = _rowgroup_stats(root, "trade_date")
    assert len(date_stats) >= 16
    import datetime as dt

    frac = _straddle_fraction(date_stats, dt.date(2022, 7, 1))
    assert frac > 0.9, (
        "expected the symbol-sorted layout to be date-unprunable; "
        f"straddle={frac}"
    )


def test_zorder_minute_grain_matches_plain_writer(spark, tmp_path):
    """ticks/minute_bars must land trade_month= dirs from BOTH writers: a
    z-ordered build followed by a plain-Warehouse dynamic ingest into the
    same table root would otherwise mix trade_year=/trade_month= dirs and
    break partition discovery (the round-5 review finding)."""
    intraday = (
        spark.range(8)
        .select(
            F.concat(F.lit("S"), F.col("id").cast("string")).alias("symbol")
        )
        .crossJoin(
            spark.sql(
                "SELECT explode(sequence(date'2022-01-03', date'2022-03-28')) AS trade_date"
            )
        )
        .withColumn("close", F.xxhash64("symbol", "trade_date").cast("double") / 1e18)
    )
    zw = ZOrderWarehouse(spark, str(tmp_path / "z"), files_per_partition=4)
    zw.write("minute_bars", intraday)
    dirs = {
        d.split("=")[0]
        for d in os.listdir(zw.path("minute_bars"))
        if "=" in d
    }
    assert dirs == {"trade_month"}

    # the plain writer's dynamic overwrite lands beside it without conflict
    feb = intraday.filter(F.month("trade_date") == 2)
    Warehouse(spark, str(tmp_path / "z")).write("minute_bars", feb, dynamic=True)
    got = spark.read.parquet(zw.path("minute_bars"))
    assert got.count() == intraday.count()
