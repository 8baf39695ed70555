"""Distributed ingest connector (S1/S2/S9 + fixed C6 retry)."""

import datetime

import pandas as pd
import pytest

from simtradedata_spark.sources.provider import (
    fetch_unified,
    paginated,
    with_retry,
)


def test_fetch_unified_fans_out_and_isolates_failures(spark):
    # Defined inside the test so cloudpickle ships it by VALUE — test modules
    # are not importable on executor workers.
    def fake_provider(symbol: str, start: str, end: str) -> pd.DataFrame:
        if symbol == "FAIL.SZ":
            raise ConnectionError("provider down")
        d0 = datetime.date.fromisoformat(start)
        rows = [
            dict(
                symbol=symbol,
                trade_date=d0 + datetime.timedelta(days=i),
                open=10.0 + i, high=11.0 + i, low=9.0 + i, close=10.5 + i,
                volume=1e5, money=1e6, pe_ttm=12.0, pb=1.5, ps_ttm=2.0,
                pcf=8.0, turnover_rate=1.2, is_st=0, trade_status=1,
            )
            for i in range(3)
        ]
        return pd.DataFrame(rows)

    symbols = spark.createDataFrame(
        [("600000.SS",), ("000001.SZ",), ("FAIL.SZ",)], ["symbol"]
    )
    got = fetch_unified(
        symbols, fake_provider, "2024-01-02", "2024-01-04", fetch_partitions=2
    ).toPandas()
    assert set(got.symbol) == {"600000.SS", "000001.SZ"}  # FAIL isolated
    assert len(got) == 6
    assert str(got.dtypes["trade_date"]) == "object" or got.trade_date.notna().all()


def test_with_retry_eventually_succeeds():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise TimeoutError("transient")
        return pd.DataFrame({"x": [1]})

    out = with_retry(flaky, max_retries=3, sleep=lambda s: None)
    assert calls["n"] == 3 and len(out) == 1


def test_with_retry_exhausts():
    def dead():
        raise TimeoutError("always")

    with pytest.raises(TimeoutError):
        with_retry(dead, max_retries=2, sleep=lambda s: None)


def test_paginated_stops_at_start_and_filters():
    full = pd.DataFrame(
        {
            "trade_date": [f"2024-01-{d:02d}" for d in range(31, 0, -1)],
            "close": range(31),
        }
    )

    pages_fetched = []

    def fetch_page(symbol, offset, limit):
        pages_fetched.append(offset)
        return full.iloc[offset : offset + limit]

    fetch = paginated(fetch_page, page_size=10)
    out = fetch("x", "2024-01-18", "2024-01-25")
    assert sorted(out.trade_date) == [f"2024-01-{d:02d}" for d in range(18, 26)]
    assert len(pages_fetched) == 2  # stopped once oldest <= start


def test_python_datasource_reads_and_partitions(spark):
    """Spark 4 Python Data Source: registered format reads the unified
    wide rows, one input partition per symbol batch."""
    from simtradedata_spark.sources.pyds import ProviderDataSource

    spark.dataSource.register(ProviderDataSource)
    df = (
        spark.read.format("simtrade_provider")
        .option("symbols", "600000.SS,000001.SZ,600002.SS")
        .option("start", "2022-03-01")
        .option("end", "2022-03-31")
        .option("batch_size", "1")
        .load()
    )
    pdf = df.toPandas()
    assert set(pdf.symbol) == {"600000.SS", "000001.SZ", "600002.SS"}
    assert len(pdf.columns) == 15
    # weekdays only, inside bounds
    assert pdf.trade_date.min().isoformat() >= "2022-03-01"
    assert pdf.trade_date.max().isoformat() <= "2022-03-31"
    assert (pdf.low <= pdf[["open", "close"]].min(axis=1) + 1e-9).all()
    assert (pdf.high >= pdf[["open", "close"]].max(axis=1) - 1e-9).all()
    # deterministic: a re-read yields identical rows
    pdf2 = (
        spark.read.format("simtrade_provider")
        .option("symbols", "600000.SS,000001.SZ,600002.SS")
        .option("start", "2022-03-01").option("end", "2022-03-31")
        .load().toPandas()
    )
    a = pdf.sort_values(["symbol", "trade_date"]).reset_index(drop=True)
    b = pdf2.sort_values(["symbol", "trade_date"]).reset_index(drop=True)
    assert a.equals(b)


def test_python_datasource_filter_pushdown_prunes(spark):
    """symbol equality prunes fetch partitions; trade_date bounds narrow the
    per-call range — both consumed by pushFilters, so results stay correct
    AND the unselected symbol is never fetched."""
    from simtradedata_spark.sources.pyds import ProviderDataSource

    spark.dataSource.register(ProviderDataSource)
    base = (
        spark.read.format("simtrade_provider")
        .option("symbols", "600000.SS,000001.SZ")
        .option("start", "2022-03-01")
        .option("end", "2022-06-30")
        .option("batch_size", "1")
    )
    got = (
        base.load()
        .filter("symbol = '600000.SS'")
        .filter("trade_date >= date'2022-04-01'")
        .toPandas()
    )
    assert set(got.symbol) == {"600000.SS"}
    assert got.trade_date.min().isoformat() >= "2022-04-01"
    # unpushed rows match the unfiltered read filtered in Spark
    full = base.load().toPandas()
    expect = full[
        (full.symbol == "600000.SS")
        & (full.trade_date.astype(str) >= "2022-04-01")
    ].reset_index(drop=True)
    assert got.reset_index(drop=True).equals(expect)


def test_snapshot_sink_pointer_commit(spark, tmp_path):
    """Python Data Source writer: overwrite publishes a new version and
    atomically repoints _CURRENT; append links the previous version in;
    readers through read_current never see staging state. The versions are
    the snapshot store's own, so listing, time travel and vacuum work on a
    sink-written store."""
    from pyspark.sql import functions as F

    from simtradedata_spark.sources.snapshot_sink import SnapshotDataSource
    from simtradedata_spark.streaming.incremental import (
        list_versions,
        read_current,
        read_version,
        upsert_batch,
        vacuum_versions,
    )

    spark.dataSource.register(SnapshotDataSource)
    target = str(tmp_path / "snap")

    d1 = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d1.write.format("simtrade_snapshot").mode("overwrite").save(target)
    got1 = read_current(spark, target)
    assert got1.count() == 100
    assert {r["v"] for r in got1.filter("id < 3").collect()} == {0, 2, 4}

    # append: new version = previous ∪ new rows
    d2 = spark.range(100, 150).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d2.write.format("simtrade_snapshot").mode("append").save(target)
    got2 = read_current(spark, target)
    assert got2.count() == 150

    # overwrite replaces
    d3 = spark.range(7).select(F.col("id"), F.lit(0).alias("v"))
    d3.write.format("simtrade_snapshot").mode("overwrite").save(target)
    assert read_current(spark, target).count() == 7
    # no staging dirs survive
    import os

    assert not [p for p in os.listdir(target) if p.startswith("_staging")]

    # every sink write is a listed version, in commit order
    assert list_versions(target) == [0, 1, 2]
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(read_version(spark, target, 0)) == rows(d1)
    assert vacuum_versions(target, keep=1) == [0, 1]
    assert list_versions(target) == [2]
    assert read_current(spark, target).count() == 7

    # an append onto a version a streaming fold wrote links only its data
    # files, not Spark's _SUCCESS and .crc side files
    upsert_batch(d1, 3, target, ["id"])
    d2.write.format("simtrade_snapshot").mode("append").save(target)
    assert list_versions(target) == [2, 3, 4]
    assert read_current(spark, target).count() == 150


def test_python_datasource_streams_one_day_per_batch(spark, tmp_path):
    """Streaming face of the provider DataSource: the streamed union over
    all micro-batches equals the batch read of the same range, and the
    recovery path (readBetweenOffsets) regenerates a batch exactly."""
    from simtradedata_spark.sources.pyds import (
        ProviderDataSource,
        ProviderStreamReader,
    )

    spark.dataSource.register(ProviderDataSource)
    opts = {"symbols": "600000.SS,000001.SZ", "start": "2022-03-01", "end": "2022-03-08"}

    q = (
        spark.readStream.format("simtrade_provider")
        .options(**opts)
        .load()
        .writeStream.format("memory")
        .queryName("prov_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT symbol, trade_date, close FROM prov_stream"
        ).collect()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()

    batch = (
        spark.read.format("simtrade_provider").options(**opts).load()
        .select("symbol", "trade_date", "close")
        .collect()
    )
    key = lambda r: (r["symbol"], str(r["trade_date"]))
    assert sorted(map(key, got)) == sorted(map(key, batch))
    assert {key(r): r["close"] for r in got} == {key(r): r["close"] for r in batch}
    # 2022-03-01..03-08 has 6 weekdays; at one day per micro-batch the
    # stream needed at least that many non-empty batches
    assert len({str(r["trade_date"]) for r in got}) == 6

    # crash-recovery replay: rows between two offsets == that day's rows
    r = ProviderStreamReader(opts)
    it, off1 = r.read(r.initialOffset())
    replay = list(r.readBetweenOffsets(r.initialOffset(), off1))
    assert sorted(list(it)) == sorted(replay) and len(replay) == 2
