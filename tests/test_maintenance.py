"""Operational maintenance surfaces: small-file compaction (Warehouse) and
snapshot-store retention (vacuum_versions) — the jobs a 100 TB deployment
schedules nightly."""

import os

from pyspark.sql import functions as F

from simtradedata_spark.sources.tables import Warehouse
from simtradedata_spark.streaming.incremental import (
    list_versions,
    read_current,
    read_version,
    upsert_batch,
    vacuum_versions,
)


def _parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def test_compact_merges_small_files_preserving_data(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(2000).select(
        F.concat(F.lit("S"), (F.col("id") % 7).cast("string")).alias("symbol"),
        F.date_add(F.lit("2022-01-01").cast("date"), (F.col("id") % 600).cast("int")).alias(
            "trade_date"
        ),
        (F.col("id") * 1.5).alias("close"),
        F.col("id"),
    )
    # simulate incremental ingest debris: 12 append batches → 12 tiny
    # files per year partition
    wh.write("bars", df.filter(F.col("id") % 12 == 0))
    for i in range(1, 12):
        wh.write("bars", df.filter(F.col("id") % 12 == i), mode="append")
    before = wh.read("bars").orderBy("id").collect()
    n_before = len(_parquet_files(wh.path("bars")))
    assert n_before >= 20

    stats = wh.compact("bars", target_file_bytes=128 << 20)
    n_after = len(_parquet_files(wh.path("bars")))
    assert stats["partitions_rewritten"] >= 1
    assert n_after < n_before
    # one file per year partition at this size
    years = [d for d in os.listdir(wh.path("bars")) if d.startswith("trade_year=")]
    assert n_after == len(years)
    # data identical, partition column intact, pruned reads still work
    assert wh.read("bars").orderBy("id").collect() == before
    pruned = wh.read_range("bars", "2022-01-01", "2022-12-31")
    assert pruned.select(F.min("trade_date"), F.max("trade_date")).first()[1].year == 2022

    # idempotent: second run rewrites nothing
    again = wh.compact("bars", target_file_bytes=128 << 20)
    assert again["partitions_rewritten"] == 0
    assert again["files_after"] == again["files_before"]


def test_compact_unpartitioned_table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    dim = spark.range(500).select(F.col("id"), (F.col("id") % 3).alias("grp"))
    wh.write("stock_metadata", dim.repartition(16))
    assert len(_parquet_files(wh.path("stock_metadata"))) >= 16
    wh.compact("stock_metadata")
    assert len(_parquet_files(wh.path("stock_metadata"))) == 1
    assert wh.read("stock_metadata").count() == 500


def test_vacuum_keeps_current_and_horizon(spark, tmp_path):
    tgt = str(tmp_path / "snap")
    for b in range(4):
        batch = spark.createDataFrame(
            [(1, f"v{b}"), (b + 10, "x")], "k long, payload string"
        )
        upsert_batch(batch, b, tgt, keys=["k"])
    assert list_versions(tgt) == [0, 1, 2, 3]
    # two staging dirs: one orphaned (old mtime), one from a LIVE writer
    orphan = os.path.join(tgt, "_staging-deadbeef")
    live = os.path.join(tgt, "_staging-live")
    os.makedirs(orphan)
    os.makedirs(live)
    os.utime(orphan, (1, 1))  # ancient mtime → orphaned

    removed = vacuum_versions(tgt, keep=2)
    assert removed == [0, 1]
    assert list_versions(tgt) == [2, 3]
    # the orphan is swept; the live writer's staging survives
    assert not os.path.isdir(orphan)
    assert os.path.isdir(live)
    # the published table is untouched
    cur = read_current(spark, tgt)
    assert {r["payload"] for r in cur.filter("k = 1").collect()} == {"v3"}
    # time travel still works within the retained horizon
    assert read_version(spark, tgt, 2).filter("k = 1").first()["payload"] == "v2"


def test_snapshot_diff_change_feed(spark, tmp_path):
    """CDF between two committed versions: inserts/updates classified,
    unchanged keys absent, null fields compare as values."""
    from simtradedata_spark.streaming.incremental import snapshot_diff

    tgt = str(tmp_path / "cdf")
    b0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    upsert_batch(b0, 0, tgt, keys=["k"])
    b1 = spark.createDataFrame(
        [(2, "b", None), (3, "c2", 30.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    upsert_batch(b1, 1, tgt, keys=["k"])

    diff = {r["k"]: r for r in snapshot_diff(spark, tgt, 0, 1, ["k"]).collect()}
    # 1 unchanged (carried forward by the merge), 2 unchanged incl. null v,
    # 3 updated, 4 inserted
    assert set(diff) == {3, 4}
    assert diff[3]["_change_type"] == "update" and diff[3]["name"] == "c2"
    assert diff[4]["_change_type"] == "insert" and diff[4]["v"] == 40.0

    # delete surfaces when a version drops a key (a delete-capable writer)
    from simtradedata_spark.streaming.incremental import _publish_version

    _publish_version(
        spark.createDataFrame([(3, "c2", 30.0)], b0.schema), tgt, 2
    )
    d2 = {r["k"]: r for r in snapshot_diff(spark, tgt, 1, 2, ["k"]).collect()}
    assert {k for k, r in d2.items() if r["_change_type"] == "delete"} == {1, 2, 4}
    assert d2[1]["name"] == "a"  # delete carries the FROM-side values


def test_streaming_upsert_restart_resumes_from_checkpoint(spark, tmp_path):
    """Crash/restart exactly-once: a restarted streaming_upsert with the
    same checkpoint resumes from committed offsets — already-folded files
    are not re-read, batch ids continue, and the final table equals the
    batch ground truth."""
    import time

    from simtradedata_spark.streaming.incremental import streaming_upsert

    src = str(tmp_path / "ck_src")
    tgt = str(tmp_path / "ck_tgt")
    ckpt = str(tmp_path / "ck_ckpt")
    schema = "k long, v string"
    spark.createDataFrame([(1, "a0"), (2, "b0")], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(2, "b1"), (3, "c0")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    q = streaming_upsert(
        spark, src, schema, tgt, keys=["k"], checkpoint=ckpt, query_name="ck1"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    v_first = list_versions(tgt)
    assert len(v_first) >= 1
    # "crash": the query is gone; new files land while it is down
    time.sleep(1.1)
    spark.createDataFrame([(1, "a2"), (4, "d0")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    q2 = streaming_upsert(
        spark, src, schema, tgt, keys=["k"], checkpoint=ckpt, query_name="ck2"
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    v_all = list_versions(tgt)
    # restart CONTINUED the batch id sequence: exactly one more version,
    # strictly greater id — no replays of folded batches
    assert len(v_all) == len(v_first) + 1
    assert v_all[-1] > v_first[-1]
    got = {
        r["k"]: r["v"] for r in read_current(spark, tgt).collect()
    }
    assert got == {1: "a2", 2: "b1", 3: "c0", 4: "d0"}


def test_warehouse_schema_evolution_additive_column(spark, tmp_path):
    """A later ingest batch adds a column: merge_schema=True surfaces it
    table-wide with nulls for pre-evolution rows; the default read keeps
    working; compaction preserves the evolved schema per partition."""
    wh = Warehouse(spark, str(tmp_path / "evo"))
    v1 = spark.createDataFrame(
        [("S1", "2022-03-01", 10.0), ("S2", "2022-03-01", 11.0)],
        "symbol string, trade_date string, close double",
    ).withColumn("trade_date", F.col("trade_date").cast("date"))
    wh.write("bars", v1)
    # ingest evolves: a vendor adds turnover_rate
    v2 = spark.createDataFrame(
        [("S1", "2023-03-01", 12.0, 0.5)],
        "symbol string, trade_date string, close double, turnover_rate double",
    ).withColumn("trade_date", F.col("trade_date").cast("date"))
    wh.write("bars", v2, mode="append")

    merged = wh.read("bars", merge_schema=True)
    assert "turnover_rate" in merged.columns
    got = {r["symbol"]: r["turnover_rate"] for r in merged.collect()}
    assert got["S2"] is None and got["S1"] in (None, 0.5)
    assert merged.filter("turnover_rate = 0.5").count() == 1
    # date-pruned reads see the evolved column only where it exists
    y2023 = wh.read_range("bars", "2023-01-01", "2023-12-31")
    assert y2023.count() == 1


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """Compacting a partition whose files straddle a schema evolution keeps
    the union schema (mergeSchema read), not one random footer."""
    wh = Warehouse(spark, str(tmp_path / "evo2"))
    v1 = spark.createDataFrame(
        [("S1", "2022-03-01", 10.0)],
        "symbol string, trade_date string, close double",
    ).withColumn("trade_date", F.col("trade_date").cast("date"))
    wh.write("bars", v1)
    v2 = spark.createDataFrame(
        [("S2", "2022-06-01", 12.0, 0.5)],
        "symbol string, trade_date string, close double, turnover_rate double",
    ).withColumn("trade_date", F.col("trade_date").cast("date"))
    wh.write("bars", v2, mode="append")  # same trade_year partition

    stats = wh.compact("bars", target_file_bytes=128 << 20)
    assert stats["partitions_rewritten"] == 1
    out = wh.read("bars")
    assert "turnover_rate" in out.columns
    got = {r["symbol"]: r["turnover_rate"] for r in out.collect()}
    assert got == {"S1": None, "S2": 0.5}


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """CDF crosses an additive schema evolution: the new column classifies
    as an update where it gained a value, null-for-null stays unchanged."""
    from simtradedata_spark.streaming.incremental import (
        _publish_version,
        snapshot_diff,
    )

    tgt = str(tmp_path / "cdf_evo")
    _publish_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"),
        tgt,
        0,
    )
    _publish_version(
        spark.createDataFrame(
            [(1, "a", 0.5), (2, "b", None), (3, "c", 1.0)],
            "k long, name string, turnover double",
        ),
        tgt,
        1,
    )
    diff = {r["k"]: r for r in snapshot_diff(spark, tgt, 0, 1, ["k"]).collect()}
    # 1 gains a value in the new column → update; 2 is null-for-null →
    # unchanged; 3 → insert
    assert set(diff) == {1, 3}
    assert diff[1]["_change_type"] == "update" and diff[1]["turnover"] == 0.5
    assert diff[3]["_change_type"] == "insert"


def _interrupted_swap_recovers(wh, table, df, op):
    """A crash between the two swap renames leaves the finished staging dir
    and no live dir; the next run of ``op`` (compact or regrain, the two
    users of the swap) finishes the swap instead of losing the table."""
    import shutil

    wh.write(table, df)
    root = wh.path(table)
    # simulate the crash window: live dir renamed away (to trash), staging
    # fully written but not yet swapped in
    staging = os.path.join(os.path.dirname(root), f".{table}.{op}-tmp")
    trash = os.path.join(os.path.dirname(root), f".{table}.{op}-trash")
    shutil.copytree(root, staging)
    os.rename(root, trash)
    assert not wh.exists(table)

    getattr(wh, op)(table)
    assert wh.read(table).count() == df.count()
    assert not os.path.isdir(staging) and not os.path.isdir(trash)


def test_compact_crash_recovery_finishes_interrupted_swap(spark, tmp_path):
    dim = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("grp"))
    wh = Warehouse(spark, str(tmp_path / "crash"))
    _interrupted_swap_recovers(wh, "stock_metadata", dim, "compact")


def test_regrain_crash_recovery_finishes_interrupted_swap(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "crash"))
    df = _intraday(spark, ("2022-01-03", "2022-02-20"))
    _interrupted_swap_recovers(wh, "minute_bars", df, "regrain")
    assert wh._on_disk_part_col("minute_bars") == "trade_month"


def test_streaming_rollup_restart_replay_guard(spark, tmp_path):
    """Restarted streaming_rollup with the same checkpoint must not
    double-fold already-committed batches (a FOLD, unlike a key-merge,
    would double-count on replay); final rollup equals the batch ground
    truth over all files."""
    import datetime
    import time

    from simtradedata_spark.operators.hypertable import rollup_read
    from simtradedata_spark.streaming.incremental import streaming_rollup

    src = str(tmp_path / "r_src")
    tgt = str(tmp_path / "r_tgt")
    ckpt = str(tmp_path / "r_ckpt")
    schema = "k string, ts timestamp, v double"
    t0 = datetime.datetime(2024, 1, 2, 9, 0)
    mk = lambda rows: spark.createDataFrame(rows, schema)
    mk([("a", t0, 1.0), ("a", t0 + datetime.timedelta(minutes=5), 2.0)]).coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    q = streaming_rollup(
        spark, src, schema, tgt, ["k"], "ts", "v", checkpoint=ckpt,
        query_name="r1",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    time.sleep(1.1)
    mk([("a", t0 + datetime.timedelta(hours=1), 10.0), ("b", t0, 5.0)]).coalesce(
        1
    ).write.mode("append").parquet(src)
    q2 = streaming_rollup(
        spark, src, schema, tgt, ["k"], "ts", "v", checkpoint=ckpt,
        query_name="r2",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        (r["k"], r["bucket"].hour): (r["n"], r["total"])
        for r in rollup_read(read_current(spark, tgt)).collect()
    }
    # hour 9: a has rows 1+2 (first run only — no double-fold), b has 5
    assert got[("a", 9)] == (2, 3.0)
    assert got[("a", 10)] == (1, 10.0)
    assert got[("b", 9)] == (1, 5.0)


def test_streaming_enrichment_sees_dim_version_swap(spark, tmp_path):
    """Stream-static enrichment against the versioned snapshot store:
    foreachBatch resolves _CURRENT per micro-batch, so a dimension publish
    mid-stream changes enrichment for subsequent batches only — the
    broadcast-state pattern on the pointer-commit store."""
    import time

    from simtradedata_spark.streaming.incremental import _publish_version

    dim = str(tmp_path / "dim")
    src = str(tmp_path / "e_src")
    _publish_version(
        spark.createDataFrame([("S1", "tech")], "symbol string, sector string"),
        dim,
        0,
    )
    schema = "symbol string, qty long"
    spark.createDataFrame([("S1", 10)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    out = []

    def enrich(batch_df, bid):
        d = read_current(spark, dim)
        rows = (
            batch_df.join(d, "symbol", "left")
            .select("symbol", "qty", "sector")
            .collect()
        )
        out.extend((r["symbol"], r["qty"], r["sector"]) for r in rows)

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = stream.writeStream.foreachBatch(enrich).queryName("enrich").start()
    try:
        q.processAllAvailable()
        # dimension evolves mid-stream: sector reclassified
        _publish_version(
            spark.createDataFrame(
                [("S1", "fintech")], "symbol string, sector string"
            ),
            dim,
            1,
        )
        time.sleep(1.1)
        spark.createDataFrame([("S1", 20)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    assert ("S1", 10, "tech") in out       # pre-swap batch used v0
    assert ("S1", 20, "fintech") in out    # post-swap batch used v1


def test_compact_multilevel_partitions(spark, tmp_path):
    """compact() must recurse to LEAF partition dirs: a table partitioned
    by (exchange, trade_year) nests key=value dirs two deep, and the old
    first-level scan silently reported files_before=0 (r3 advisor
    finding)."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    df = spark.range(400).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'SS' ELSE 'SZ' END AS exchange",
        "2022 + CAST(id % 2 AS INT) AS trade_year",
        "CAST(id AS STRING) AS symbol",
        "CAST(date_add('2022-01-01', CAST(id % 300 AS INT)) AS DATE) AS trade_date",
        "id * 1.0 AS close",
    )
    # many small files per leaf partition, two-level layout
    (
        df.repartition(8)
        .write.mode("overwrite")
        .partitionBy("exchange", "trade_year")
        .parquet(os.path.join(root, "ml"))
    )
    # materialize BEFORE compacting — the lazy plan pins old file names
    before_rows = sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "ml")).collect())
    )
    stats = wh.compact("ml", target_file_bytes=1 << 30)
    assert stats["files_before"] > 4  # leaves were actually scanned
    assert stats["partitions_rewritten"] >= 1
    assert stats["files_after"] < stats["files_before"]
    after_rows = sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "ml")).collect())
    )
    assert after_rows == before_rows


def test_streaming_minute_rollup_restart_equals_flat(spark, market, tmp_path):
    """Tick feed → folded minute-bar state across a crash/restart: the
    replay guard skips committed batches and the final bars equal the
    flat recompute over every tick, exactly."""
    import time

    from simtradedata_spark.operators.resample import time_bars_from_ticks
    from simtradedata_spark.streaming.incremental import (
        read_current,
        streaming_minute_rollup,
    )

    ticks = (
        market.ticks(n_per_day=40)
        .filter(F.col("trade_date") <= "2022-01-20")
        .localCheckpoint()
    )
    src = str(tmp_path / "tick_src")
    tgt = str(tmp_path / "tick_bars")
    ckpt = str(tmp_path / "tick_ckpt")
    schema = ticks.schema
    ticks.filter(F.col("seq") <= 15).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    ticks.filter((F.col("seq") > 15) & (F.col("seq") <= 27)).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    q = streaming_minute_rollup(
        spark, src, schema, tgt, minutes=30, checkpoint=ckpt, query_name="mb1"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # crash: late ticks land while the query is down
    time.sleep(1.1)
    ticks.filter(F.col("seq") > 27).coalesce(1).write.mode("append").parquet(src)
    q2 = streaming_minute_rollup(
        spark, src, schema, tgt, minutes=30, checkpoint=ckpt, query_name="mb2"
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = read_current(spark, tgt).drop("open_ord", "close_ord", "money_e4")
    flat = time_bars_from_ticks(ticks, minutes=30)
    assert got.exceptAll(flat).count() == 0
    assert flat.exceptAll(got).count() == 0


def _intraday(spark, months=("2022-01-03", "2022-03-28")):
    return (
        spark.range(6)
        .select(F.concat(F.lit("S"), F.col("id").cast("string")).alias("symbol"))
        .crossJoin(
            spark.sql(
                f"SELECT explode(sequence(date'{months[0]}', date'{months[1]}'))"
                " AS trade_date"
            )
        )
        .withColumn(
            "close", F.xxhash64("symbol", "trade_date").cast("double") / 1e18
        )
    )


def test_grain_guard_refuses_mixed_layout_and_regrain_migrates(spark, tmp_path):
    """A warehouse whose minute_bars predates the month-grain move (on-disk
    trade_year= dirs) must REFUSE an append/dynamic write — landing
    trade_month= dirs beside trade_year= ones breaks partition discovery —
    and regrain() must migrate it in place, after which the same write
    succeeds. Full overwrites replace the dir wholesale, so they stay
    un-guarded."""
    import pytest

    wh = Warehouse(spark, str(tmp_path))
    df = _intraday(spark)
    # simulate the pre-upgrade layout: year-grain minute_bars on disk
    df.withColumn("trade_year", F.year("trade_date")).write.partitionBy(
        "trade_year"
    ).parquet(wh.path("minute_bars"))
    assert wh._on_disk_part_col("minute_bars") == "trade_year"

    feb = df.filter(F.month("trade_date") == 2)
    with pytest.raises(ValueError, match="regrain"):
        wh.write("minute_bars", feb, dynamic=True)
    with pytest.raises(ValueError, match="regrain"):
        wh.write("minute_bars", feb, mode="append")

    r = wh.regrain("minute_bars")
    assert r["regrained"] and r["grain"] == "trade_month"
    assert wh._on_disk_part_col("minute_bars") == "trade_month"
    assert wh.read("minute_bars").count() == df.count()
    # idempotent second run is a no-op
    assert wh.regrain("minute_bars")["regrained"] is False
    # the previously refused dynamic write now lands cleanly
    wh.write("minute_bars", feb, dynamic=True)
    assert wh.read("minute_bars").count() == df.count()
    # staging/trash fully cleaned up
    leftovers = [d for d in os.listdir(str(tmp_path)) if "regrain" in d]
    assert leftovers == []


def test_cli_maintain_regrain(spark, tmp_path):
    from simtradedata_spark.__main__ import main

    wh = Warehouse(spark, str(tmp_path))
    df = _intraday(spark, ("2022-01-03", "2022-01-20"))
    df.withColumn("trade_year", F.year("trade_date")).write.partitionBy(
        "trade_year"
    ).parquet(wh.path("minute_bars"))
    rc = main(
        ["maintain", "--root", str(tmp_path), "--tables", "minute_bars",
         "--regrain", "minute_bars"]
    )
    assert rc == 0
    assert wh._on_disk_part_col("minute_bars") == "trade_month"
    assert wh.read("minute_bars").count() == df.count()
