"""CLI smoke tests — the operational surface the reference exposes via
scripts/download_efficient.py (its own __main__.py is broken, SURVEY §0.1)."""

from simtradedata_spark.__main__ import main


def test_cli_build_smoke(spark, tmp_path):
    root = str(tmp_path / "wh")
    rc = main(
        [
            "build",
            "--root",
            root,
            "--symbols",
            "4",
            "--start",
            "2022-01-03",
            "--end",
            "2022-03-31",
            "--zorder",
        ]
    )
    assert rc == 0
    from simtradedata_spark.sources.tables import Warehouse

    wh = Warehouse(spark, root)
    assert "bars" in wh.tables() and "ticks" in wh.tables()
    assert wh.read("bars").count() > 0
    # the z-ordered build keeps the plain writer's partition grain
    assert wh._on_disk_part_col("bars") == "trade_year"
    assert wh._on_disk_part_col("minute_bars") == "trade_month"


def test_cli_parser_shapes():
    import pytest

    with pytest.raises(SystemExit):
        main([])  # subcommand required
    with pytest.raises(SystemExit):
        main(["build"])  # --root required


def test_cli_maintain_smoke(spark, tmp_path):
    """maintain compacts every warehouse table and vacuums a snapshot
    store in one invocation — the nightly job as a command."""
    from simtradedata_spark.sources.tables import Warehouse
    from simtradedata_spark.streaming.incremental import (
        list_versions,
        upsert_batch,
    )

    root = str(tmp_path / "mwh")
    rc = main(
        ["build", "--root", root, "--symbols", "3",
         "--start", "2022-01-03", "--end", "2022-02-28"]
    )
    assert rc == 0
    store = str(tmp_path / "snap")
    for b in range(3):
        upsert_batch(
            spark.createDataFrame([(1, b)], "k long, v long"), b, store, ["k"]
        )
    rc = main(
        ["maintain", "--root", root, "--vacuum", store, "--keep", "1"]
    )
    assert rc == 0
    assert list_versions(store) == [2]
    wh = Warehouse(spark, root)
    assert wh.read("bars").count() > 0


def test_cli_export_corpus(spark, tmp_path):
    """The corpus-release command: shards + datacard land, the shard
    contents are exactly the funnel's n_sampled set, benchmark excluded."""
    import glob
    import json as _json

    from simtradedata_spark.sources.jsonl import read_jsonl, split_corrupt

    out = str(tmp_path / "release")
    rc = main(
        ["export-corpus", "--sf-dir", "/root/testdata/sf0.001",
         "--out", out, "--shards", "2"]
    )
    assert rc == 0
    card = _json.load(open(f"{out}/_datacard.json"))
    assert card["totals"]["n_sampled"] > 0
    assert "src0" not in card["per_source"]  # benchmark never ships

    shards = glob.glob(f"{out}/shards/part-*.json.gz")
    assert len(shards) == 2
    back, bad = split_corrupt(read_jsonl(spark, f"{out}/shards"))
    assert bad.count() == 0
    assert back.count() == card["totals"]["n_sampled"]
    assert back.filter("source = 'src0'").count() == 0


def _part_snapshot(table_root):
    """(filename, size, mtime_ns) per partition dir — mtime included so an
    in-place rewrite with identical bytes still counts as 'touched'."""
    import os

    out = {}
    for d in sorted(os.listdir(table_root)):
        p = os.path.join(table_root, d)
        if d.startswith("trade_") and os.path.isdir(p):
            out[d] = sorted(
                (f, os.stat(os.path.join(p, f)).st_size,
                 os.stat(os.path.join(p, f)).st_mtime_ns)
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
    return out


def test_cli_ingest_ticks_incremental_fold(spark, tmp_path):
    """ingest-ticks folds a new day's tick batch into minute_bars via
    dynamic partition overwrite: the result equals the flat recompute
    over all ticks, and only the touched trade_month partitions are
    rewritten — a one-day batch leaves every other month's file set
    byte-identical (the write-amplification fix: at the old trade_year
    grain a daily batch rewrote ~365 days of bars)."""
    import os

    from simtradedata_spark.operators.resample import time_bars_from_ticks
    from simtradedata_spark.sources.synthetic import SyntheticMarket
    from simtradedata_spark.sources.tables import Warehouse

    root = str(tmp_path / "wh")
    # warehouse covering 2022-11/12; the first batch lands in 2023-01
    rc = main(["build", "--root", root, "--symbols", "3",
               "--start", "2022-11-01", "--end", "2022-12-30"])
    assert rc == 0
    wh = Warehouse(spark, root)
    mb_root = os.path.join(root, "minute_bars")
    assert sorted(_part_snapshot(mb_root)) == [
        "trade_month=202211", "trade_month=202212"
    ]

    m2 = SyntheticMarket(spark, n_symbols=3, start="2023-01-02", end="2023-01-13")
    batch_dir = str(tmp_path / "batch")
    m2.ticks(n_per_day=40).write.mode("overwrite").parquet(batch_dir)

    rc = main(["ingest-ticks", "--root", root, "--ticks", batch_dir])
    assert rc == 0
    # replay guard: re-running the same batch is a no-op (no double-fold)
    n_ticks_after = spark.read.parquet(os.path.join(root, "ticks")).count()
    rc = main(["ingest-ticks", "--root", root, "--ticks", batch_dir])
    assert rc == 0
    assert spark.read.parquet(os.path.join(root, "ticks")).count() == n_ticks_after
    # crash-heal: same data under a NEW batch id appends nothing (anti-join)
    # and the rebuild converges to the same bars
    rc = main(["ingest-ticks", "--root", root, "--ticks", batch_dir,
               "--batch-id", "retry-after-crash"])
    assert rc == 0
    assert spark.read.parquet(os.path.join(root, "ticks")).count() == n_ticks_after

    # one-DAY batch in a new month: only trade_month=202302 is written;
    # every previously-existing month (incl. 202301, same year) keeps its
    # exact (name, size, mtime) file set
    before = _part_snapshot(mb_root)
    m3 = SyntheticMarket(spark, n_symbols=3, start="2023-02-01", end="2023-02-01")
    day_dir = str(tmp_path / "day_batch")
    m3.ticks(n_per_day=40).write.mode("overwrite").parquet(day_dir)
    rc = main(["ingest-ticks", "--root", root, "--ticks", day_dir])
    assert rc == 0
    after = _part_snapshot(mb_root)
    assert set(after) == set(before) | {"trade_month=202302"}
    for month in before:
        assert after[month] == before[month], f"{month} was rewritten"

    got = wh.read("minute_bars").drop("open_ord", "close_ord", "money_e4")
    all_ticks = wh.read("ticks")
    flat = time_bars_from_ticks(all_ticks, minutes=1)
    assert got.exceptAll(flat).count() == 0
    assert flat.exceptAll(got).count() == 0


def test_cli_ingest_ticks_empty_batch_noop(spark, tmp_path):
    """A batch dir with no data files (or only empty files) is a clean
    no-op, not an opaque crash on int('None')."""
    import os

    root = str(tmp_path / "wh")
    rc = main(["build", "--root", root, "--symbols", "2",
               "--start", "2022-11-01", "--end", "2022-12-30"])
    assert rc == 0
    before = _part_snapshot(os.path.join(root, "minute_bars"))

    empty = tmp_path / "empty_batch"
    empty.mkdir()
    assert main(["ingest-ticks", "--root", root, "--ticks", str(empty)]) == 0

    # schema-only batch: parquet metadata, zero rows
    zero_dir = str(tmp_path / "zero_batch")
    spark.read.parquet(os.path.join(root, "ticks")).limit(0).write.parquet(zero_dir)
    assert main(["ingest-ticks", "--root", root, "--ticks", zero_dir]) == 0
    assert _part_snapshot(os.path.join(root, "minute_bars")) == before


def test_cli_stream_ticks_equals_batch_ingest(spark, tmp_path):
    """stream-ticks (Structured Streaming fold with the checkpointed
    replay guard) and ingest-ticks (batch rebuild CLI) land IDENTICAL
    minute bars from the same tick batch — the stream ≡ batch contract at
    the operational-CLI level, not just the operator level."""
    import os

    from simtradedata_spark.sources.synthetic import SyntheticMarket
    from simtradedata_spark.sources.tables import Warehouse
    from simtradedata_spark.streaming.incremental import read_current

    m = SyntheticMarket(spark, n_symbols=3, start="2023-01-02", end="2023-01-06")
    batch_dir = str(tmp_path / "ticks")
    m.ticks(n_per_day=40).write.mode("overwrite").parquet(batch_dir)

    batch_root = str(tmp_path / "wh_batch")
    assert main(["ingest-ticks", "--root", batch_root, "--ticks", batch_dir]) == 0
    stream_root = str(tmp_path / "wh_stream")
    assert main(["stream-ticks", "--root", stream_root, "--ticks", batch_dir]) == 0

    batch_bars = Warehouse(spark, batch_root).read("minute_bars")
    stream_bars = read_current(
        spark, os.path.join(stream_root, "minute_bars_stream")
    )
    assert stream_bars is not None
    cols = sorted(batch_bars.columns)
    assert cols == sorted(stream_bars.columns)
    b, s = batch_bars.select(*cols), stream_bars.select(*cols)
    assert b.exceptAll(s).count() == 0
    assert s.exceptAll(b).count() == 0

    # exactly-once on re-run: the checkpoint replays nothing, state unchanged
    n = s.count()
    assert main(["stream-ticks", "--root", stream_root, "--ticks", batch_dir]) == 0
    again = read_current(
        spark, os.path.join(stream_root, "minute_bars_stream")
    ).select(*cols)
    assert again.count() == n
    assert again.exceptAll(b).count() == 0


def test_cli_ingest_vectors_exactly_once(spark, tmp_path):
    """ingest-vectors: first batch bootstraps the index (trains the
    quantizer), the second folds under the pinned centroids, a replayed
    batch is a no-op, and the refreshed index serves probes over the
    union."""
    import json
    import os

    from simtradedata_spark.catalog import load_table
    from simtradedata_spark.operators.similarity import ivf_probe_persisted

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b1_dir, b2_dir = str(tmp_path / "b1"), str(tmp_path / "b2")
    emb.filter("vec_id % 3 != 0").write.parquet(b1_dir)
    emb.filter("vec_id % 3 = 0").write.parquet(b2_dir)
    idx = str(tmp_path / "ivf")

    assert main(["ingest-vectors", "--index", idx, "--vectors", b1_dir,
                 "--n-lists", "8"]) == 0
    cent_after_boot = json.load(open(os.path.join(idx, "centroids.json")))

    assert main(["ingest-vectors", "--index", idx, "--vectors", b2_dir]) == 0
    # append pinned the quantizer — centroids unchanged
    assert json.load(open(os.path.join(idx, "centroids.json"))) == cent_after_boot
    # replay guard: same batch dir again is a no-op (log has 2 ids)
    assert main(["ingest-vectors", "--index", idx, "--vectors", b2_dir]) == 0
    assert len(open(os.path.join(idx, "_ingest_log")).read().split()) == 2

    n = emb.count()
    ids = {
        r["neighbor_id"]
        for r in ivf_probe_persisted(
            spark, idx, emb.filter("vec_id < 3"), k=3, n_probe=8
        ).collect()
    }
    assert ids  # probes see the union
    got = spark.read.parquet(os.path.join(idx, "vectors"))
    assert got.count() == n
    assert got.select("vec_id").distinct().count() == n
