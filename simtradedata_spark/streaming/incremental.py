"""Incremental / streaming ingest — operators N1-N4 (SURVEY §2.10).

The reference's incremental semantics (``download_efficient.py:204-230,
277-285,464-474``): re-pull the last N days for EXISTING symbols, then
upsert-merge with last-writer-wins (J4, ``:330-331,356-358``); resume skips
symbols already present (N2, ``h5_writer.py:466-509``).

Without a Delta/Iceberg jar in this image, MERGE is emulated with the
standard anti-join + union + window-dedup plan — identical semantics, one
shuffle on the merge key. ``streaming_window_counts`` shows the same
tumbling-window aggregation the batch query ``hourly_event_stats`` runs,
executed as a Structured Streaming query with a watermark (late rows beyond
the watermark are dropped, N4); ``streaming_dedup`` suppresses at-least-once
redeliveries with watermark-bounded state (``dropDuplicatesWithinWatermark``).

Snapshot store (shared with the ``simtrade_snapshot`` sink): one
``v%012d`` directory per committed version plus a ``_CURRENT`` file naming
the published one. A commit writes a NEW version directory, then atomically
replaces ``_CURRENT``; readers resolve the pointer first, so they never see
a half-written version, and older versions stay readable until
``vacuum_versions`` drops them. Streaming folds number versions by batch id;
the sink takes the next free number.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from simtradedata_spark.operators.dedup import keep_last


def _file_stream(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """The parquet file stream every streaming operator reads: one file per
    micro-batch, so a directory of batch files replays as that many."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(source_dir)
    )


def _to_memory(df: DataFrame, query_name: str, mode: str = "append"):
    """Start ``df`` into the memory sink table ``query_name``; callers read
    it with ``processAllAvailable()`` + ``spark.sql``."""
    return (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )


def incremental_merge(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
) -> DataFrame:
    """Upsert: rows from ``updates`` win over ``existing`` on key collision
    (J4 last-writer-wins). ``order_by`` breaks ties WITHIN updates; across
    the two sides a source tag guarantees updates-win regardless of values —
    the deterministic tie-break the reference got implicitly from sequential
    execution (SURVEY §7 watch-list item 7)."""
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    order = [F.col("__src")] + (order_by or [])
    return keep_last(tagged, keys, order).drop("__src")


def incremental_refresh(
    existing: DataFrame,
    fetch_window: DataFrame,
    keys: list[str],
    symbol_col: str = "symbol",
) -> DataFrame:
    """N1+N2: restrict the refetched window to symbols already present
    (left_semi against existing — the reference's ``existing_stocks`` check),
    then merge."""
    known = existing.select(symbol_col).distinct()
    updates = fetch_window.join(known, symbol_col, "left_semi")
    return incremental_merge(existing, updates, keys)


def streaming_window_counts(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "stream_counts",
):
    """Tumbling-window event counts over a file stream (N3 cadence model):
    readStream → watermark → window agg → memory sink."""
    agg = (
        _file_stream(spark, source_dir, schema)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _to_memory(agg, query_name)


def session_agg(df, gap: str = "30 minutes"):
    """Native session-window aggregation (gap-based, per user): the
    engine-managed form of the batch lag-gap sessionization in
    queries.py::q_sessionize_users. Works on batch AND streaming frames —
    the stream ≡ batch parity test drives both through this one function.
    At scale the state store holds one open session per active user,
    closed by the watermark."""
    return (
        df.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_session_counts(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    query_name: str = "stream_sessions",
):
    """Streaming form of ``session_agg``: readStream → watermark → session
    window → memory sink (append emits sessions closed by the watermark)."""
    stream = _file_stream(spark, source_dir, schema).withWatermark("ts", watermark)
    return _to_memory(session_agg(stream, gap), query_name)


def minute_bar_agg(ticks, window: str = "1 minute", watermark: str = "2 minutes"):
    """W4 over a tick stream (the minute/3-second modes the PTrade spec
    declares, ``PTrade_API_mini_Reference.md:521-694``, which the reference
    never implements): tumbling-window OHLCV synthesis with a watermark for
    late trades. open/close are event-time ``min_by``/``max_by`` — exact
    under any arrival order, unlike first/last. Works identically on a batch
    frame (tested: stream ≡ batch on closed windows)."""
    return (
        ticks.withWatermark("ts", watermark)
        .groupBy("symbol", F.window("ts", window).alias("w"))
        .agg(
            F.min_by("price", "ts").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", "ts").alias("close"),
            F.sum("qty").alias("volume"),
            F.sum(F.col("price") * F.col("qty")).alias("money"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "symbol", F.col("w.start").alias("minute_start"),
            "open", "high", "low", "close", "volume", "money", "n_ticks",
        )
    )


def streaming_minute_bars(
    spark: SparkSession,
    source_dir: str,
    schema,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    query_name: str = "stream_bars",
):
    """minute_bar_agg over a file tick stream → memory sink (same harness
    shape as streaming_window_counts)."""
    bars = minute_bar_agg(_file_stream(spark, source_dir, schema), window, watermark)
    return _to_memory(bars, query_name)


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    schema,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
    query_name: str = "stream_dedup",
):
    """N4 duplicate-delivery suppression: at-least-once sources redeliver
    rows; keep the FIRST arrival per key. ``dropDuplicatesWithinWatermark``
    bounds the dedup state by the watermark (keys older than it are evicted),
    unlike plain ``dropDuplicates`` on a stream whose state grows forever —
    the only posture that survives an unbounded 100 TB/day feed."""
    stream = _file_stream(spark, source_dir, schema).withWatermark(ts_col, watermark)
    return _to_memory(stream.dropDuplicatesWithinWatermark(keys), query_name)


# ---------------------------------------------------------------------------
# N1 streaming form: foreachBatch upsert into a versioned snapshot store
# ---------------------------------------------------------------------------

def _version_dir(target: str, n: int) -> str:
    """The directory of snapshot version ``n`` — the one place a version
    is named."""
    return os.path.join(target, f"v{n:012d}")


def _repoint(target: str, n: int) -> None:
    """Publish version ``n``: atomically replace ``_CURRENT`` (the commit)."""
    ptr = os.path.join(target, "_CURRENT")
    with open(ptr + ".tmp", "w") as fh:
        fh.write(os.path.basename(_version_dir(target, n)))
    os.replace(ptr + ".tmp", ptr)


def _committed_batch(target: str) -> int:
    """The version ``_CURRENT`` points to (for the streaming folds, the
    highest batch id already folded in), or -1 before the first commit."""
    ptr = os.path.join(target, "_CURRENT")
    if not os.path.exists(ptr):
        return -1
    with open(ptr) as fh:
        return int(fh.read().strip().lstrip("v"))


def _publish_version(df: DataFrame, target: str, batch_id: int) -> None:
    """Write ``df`` as version ``batch_id`` and repoint ``_CURRENT`` to it."""
    df.write.mode("overwrite").parquet(_version_dir(target, batch_id))
    _repoint(target, batch_id)


def read_current(spark: SparkSession, target: str) -> DataFrame | None:
    """Resolve the _CURRENT pointer and read that snapshot version (None
    before the first commit)."""
    n = _committed_batch(target)
    return spark.read.parquet(_version_dir(target, n)) if n >= 0 else None


def list_versions(target: str) -> list[int]:
    """Committed snapshot versions, oldest first (the minimal transaction
    log the pointer-commit protocol accumulates — every publish keeps its
    version directory)."""
    if not os.path.isdir(target):
        return []
    return sorted(
        int(d.lstrip("v"))
        for d in os.listdir(target)
        if d.startswith("v") and d.lstrip("v").isdigit()
    )


def snapshot_diff(
    spark: SparkSession,
    target: str,
    from_batch: int,
    to_batch: int,
    keys: list[str],
) -> DataFrame:
    """Change data feed between two committed snapshot versions — what a
    downstream consumer replays instead of re-reading the whole table
    (Delta CDF's table_changes analog on the pointer-commit store). Emits
    one row per changed key with ``_change_type`` ∈ insert/update/delete
    and the TO-side values (FROM-side values for deletes).

    Plan: one full-outer join on the keys; change classification is a
    null-pattern projection. Both sides are snapshot reads, so the diff
    prunes columns/partitions like any other scan. Cost is O(|v_from| +
    |v_to|) — at 100 TB run it on key + a hash of the compared columns, or
    pair with partition pruning, rather than diffing every column of every
    row."""
    old = read_version(spark, target, from_batch)
    new = read_version(spark, target, to_batch)
    # Union of both sides' columns so the diff crosses additive schema
    # evolutions: a column present on only one side reads as null on the
    # other (and therefore classifies a value in it as an update).
    vals = [c for c in new.columns if c not in keys] + [
        c for c in old.columns if c not in keys and c not in new.columns
    ]

    def _side(df):
        return F.struct(
            *[
                (F.col(c) if c in df.columns else F.lit(None)).alias(c)
                for c in vals
            ]
        )

    o = old.select(*keys, _side(old).alias("__old")).alias("o")
    n = new.select(*keys, _side(new).alias("__new")).alias("n")
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(F.col("__old") != F.col("__new"), F.lit("update"))
    )
    payload = F.coalesce(F.col("__new"), F.col("__old"))
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(
            *keys,
            *[payload.getField(c).alias(c) for c in vals],
            "_change_type",
        )
    )


def vacuum_versions(
    target: str, keep: int = 2, staging_ttl_s: float = 24 * 3600
) -> list[int]:
    """Retention for the versioned snapshot store: delete committed version
    directories older than the newest ``keep``, NEVER the one ``_CURRENT``
    points to, and sweep ORPHANED ``_staging-*`` dirs from crashed writers.
    Orphaned means older than ``staging_ttl_s`` by mtime — a staging dir
    younger than the TTL may belong to a LIVE in-flight snapshot_sink
    write, and sweeping it mid-write would fail the batch. Shrinks the
    time-travel horizon to the retained versions (the Delta VACUUM
    trade-off, stated rather than hidden). Returns removed ids."""
    import shutil
    import time

    versions = list_versions(target)
    current = _committed_batch(target)
    # keep <= 0 means "only what _CURRENT needs" — versions[-0:] would be
    # the WHOLE list (retaining everything, the opposite of aggressive).
    horizon = set(versions[-keep:]) if keep > 0 else set()
    retained = horizon | ({current} if current >= 0 else set())
    removed = []
    for v in versions:
        if v not in retained:
            shutil.rmtree(_version_dir(target, v))
            removed.append(v)
    now = time.time()
    for d in os.listdir(target) if os.path.isdir(target) else []:
        p = os.path.join(target, d)
        if d.startswith("_staging-") and now - os.path.getmtime(p) > staging_ttl_s:
            shutil.rmtree(p)
    return removed


def read_version(spark: SparkSession, target: str, batch_id: int) -> DataFrame:
    """Time-travel read: the snapshot AS OF a committed batch id — the
    store-level dual of the SCD2 ``at_time`` row-level slice. Reads the
    greatest committed version ≤ ``batch_id`` (the state that batch saw
    published), so replayed/skipped ids resolve like timestamps, not exact
    keys."""
    versions = [v for v in list_versions(target) if v <= batch_id]
    if not versions:
        raise ValueError(f"no committed version <= {batch_id} in {target}")
    return spark.read.parquet(_version_dir(target, versions[-1]))


def _fold(batch_df: DataFrame, batch_id: int, target: str, first, merge) -> None:
    """One micro-batch commit: ``first(batch)`` before the first commit,
    else ``merge(current, batch)``, published as version ``batch_id`` — the
    commit shape Delta's MERGE performs with file-level transactions; a
    failed batch leaves the pointer (and thus the table) intact.

    A batch id at or below the committed pointer is skipped: the standard
    foreachBatch exactly-once guard. Spark replays a failed batch with the
    SAME id and the pointer only advances after a durable publish, so a
    fold (rollups, OHLC bars) never double-counts; an upsert's key merge is
    idempotent anyway."""
    if batch_id <= _committed_batch(target):
        return
    current = read_current(batch_df.sparkSession, target)
    state = first(batch_df) if current is None else merge(current, batch_df)
    _publish_version(state, target, batch_id)


def _fold_stream(
    spark, source_dir: str, schema, query_name: str, checkpoint, fold,
    available_now: bool = False,
):
    """Start the file stream at ``source_dir`` with ``fold(df, batch_id)``
    run on every micro-batch. ``checkpoint`` makes it restartable: a
    restarted query resumes from the committed source offsets with
    CONTINUING batch ids, so folded files are never re-read and the version
    log stays monotone. ``available_now`` drains the files present, still
    one per micro-batch, then stops."""
    writer = (
        _file_stream(spark, source_dir, schema)
        .writeStream.foreachBatch(fold)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: str,
    keys: list[str],
    order_by=None,
) -> None:
    """One micro-batch upsert: last-writer-wins merge on ``keys`` (J4) into
    the current snapshot, published as a new version (``_fold``). The first
    batch is still deduplicated within itself."""
    _fold(
        batch_df, batch_id, target,
        lambda b: incremental_merge(b.limit(0), b, keys, order_by),
        lambda cur, b: incremental_merge(cur, b, keys, order_by),
    )


def streaming_upsert(
    spark: SparkSession,
    source_dir: str,
    schema,
    target: str,
    keys: list[str],
    order_by=None,
    query_name: str = "stream_upsert",
    checkpoint: str | None = None,
):
    """N1 as a continuous job: every micro-batch upserts into the snapshot
    store via ``foreachBatch`` (exactly the Structured-Streaming + MERGE
    pattern SURVEY §2.10 calls for; with a Delta/Iceberg jar the body of
    ``upsert_batch`` becomes a real MERGE INTO and the pointer goes away).
    Pass ``checkpoint`` for restartability (tested end-to-end across a
    stop/restart)."""
    return _fold_stream(
        spark, source_dir, schema, query_name, checkpoint,
        lambda df, bid: upsert_batch(df, bid, target, keys, order_by),
    )


def rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: str,
    keys: list[str],
    ts_col: str,
    value_col: str,
    width: str = "hour",
) -> None:
    """Fold one micro-batch into the continuous-aggregate state
    (operators/hypertable): union-merge the mergeable (sum, cnt, min, max)
    state with the batch's delta rollup, publish, repoint. A replayed batch
    id is skipped (``_fold``) — a re-applied fold would double-count."""
    from simtradedata_spark.operators.hypertable import refresh_rollup, time_rollup

    _fold(
        batch_df, batch_id, target,
        lambda b: time_rollup(b, keys, ts_col, value_col, width),
        lambda cur, b: refresh_rollup(cur, b, keys, ts_col, value_col, width),
    )


def streaming_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    target: str,
    keys: list[str],
    ts_col: str,
    value_col: str,
    width: str = "hour",
    query_name: str = "stream_rollup",
    checkpoint: str | None = None,
):
    """Continuous aggregate as a stream: file source → ``foreachBatch`` fold
    into hypertable state. Readers hit the small state table (one row per
    (keys, bucket)) through ``rollup_read`` — O(buckets), never the raw
    stream history; the batch and streaming paths share the identical
    merge code, so stream ≡ batch by construction (and by test)."""
    return _fold_stream(
        spark, source_dir, schema, query_name, checkpoint,
        lambda df, bid: rollup_batch(df, bid, target, keys, ts_col, value_col, width),
    )


def minute_bar_rollup_batch(
    batch_df: DataFrame, batch_id: int, target: str, minutes: int = 1
) -> None:
    """Fold one micro-batch of TICKS into the stateful minute-bar table
    (operators/resample.py::refresh_time_bars) — the intraday-bar form of
    ``rollup_batch``, with the same replay guard: OHLC folds through the
    order state, so a replayed batch would corrupt open/close sums."""
    from simtradedata_spark.operators.resample import (
        refresh_time_bars,
        time_bars_from_ticks,
    )

    _fold(
        batch_df, batch_id, target,
        lambda b: time_bars_from_ticks(b, minutes, with_state=True),
        lambda cur, b: refresh_time_bars(cur, b, minutes),
    )


def streaming_minute_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    target: str,
    minutes: int = 1,
    query_name: str = "stream_minute_bars",
    checkpoint: str | None = None,
    available_now: bool = False,
):
    """Live tick feed → continuously folded minute-bar table. Readers get
    finished bars from the small state table (one row per symbol/day/
    bucket); the batch path (time_bars_from_ticks over all history) and
    this stream share the identical fold code, so stream ≡ batch by
    construction and by test.

    ``available_now=True`` processes everything currently in the source
    (still micro-batched, so the fold path is genuinely exercised) and then
    terminates — the one-shot CLI form (``python -m simtradedata_spark
    stream-ticks``)."""
    return _fold_stream(
        spark, source_dir, schema, query_name, checkpoint,
        lambda df, bid: minute_bar_rollup_batch(df, bid, target, minutes),
        available_now,
    )


def streaming_count_min(
    spark: SparkSession,
    source_dir: str,
    schema,
    col: str,
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "xxhash64",
    query_name: str = "cms_stream",
):
    """Maintain a Count-Min sketch over a file stream (the "frequency
    monitor beside the 100 TB ingest" shape): identical bucket arithmetic
    to the batch ``sketches.count_min_sketch``, run as a streaming
    aggregation in COMPLETE output mode.

    Complete mode over an unbounded-key groupBy is the classic streaming
    state leak — but a CMS aggregation CANNOT leak: its key space is the
    (depth × width) counter grid, fixed at plan time, no matter how many
    distinct values the stream carries. That bounded-state property is the
    whole reason the sketch exists, and it is what makes this one of the
    few aggregations where complete mode is legitimate without a
    watermark. The memory-sink table always holds the CURRENT sketch;
    batch ≡ streaming parity is pinned in
    tests/test_stateful_streaming.py."""
    from simtradedata_spark.operators.sketches import count_min_sketch

    stream = _file_stream(spark, source_dir, schema)
    sk = count_min_sketch(stream, col, depth=depth, width=width, hash_fn=hash_fn)
    return _to_memory(sk, query_name, "complete")
