"""Stream-stream interval join — the trade⋈quote enrichment shape of the
PTrade event-loop's tick mode (N3, ``docs/PTrade_API_mini_Reference.md:
521-694`` declares 3-second tick snapshots; pairing each trade with the
quotes that preceded it is the canonical two-stream operation the reference
never implements).

Spark executes a watermarked stream-stream inner join with a time-range
predicate by keeping only ``watermark + lookback`` of per-key state on each
side — both sides' buffers are garbage-collected as event time advances, so
state is bounded regardless of stream length. The SAME function works on
batch frames (watermarks skipped), which is how the test proves
stream ≡ batch.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simtradedata_spark.streaming.incremental import _file_stream, _to_memory


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lookback: str = "30 seconds",
    watermark: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Pair each left row with right rows sharing ``keys`` whose timestamp
    lies in ``(left_ts − lookback, left_ts]``. Timestamp column names must
    differ between the two sides (the pair is kept in the output); non-key
    data columns must not collide. Right-side key columns are dropped."""
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = (
        right.withWatermark(right_ts, watermark) if right.isStreaming else right
    )
    conds = [F.col(f"__l.{k}") == F.col(f"__r.{k}") for k in keys]
    conds.append(F.col(f"__r.{right_ts}") <= F.col(f"__l.{left_ts}"))
    conds.append(
        F.col(f"__r.{right_ts}")
        > F.expr(f"__l.{left_ts} - interval {lookback}")
    )
    joined = l.alias("__l").join(
        r.alias("__r"), reduce(lambda a, b: a & b, conds), how
    )
    right_keep = [c for c in right.columns if c not in keys]
    return joined.select(
        *[F.col(f"__l.{c}") for c in left.columns],
        *[F.col(f"__r.{c}") for c in right_keep],
    )


def streaming_interval_join(
    spark,
    left_dir: str,
    right_dir: str,
    left_schema,
    right_schema,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lookback: str = "30 seconds",
    watermark: str = "2 minutes",
    query_name: str = "stream_ijoin",
    how: str = "inner",
):
    """interval_join over two file streams → memory sink (same harness shape
    as streaming_minute_bars)."""
    l = _file_stream(spark, left_dir, left_schema)
    r = _file_stream(spark, right_dir, right_schema)
    out = interval_join(l, r, keys, left_ts, right_ts, lookback, watermark, how)
    return _to_memory(out, query_name)
