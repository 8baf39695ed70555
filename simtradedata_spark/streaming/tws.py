"""Spark 4 ``transformWithStateInPandas`` operator — the successor API to
``applyInPandasWithState`` (which streaming/stateful.py uses for VWAP):
typed per-key state handles, explicit time modes, and RocksDB-backed state.

Operator: per-key running stats (event count, value sum, running max) that
survive across micro-batches — the skeleton every custom stateful feature
(positions, high-water marks, online aggregates) builds on. Each batch
emits the key's CURRENT totals (Update mode), so the sink always holds the
latest state per key.

Scale posture: state is partitioned by key in the RocksDB state store,
checkpointable, and bounded by the key cardinality (three scalars per key)
— arrival order across batches does not matter for these commutative
aggregates.

Environment note: the transformWithState worker protocol speaks protobuf
(``google.protobuf``) between the JVM state server and the Python driver
worker; in containers without protobuf the stream fails at initialization
— the test gates on its presence, and ``applyInPandasWithState``
(streaming/stateful.py) remains the dependency-free stateful path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from simtradedata_spark.streaming.incremental import _file_stream, _to_memory

OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, max_value double"


class RunningStatsProcessor(StatefulProcessor):
    """ValueState[(cnt, total, mx)] keyed by user."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "agg", "cnt bigint, total double, mx double"
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        if self._state.exists():
            cnt, total, mx = self._state.get()
        else:
            cnt, total, mx = 0, 0.0, float("-inf")
        for pdf in rows:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        self._state.update((cnt, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [total],
                "max_value": [mx],
            }
        )

    def close(self) -> None:
        pass


def streaming_running_stats(
    spark: SparkSession,
    source_dir: str,
    schema,
    query_name: str = "stream_tws",
):
    """readStream → transformWithStateInPandas(RunningStats) → memory sink
    (Update mode: the sink's last row per key is the current state)."""
    # transformWithState requires the RocksDB state store provider (the
    # HDFS-backed default does not implement the new state API).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = _file_stream(spark, source_dir, schema)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        RunningStatsProcessor(),
        outputStructType=OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _to_memory(out, query_name, "update")
