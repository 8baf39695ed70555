"""Custom stateful streaming operator: running per-key VWAP via
``applyInPandasWithState`` (SURVEY §2.10 N3 — the minute/tick surface the
PTrade spec declares; the engine-side primitive is a keyed stateful
transform with explicit state schema).

State per symbol = (cum_money, cum_volume); each micro-batch folds its rows
into the state and emits one row per batch with the updated running VWAP.
This is the template for any per-key recursive stream op (EMA ticks,
position tracking): state is explicit, checkpointable, and partitioned by
key — the streaming analog of the grouped-map indicators operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from simtradedata_spark.streaming.incremental import _file_stream, _to_memory

OUTPUT_SCHEMA = "symbol string, n_rows long, cum_volume double, vwap double"
STATE_SCHEMA = "cum_money double, cum_volume double, n_rows long"


def _update_vwap(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (symbol,) = key
    if state.exists:
        cum_money, cum_volume, n_rows = state.get
    else:
        cum_money, cum_volume, n_rows = 0.0, 0.0, 0
    for pdf in pdfs:
        cum_money += float(pdf["money"].sum())
        cum_volume += float(pdf["volume"].sum())
        n_rows += len(pdf)
    state.update((cum_money, cum_volume, n_rows))
    vwap = cum_money / cum_volume if cum_volume else None
    yield pd.DataFrame(
        {
            "symbol": [symbol],
            "n_rows": [n_rows],
            "cum_volume": [cum_volume],
            "vwap": [vwap],
        }
    )


def streaming_vwap(
    spark,
    source_dir: str,
    schema,
    query_name: str = "vwap_state",
):
    """File-stream → per-symbol stateful running VWAP → memory sink."""
    stream = _file_stream(spark, source_dir, schema)
    out = stream.groupBy("symbol").applyInPandasWithState(
        _update_vwap,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return _to_memory(out, query_name, "update")
