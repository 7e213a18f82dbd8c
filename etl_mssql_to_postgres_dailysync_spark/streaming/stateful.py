"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no update capture (CDC out of scope,
dags/mssql_to_postgresql_orders_daily.py:33-36) — but its sync variant's
last-writer-wins guard implies per-key version state. This operator keeps
that state ACROSS micro-batches: for each key it tracks (count, latest
version timestamp, last value), emitting one row per key per batch — the
streaming-native generalization of the merge's matched-condition.

State is per-key and partitioned by Spark's state store (RocksDB/HDFS at
scale); each micro-batch only touches keys present in the batch. Timeouts
are disabled here (pure accumulation); GroupStateTimeout.ProcessingTimeTimeout
is the hook for TTL-style eviction.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("latest_ts_micros", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("latest_ts_micros", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)


def _track(
    key: Tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, latest, last_value = state.get
    else:
        n, latest, last_value = 0, -1, None
    for pdf in batches:
        n += len(pdf)
        ts = pdf["ts_micros"]
        idx = ts.idxmax()
        if int(ts[idx]) > latest:  # last-writer-wins on the version timestamp
            latest = int(ts[idx])
            last_value = float(pdf["value"][idx])
    state.update((n, latest, last_value))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "latest_ts_micros": [latest],
            "last_value": [last_value],
        }
    )


def track_user_state(events: DataFrame) -> DataFrame:
    """Per-user running state over a stream of (user_id, ts_micros, value):
    event count, latest version timestamp, value at that timestamp."""
    return events.groupBy("user_id").applyInPandasWithState(
        _track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

