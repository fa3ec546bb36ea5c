"""Custom stateful streaming operators (applyInPandasWithState).

The reference's only stateful computations are Spark built-ins (windowed
aggs + complete-mode globals).  This module adds the *custom* stateful
tier a training-data pipeline needs when built-ins can't express the
semantics: per-key state carried across micro-batches with explicit
update logic, via Arrow-batched ``applyInPandasWithState``.

Scale posture: state is per-key and constant-size (a handful of scalars),
partitioned by the grouping key across executors and persisted in the
state store (RocksDB per ``session.py``), so the operator scales with
keys x state-size, never with stream length.  Every emission is a plain
row — downstream operators see an ordinary DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

#: Output of running_totals: one row per (key, micro-batch with data).
RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("sum_value", DoubleType(), True),
        StructField("max_value", DoubleType(), True),
    ]
)

_STATE_SCHEMA = "n LONG, s DOUBLE, m DOUBLE"


def running_totals(
    stream: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Per-key running (count, sum, max) across micro-batches.

    The built-in equivalent is an unwatermarked complete-mode groupBy (the
    reference's review-bomb aggregate, kafka-spark-configmap.yaml:79-92),
    which re-emits ALL keys every trigger.  This stateful form emits only
    keys touched by the current batch — update-mode deltas, the shape a
    MERGE-style serving sink wants — while the state store holds just
    3 scalars per key.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s, m = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += len(pdf)
            s += float(vals.sum())
            if len(vals):
                batch_max = float(vals.max())
                m = batch_max if m is None else max(m, batch_max)
        state.update((n, s, m))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "sum_value": [s], "max_value": [m]}
        )

    return (
        stream.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
