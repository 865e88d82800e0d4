"""Custom stateful streaming operators via ``applyInPandasWithState``
(north star §2B UDF/streaming surface: "applyInPandasWithState for
custom stateful operators").

The built-in windowed aggregations (``streaming/ohlcv.py``) cover
tumbling/sliding/session semantics; this module is the escape hatch for
state machines those can't express — running extrema ratchets, custom
eviction, cross-batch counters.  State is an explicit per-key struct the
kernel reads/writes; Spark handles shuffling rows to their key's state
partition, checkpointing, and recovery.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_running_extrema(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running (min, max, count) maintained across micro-batches.

    Emits the updated state for every key seen in each batch (update
    semantics); the latest emission per key is the running aggregate over
    everything processed so far — equal to a batch groupBy after an
    ``availableNow`` drain, which is exactly what the equivalence test
    pins.  State is O(1) per key.
    """

    def kernel(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            mn, mx, cnt = state.get
        else:
            mn, mx, cnt = None, None, 0
        for pdf in pdfs:
            v = pdf[value_col]
            if len(v):
                bmn, bmx = float(v.min()), float(v.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
                cnt += int(len(v))
        state.update((mn, mx, cnt))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "running_min": [mn],
                "running_max": [mx],
                "running_count": [cnt],
            }
        )

    # The key field keeps the stream's own type — a hardcoded `long`
    # would break (or silently miscast) string/other grouping keys.
    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, running_min double, running_max double, "
        "running_count long"
    )
    state_schema = "mn double, mx double, cnt long"
    return stream.groupBy(key_col).applyInPandasWithState(
        kernel,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )

