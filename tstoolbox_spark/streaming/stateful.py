"""Custom stateful streaming operator: continuous EWM per key via
``applyInPandasWithState``.

The batch twin is operators/window.ewm_window (adjust=True, ref
functions/ewm_window.py:222-230). Session windows and tier rollups are
expressible with Spark's built-in stateful operators; a cross-batch
EWM is not — its state is the pair of exponentially discounted sums

    num_i = x_i + b * num_{i-1}      (b = 1 - alpha)
    den_i = 1   + b * den_{i-1}      ewm_i = num_i / den_i

which is exactly the adjust=True pandas recurrence, so a stream that
starts from (num, den) = (0, 0) emits bit-comparable values to the
batch operator over the same prefix. Per key the operator keeps ONE
(num, den, rows) triple in the state store — O(keys) state, bounded
forever, no watermark needed for correctness (in-order ingest assumed,
like the tier cascade).

Inside each micro-batch the recurrence is folded in closed form per
64-row chunk (num_i = b^i num_0 + b^i * cumsum(x_j b^-j) — vectorized
numpy, no per-row Python; the chunk bound keeps b^-j far from
overflow for any span >= 1.1).
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .continuous import parquet_sink
from .sessions import EVENTS_SCHEMA

_CHUNK = 64


def _fold_ewm(xs, num: float, den: float, b: float):
    """Closed-form chunked fold of the adjust=True recurrence.
    Returns (per-row ewm array, final num, final den)."""
    import numpy as np

    out = np.empty(len(xs), dtype=np.float64)
    for start in range(0, len(xs), _CHUNK):
        seg = np.asarray(xs[start:start + _CHUNK], dtype=np.float64)
        k = np.arange(1, len(seg) + 1, dtype=np.float64)
        bp = b ** k
        binv = b ** -k
        num_new = bp * num + bp * np.cumsum(seg * binv)
        den_new = bp * den + bp * np.cumsum(binv)
        out[start:start + len(seg)] = num_new / den_new
        num = float(num_new[-1])
        den = float(den_new[-1])
    return out, num, den


def continuous_ewm(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    span: float = 12.0,
    key_cols: Tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    ts_col: str = "ts",
    schema: str = EVENTS_SCHEMA,
):
    """Start the continuous-EWM query; returns StreamingQuery.

    Emits one row per input row: (key..., ts, value, ewm). State per
    key: (num, den, rows). Exactly-once via the checkpointed state
    store — kill/resume continues the recurrence where it stopped."""
    alpha = 2.0 / (span + 1.0)
    b = 1.0 - alpha
    keys = list(key_cols)
    out_schema = (
        ", ".join(f"{k} string" for k in keys)
        + f", {ts_col} timestamp, {value_col} double, ewm double"
    )
    state_schema = "num double, den double, rows long"

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        num, den, rows = state.get if state.exists else (0.0, 0.0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col]).reset_index(drop=True)
        ewm, num, den = _fold_ewm(batch[value_col].to_numpy(), num, den, b)
        state.update((float(num), float(den), int(rows + len(batch))))
        out = pd.DataFrame({
            **{k: batch[k] if k in batch else key[i]
               for i, k in enumerate(keys)},
            ts_col: batch[ts_col],
            value_col: batch[value_col],
            "ewm": ewm,
        })
        yield out

    stream = (
        spark.readStream.schema(schema).parquet(input_dir)
        .select(*keys, ts_col, value_col)
    )
    result = stream.groupBy(*keys).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return parquet_sink(result, out_dir, checkpoint_dir)
