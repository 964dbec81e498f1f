"""Custom stateful streaming operator: per-event decayed entity state.

:func:`decayed_entity_state` keeps each entity's trailing window across
micro-batches with ``applyInPandasWithState`` — an Arrow-batched,
explicitly-stated operator (the "custom stateful operator" slot of the
engine; per-row Python never touches the JVM boundary, each group's
batch is one pandas frame).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, StructField, StructType


def decayed_entity_state(
    stream: DataFrame,
    half_life_seconds: float,
    entity: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    id_col: str = "event_id",
    lookback_rows: int = 50,
) -> DataFrame:
    """Streaming twin of ``window.decayed_features``: per EVENT, the
    exponentially time-decayed sum/count over the entity's trailing
    ``lookback_rows`` events — computed incrementally across
    micro-batches with ``applyInPandasWithState``.

    State per entity is EXACTLY the batch operator's window: the last
    ``lookback_rows`` (t, v) pairs (bounded — never the full history),
    so every emitted row equals the batch result for the same prefix
    (pinned in pytest and at the driver gate against the same oracle).

    The kernel is a vectorized sliding-window fold (numpy
    ``sliding_window_view`` over the state+batch concatenation, one
    O(rows x lookback) weight matrix per group-batch) — whole-array
    Arrow compute, no per-row Python.  Rows within a batch are ordered
    by (ts, id) before folding; ordering ACROSS micro-batches follows
    arrival, the same trade every incremental state op makes (the
    batch-replay gate drains availableNow so arrival order is file
    order).
    """
    import numpy as np

    from pyspark.sql.types import ArrayType

    id_type = stream.schema[id_col].dataType
    entity_type = stream.schema[entity].dataType
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("entity", entity_type),
            StructField("decayed_sum", DoubleType()),
            StructField("decayed_count", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t_hist", ArrayType(DoubleType())),
            StructField("v_hist", ArrayType(DoubleType())),
        ]
    )
    hl = float(half_life_seconds)
    k = int(lookback_rows)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t_hist, v_hist = state.get
            t_hist = list(t_hist or [])
            v_hist = list(v_hist or [])
        else:
            t_hist, v_hist = [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values([ts, id_col])
            # normalize to µs before the int cast: pandas may hand the
            # Arrow timestamp over as datetime64[ns] OR [us]
            t_new = (
                pdf[ts].astype("datetime64[us]").astype("int64").to_numpy()
                / 1e6
            )  # epoch seconds
            v_new = pdf[value].astype("float64").to_numpy()
            n_st = len(t_hist)
            all_t = np.concatenate([np.asarray(t_hist, dtype=np.float64), t_new])
            all_v = np.concatenate([np.asarray(v_hist, dtype=np.float64), v_new])
            pad = np.full(k - 1, np.nan)
            tp = np.concatenate([pad, all_t])
            vp = np.concatenate([pad, all_v])
            win_t = np.lib.stride_tricks.sliding_window_view(tp, k)[n_st:]
            win_v = np.lib.stride_tricks.sliding_window_view(vp, k)[n_st:]
            w = np.power(0.5, (t_new[:, None] - win_t) / hl)
            valid = ~np.isnan(win_t) & ~np.isnan(win_v)
            dsum = np.where(valid, win_v * w, 0.0).sum(axis=1)
            dcnt = np.where(valid, w, 0.0).sum(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "entity": pdf[entity].to_numpy(),
                    "decayed_sum": dsum,
                    "decayed_count": dcnt,
                }
            )
            # .tolist() -> native Python floats: state is pickled (not
            # Arrow) and the JVM unpickler rejects numpy scalars
            t_hist = all_t[-k:].tolist()
            v_hist = all_v[-k:].tolist()
        state.update((t_hist, v_hist))

    return stream.groupBy(entity).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
