"""Streaming per-key analytics with tiny keyed state.

:func:`ewma_stream` maintains the EWMA recursion (s₀ = x₀; sᵢ = α·xᵢ +
(1-α)·sᵢ₋₁ — the batch twin is ``queries.analytics_ewma``) continuously:
per key, the state is ONE (count, ewma) pair, each micro-batch folds its
rows in event-time order into that state, and the updated running value
is emitted per key per batch (update-style readout of an aggregate).

Because the fold is sequential and the state carries exactly the fold's
accumulator, a time-ordered replay produces BIT-IDENTICAL values to the
batch fold — pinned by test. Out-of-order arrival ACROSS micro-batches
follows the reference's processing-time stance (arrival order is the
fold order, like the CEP default); within a batch rows are sorted by
event time.

Scale: O(1) state per key (two numbers), no per-key history; the only
shuffle is the hash exchange on the key — the streaming analogue of the
batch query's single exchange.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from time_series_and_data_lakes_spark.streaming.state_ttl import (
    timeout_conf as _timeout_conf,
    ttl_millis as _ttl_millis,
)


EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def _keyed_output_schema(
    stream: DataFrame, key: str, default: T.StructType
) -> T.StructType:
    """Output schema with the key field named AND typed from the input —
    a hardcoded sensor_id:string first field crashes the Arrow conversion
    for integer keys and mislabels any custom key column."""
    return T.StructType(
        [T.StructField(key, stream.schema[key].dataType), *default.fields[1:]]
    )


def ewma_stream(
    stream: DataFrame,
    alpha: float = 0.2,
    key: str = "sensor_id",
    time_col: str = "time",
    value_col: str = "temperature",
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuously maintained per-key EWMA; emits the running
    ``(key, n_obs, ewma)`` once per key per micro-batch that carried rows
    for it.

    ``state_ttl`` (an interval string) evicts the accumulator of keys
    silent for that long, bounding total state under key churn. Every
    emitted row carries the FULL accumulator ``(n_obs, ewma)``, so the
    last output row for an evicted key is its durable checkpoint; if the
    key later resumes, the fold restarts from its first new observation
    (the standard stale-smoother reset — after a silence that long the
    old level is stale by construction). Keys that never resume produce
    identical output with or without a TTL. With ``state_ttl`` set, a
    ``Trigger.AvailableNow`` query does not stop on its own: it keeps
    running empty micro-batches after the backlog (observed on Spark
    4.1.2), so callers ``stop()`` it themselves.
    """

    ttl_ms = _ttl_millis(state_ttl)
    out_schema = _keyed_output_schema(stream, key, EWMA_OUTPUT_SCHEMA)

    def process(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key_tuple
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        n, acc = state.get if state.exists else (0, None)
        # a key's batch arrives as MULTIPLE Arrow chunks past
        # maxRecordsPerBatch rows; each chunk sorted alone violates
        # event-time order across chunk boundaries — concat, sort ONCE
        chunks = list(pdfs)
        pdf = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)) if chunks else None
        if pdf is not None:
            pdf = pdf.sort_values(time_col, kind="mergesort")
            for x in pdf[value_col]:
                if pd.isna(x):
                    # Same null contract as the batch fold's _bounded_obs:
                    # a null measurement is no observation. (Arrow float64
                    # batches conflate null with NaN, so a genuine NaN
                    # measurement is skipped here too — the one documented
                    # divergence from the batch fold, where NaN propagates.)
                    continue
                x = float(x)
                acc = x if acc is None else alpha * x + (1.0 - alpha) * acc
                n += 1
        if n:
            state.update((n, acc))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame({key: [key_value], "n_obs": [n], "ewma": [acc]})

    return stream.groupBy(key).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=_timeout_conf(ttl_ms),
    )


HOLT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("holt_level", T.DoubleType()),
        T.StructField("holt_trend", T.DoubleType()),
    ]
)

HOLT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("l", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
    ]
)


def holt_stream(
    stream: DataFrame,
    alpha: float = 0.3,
    gamma: float = 0.1,
    key: str = "sensor_id",
    time_col: str = "time",
    value_col: str = "temperature",
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuously maintained Holt level+trend per key (the streaming twin
    of ``queries.analytics_holt``) — state is one (count, level, trend)
    triple, same ordered-replay bit-exactness contract as
    :func:`ewma_stream`, and the same ``state_ttl`` silent-key eviction
    (emitted rows carry the full accumulator; an evicted key restarts its
    fold on resume) and AvailableNow caveat."""

    ttl_ms = _ttl_millis(state_ttl)
    out_schema = _keyed_output_schema(stream, key, HOLT_OUTPUT_SCHEMA)

    def process(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key_tuple
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        n, l, b = state.get if state.exists else (0, None, None)
        # concat before the single sort — see the EWMA twin
        chunks = list(pdfs)
        pdf = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)) if chunks else None
        if pdf is not None:
            pdf = pdf.sort_values(time_col, kind="mergesort")
            for x in pdf[value_col]:
                if pd.isna(x):
                    continue  # null contract — see the EWMA twin
                x = float(x)
                if l is None:
                    l, b = x, 0.0
                else:
                    lp = alpha * x + (1.0 - alpha) * (l + b)
                    b = gamma * (lp - l) + (1.0 - gamma) * b
                    l = lp
                n += 1
        if n:
            state.update((n, l, b))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(
                {
                    key: [key_value],
                    "n_obs": [n],
                    "holt_level": [l],
                    "holt_trend": [b],
                }
            )

    return stream.groupBy(key).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=_timeout_conf(ttl_ms),
    )
