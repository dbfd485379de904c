"""Hypertable-style time rollups (continuous-aggregate downsampling).

The reference computes its tumbling bins at query time over the raw store
(``bin(time, 30s)`` — `grafana-dashboard/grafanaTimeSeriesre_Inventdemo.json:121,392,518`).
The standard lake answer at scale (TimescaleDB continuous aggregates /
Druid rollup segments — public designs) is a cascade of *algebraic partial
aggregates*:

    raw → 1-minute rollup → 1-hour rollup → 1-day rollup

Each level is ``(keys, bin, count, exact-decimal sum, min, max)``. Those
partials are mergeable: a coarser level (or a coarser query bin) is
computed from sums-of-sums / mins-of-mins without touching raw data, and
``avg = sum/count`` stays EXACT because the sums are decimal — the served
result is bit-identical to aggregating raw, which is what the oracle gate
checks (`queries.rollup_cascade_stats`). One shuffle per level, each 1/N
the size of the previous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.timeseries import time_bin

#: decimal type for exact mergeable sums (measure doubles at sensor scale)
SUM_DECIMAL = "decimal(27,6)"


def rollup_partials(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    step: str,
    value_col: str,
) -> DataFrame:
    """Level-0 rollup: per (keys, bin) algebraic partials from raw rows."""
    return df.groupBy(
        *keys, time_bin(time_col, step).alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value_col).cast(SUM_DECIMAL)).alias("sum_dec"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def merge_partials(rollup: DataFrame, keys: list[str], step: str) -> DataFrame:
    """Re-aggregate a finer rollup to coarser bins (the cascade step).

    Requires the coarser ``step`` to be a multiple of the input's step —
    bins then nest exactly and the merge is lossless.
    """
    return rollup.groupBy(
        *keys, time_bin("bin", step).alias("bin")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def serve_stats(rollup: DataFrame, keys: list[str]) -> DataFrame:
    """Final dashboard stats from partials. ``avg`` divides the exact
    decimal sum by the count in double — deterministic (one division of two
    exact values), unlike re-averaging raw doubles."""
    return rollup.select(
        *keys,
        "bin",
        "n",
        (F.col("sum_dec").cast("double") / F.col("n")).alias("avg_value"),
        F.col("vmin").alias("min_value"),
        F.col("vmax").alias("max_value"),
    )

