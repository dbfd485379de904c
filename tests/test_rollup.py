"""Hypertable rollup cascade: merged partials serve exactly the same
answers as aggregating raw data."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.rollup import (
    merge_partials,
    rollup_partials,
    serve_stats,
)


@pytest.fixture()
def raw(spark):
    rows = [
        (f"s{i % 3}", dt.datetime(2024, 1, 1 + d, h, m), float(i % 17) + 0.25)
        for i, (d, h, m) in enumerate(
            (d, h, m) for d in range(2) for h in range(0, 24, 3) for m in (0, 7, 31)
        )
    ]
    return spark.createDataFrame(rows, "sensor_id string, time timestamp, temperature double")


def _direct(raw, step):
    from time_series_and_data_lakes_spark.operators.timeseries import time_bin

    return {
        tuple(r)
        for r in raw.groupBy(
            "sensor_id", time_bin("time", step).alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.col("temperature").cast("decimal(27,6)")).cast("double")
                / F.count("*")
            ).alias("avg_value"),
            F.min("temperature").alias("min_value"),
            F.max("temperature").alias("max_value"),
        )
        .select("sensor_id", "bin", "n", "avg_value", "min_value", "max_value")
        .collect()
    }


def test_cascade_equals_direct_aggregation(spark, raw):
    hourly = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    daily = merge_partials(hourly, ["sensor_id"], "1 day")
    got = {tuple(r) for r in serve_stats(daily, ["sensor_id"]).collect()}
    assert got == _direct(raw, "1 day")

