"""Idempotent windowed lake export (SURVEY.md S9/T10/T12).

The reference's Airflow DAG runs the flagship query every 5 minutes for the
window [execution_date, next_execution_date) and writes CSV under a path
derived from the window start — "must be an idempotent value" so re-runs and
backfills overwrite the same prefix (`mwaa/mwaa-cdk/dags/
timestream-airflow-demo.py:33-44,69`; backfill `dags/timestream-backfill.py`).

Here the window-derived deterministic path, written by staging and
installing by rename (:func:`...sources.commit.replace_dir`), gives the same
exactly-once-per-window contract. Production shape is partitioned Parquet;
a CSV writer is kept for fidelity with the reference's lake layout
(headered CSV, crawler-typed — `README.md:411-425`).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.sources.commit import recover, replace_dir


def window_path(base: str, window_start: dt.datetime) -> str:
    """`{base}/{yyyy-mm-ddThh-mm}/` — minute-resolution window prefix, the
    reference's rule (`dags/timestream-airflow-demo.py:41`: first 16 chars of
    the execution timestamp). The reference's literal ``hh:mm`` works on S3
    but a colon is a URI scheme separator to Hadoop paths, so ``-`` stands in
    — still deterministic per window, which is all idempotency needs.

    A sub-minute ``window_start`` extends the stamp with its seconds (and
    microseconds when present): under the reference's 16-char truncation
    two windows starting in the same minute would map to the SAME prefix
    and the second overwrite would silently destroy the first window's
    data. Minute-aligned windows — the reference's only case — keep the
    reference's exact layout."""
    stamp = window_start.strftime("%Y-%m-%dT%H-%M")
    if window_start.second or window_start.microsecond:
        stamp += f"-{window_start.second:02d}"
        if window_start.microsecond:
            stamp += f".{window_start.microsecond:06d}"
    return f"{base}/{stamp}"


def export_window(
    df: DataFrame,
    base: str,
    window_start: dt.datetime,
    window_end: dt.datetime,
    time_col: str = "time",
    fmt: str = "parquet",
) -> str:
    """Filter to [window_start, window_end), write it to the hidden
    ``{base}/.staging-export-{stamp}`` and install that over the window's
    deterministic prefix, which keeps its last good export if the job fails
    (``mode('overwrite')`` would delete it first). Returns the path."""
    if fmt not in ("csv", "json", "orc", "parquet"):
        raise ValueError(f"unsupported export format {fmt!r}")
    path = window_path(base, window_start)
    spark = df.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    dest = hpath(path)
    staging = hpath(dest.getParent(), f".staging-export-{dest.getName()}")
    pfs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
    recover(pfs, dest)
    windowed = df.filter(
        (F.col(time_col) >= F.lit(window_start)) & (F.col(time_col) < F.lit(window_end))
    )
    writer = windowed.write.mode("overwrite").format(fmt)  # over a failed run's staging
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(staging.toString())
    replace_dir(pfs, staging, dest)
    return path


def backfill(
    query_fn,
    base: str,
    start: dt.datetime,
    end: dt.datetime,
    step: dt.timedelta,
    time_col: str = "time",
    fmt: str = "parquet",
) -> list[str]:
    """Historical re-run over past windows (T12): same deterministic-path
    writer per window, so repeats are byte-stable."""
    if step <= dt.timedelta(0):
        # a zero step never advances (infinite loop of Spark writes); a
        # negative one walks away from `end` forever
        raise ValueError(f"backfill step must be positive, got {step!r}")
    paths = []
    w = start
    while w < end:
        w_end = min(w + step, end)
        paths.append(export_window(query_fn(w, w_end), base, w, w_end, time_col, fmt))
        w = w_end
    return paths

