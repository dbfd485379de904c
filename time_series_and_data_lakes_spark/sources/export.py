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


def _utc(t: dt.datetime) -> dt.datetime:
    """``t`` as an aware UTC datetime. A naive value is read as UTC, the
    session zone ``queries.load`` pins; py4j would read it in the Python
    process's local zone instead."""
    if t.tzinfo is None:
        return t.replace(tzinfo=dt.timezone.utc)
    return t.astimezone(dt.timezone.utc)


def _bound(t: dt.datetime, name: str):
    """A one-field struct literal of ``t``. Spark passes a struct literal to
    generated code as a referenced object, where it inlines a timestamp
    literal as a constant."""
    return F.struct(F.lit(t).alias(name))


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
    reference's exact layout. The stamp is the UTC wall clock (see
    :func:`_utc`), so it names the same instant the window's rows are cut at."""
    window_start = _utc(window_start)
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
    (``mode('overwrite')`` would delete it first). Returns the path.

    Naive bounds are UTC; aware ones are converted to UTC. An empty or
    inverted window is refused before any filesystem action.

    The bounds are compared as one-field structs, ``struct(time) >=
    struct(lit(start))``, not as timestamp literals. Catalyst pushes the
    filter into the fused stage above the flagship's grid ``explode``, and
    whole-stage codegen writes a timestamp literal into the generated Java
    as a constant: every new window would compile (and JIT) that stage
    anew. A struct literal is a referenced object instead, so every window
    reuses one compiled class. It keeps the rows a plain timestamp
    comparison keeps: a null time sorts below every bound and is dropped.
    The trade: a struct predicate is never offered to a file
    scan's ``PushedFilters``, so the window does not skip row groups when
    ``df`` is a bare scan. The flagship's window stops at its per-key
    windows anyway, and no caller exports a bare scan."""
    if fmt not in ("csv", "json", "orc", "parquet"):
        raise ValueError(f"unsupported export format {fmt!r}")
    window_start, window_end = _utc(window_start), _utc(window_end)
    if window_end <= window_start:
        raise ValueError(
            f"export window must end after it starts: [{window_start}, {window_end})"
        )
    path = window_path(base, window_start)
    spark = df.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    dest = hpath(path)
    staging = hpath(dest.getParent(), f".staging-export-{dest.getName()}")
    pfs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
    recover(pfs, dest)
    time = F.struct(time_col)
    windowed = df.filter(
        (time >= _bound(window_start, time_col)) & (time < _bound(window_end, time_col))
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

