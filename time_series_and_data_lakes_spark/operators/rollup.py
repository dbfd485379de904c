"""Hypertable-style time rollups (continuous-aggregate downsampling).

The reference computes its tumbling bins at query time over the raw store
(``bin(time, 30s)`` — `grafana-dashboard/grafanaTimeSeriesre_Inventdemo.json:121,392,518`).
At 100 TB that re-scans raw data for every dashboard refresh. The standard
lake answer (TimescaleDB continuous aggregates / Druid rollup segments —
public designs) is a materialized cascade of *algebraic partial aggregates*:

    raw → 1-minute rollup → 1-hour rollup → 1-day rollup

Each level stores ``(keys, bin, count, exact-decimal sum, min, max)``.
Those partials are mergeable: a coarser level (or a coarser query bin) is
computed from sums-of-sums / mins-of-mins without touching raw data, and
``avg = sum/count`` stays EXACT because the sums are decimal — the served
result is bit-identical to aggregating raw, which is what the oracle gate
checks (`queries.rollup_cascade_stats`).

Scale notes: one shuffle per level, each 1/N the size of the previous; the
materialized levels partition by ``date(bin)`` so dashboard recency
predicates prune partitions. Serving reads the coarsest level whose step
divides the query bin — a 30 s dashboard refresh over a day touches the
minute rollup (1440 rows/key), not the raw store.
"""

from __future__ import annotations

import posixpath
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.checkpointing import truncate_lineage
from time_series_and_data_lakes_spark.operators.timeseries import (
    _interval_micros,
    time_bin,
)
from time_series_and_data_lakes_spark.sources.commit import commit_batch
from time_series_and_data_lakes_spark.sources.merge import (
    dynamic_partition_overwrite,
    read_parquet_if_exists,
)

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


def materialize_rollup(
    rollup: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Write a rollup level partitioned by ``date(bin)`` so recency
    predicates prune partitions, mirroring the raw narrow store's layout."""
    rollup.withColumn("date", F.to_date("bin")).write.partitionBy("date").mode(
        mode
    ).parquet(path)


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def pick_level(levels: dict[str, str], query_step: str) -> str:
    """Choose the coarsest materialized level whose step divides the query
    bin — the cheapest level that can answer exactly. ``levels`` maps
    step-string -> path."""
    q_us = _interval_micros(query_step)
    best_step, best_us = None, 0
    for step in levels:
        s_us = _interval_micros(step)
        if q_us % s_us == 0 and s_us > best_us:
            best_step, best_us = step, s_us
    if best_step is None:
        raise ValueError(
            f"no materialized level divides query step {query_step!r}: "
            f"{sorted(levels)}"
        )
    return best_step


def _merged_level(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    keys: list[str],
    time_col: str,
    step: str,
    value_col: str,
    checkpoint_dir: str | None = None,
) -> DataFrame | None:
    """The FULL replacement content of every date partition the delta
    touches: existing partials of those dates merged with the delta's
    partials (sum-of-sums / min-of-mins). Shared by the dynamic-overwrite
    refresh (:func:`refresh_rollup`) and the staged-commit streaming sink.
    Returns None when the delta lands in no partitions."""
    partials = rollup_partials(delta, keys, time_col, step, value_col).withColumn(
        "date", F.to_date("bin")
    )
    # checkpoint BEFORE the distinct-dates collect: partials is consumed
    # twice (the collect and the union below), and un-truncated it would
    # re-scan + re-aggregate the delta for each
    partials = truncate_lineage(partials, checkpoint_dir)
    existing = read_parquet_if_exists(spark, path)
    if existing is not None:
        dates = [r["date"] for r in partials.select("date").distinct().collect()]
        if not dates:
            return None
        # null-safe date membership: a delta row with a NULL time_col
        # produces a NULL bin/date partial stored in the writer's default
        # partition — plain isin() evaluates NULL for stored null-date rows,
        # which would exclude their accumulated partials from the merge and
        # the partition overwrite would then destroy them (the same
        # NULL-partition hazard merge_upsert guards with eqNullSafe)
        real = [d for d in dates if d is not None]
        cond = F.col("date").isin(real) if real else F.lit(False)
        if len(real) != len(dates):
            cond = cond | F.col("date").isNull()
        touched = existing.filter(cond)
        merged = (
            touched.unionByName(partials)
            .groupBy(*keys, "bin", "date")
            .agg(
                F.sum("n").alias("n"),
                # cast back to the stored sum type: the merge's widened
                # decimal is exact, so this is lossless and keeps refreshed
                # partitions schema-identical to full materialization
                F.sum("sum_dec")
                .cast(dict(existing.dtypes)["sum_dec"])
                .alias("sum_dec"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .select(*keys, "bin", "n", "sum_dec", "vmin", "vmax", "date")
        )
    else:
        merged = partials
    return truncate_lineage(merged, checkpoint_dir)


def refresh_rollup(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    keys: list[str],
    time_col: str,
    step: str,
    value_col: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Incremental continuous-aggregate maintenance: fold a batch of NEW
    raw rows into a materialized rollup level, touching only the date
    partitions the batch lands in — the refresh a `foreachBatch` sink (or
    a scheduled job over newly-arrived raw partitions) runs instead of
    re-materializing the level from all of raw.

    Mechanics: the delta's partials are merged (sum-of-sums / min-of-mins
    — the algebraic-partials property the module docstring explains) with
    the EXISTING partials of only the affected dates, and the result
    replaces exactly those date partitions via dynamic partition
    overwrite. Cost scales with the delta's time span, not the store's
    history: a 5-minute micro-batch touches 1-2 date partitions of the
    rollup regardless of how many years it holds.

    The affected-date list is collected to the driver (one row per
    distinct date in the delta — bounded by the batch's time span, the
    same O(model-parameters) contract as the ANN centroid collects) so the
    existing-store read is statically partition-pruned.

    Exactness: decimal sums merge losslessly, so a refreshed level is
    value-identical to re-materializing from all raw (pinned by test).
    Exactly-once is the CALLER's checkpoint contract — feeding the same
    delta twice double-counts, exactly like any continuous aggregate;
    pair with a streaming checkpoint or an idempotent window ledger.

    Returns the number of rollup rows (re)written.
    """
    merged = _merged_level(
        spark, delta, path, keys, time_col, step, value_col, checkpoint_dir
    )
    if merged is None:
        return 0
    n = merged.count()
    if n == 0:
        return 0
    with dynamic_partition_overwrite(spark):
        merged.write.mode("overwrite").partitionBy("date").parquet(path)
    return n


def _apply_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    keys: list[str],
    time_col: str,
    step: str,
    value_col: str,
    checkpoint_location: str,
) -> None:
    """Apply one micro-batch to the materialized level, exactly-once under
    crash-replay, on plain parquet: the full replacement content of every
    touched date partition (existing ⊕ delta) is staged under
    ``.staging-batch-{batch_id}`` and committed by
    :func:`...sources.commit.commit_batch` in replace mode, each staged
    ``date=`` dir replacing the live one. Staging reads only committed
    state, and once staged a replay installs the snapshot instead of
    folding the delta again, so no crash point double-counts."""

    def stage(staging: str) -> bool:
        merged = _merged_level(
            spark, batch_df, path, keys, time_col, step, value_col
        )
        if merged is None:
            return False
        merged.write.mode("overwrite").partitionBy("date").parquet(staging)
        return True

    commit_batch(
        spark, batch_id, checkpoint_location, path, "batch", stage, replace=True
    )


def start_rollup_refresh_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    time_col: str,
    step: str,
    value_col: str,
    checkpoint_location: str,
):
    """Continuous-aggregate maintenance as a streaming sink: every
    micro-batch folds into the materialized level (micro-batch = the
    delta) via the staged-commit protocol (:func:`_apply_batch`).

    Delivery semantics: the fold is ADDITIVE (it merges partials into
    already-updated state), so a naively replayed batch would
    double-count. The shared staged-commit protocol
    (:mod:`...sources.commit`) makes replay exactly-once on plain parquet
    at every crash point; it needs atomic rename, so on S3 put the level
    on a transactional table format instead.

    ``checkpoint_location`` must not live under ``path``: the level
    directory holds only the sink's own partitions and debris, and a
    bootstrap batch cannot tell a foreign subdirectory from data (the
    existing-level read would fail on it)."""
    def _norm(p: str) -> str:
        # canonicalize '.'/'..'/'//' segments so aliases like
        # '/data/./lvl/_ckpt' can't slip past the containment check;
        # scheme/authority (hdfs://nn) are compared verbatim (different
        # filesystems can't nest). Symlink aliases are out of scope — the
        # paths need not exist yet at construction time.

        u = urlparse(p)
        if u.scheme and (u.netloc or u.path.startswith("/")):
            return f"{u.scheme}://{u.netloc}{posixpath.normpath(u.path or '/')}"
        return posixpath.normpath(p)

    _p, _c = _norm(path), _norm(checkpoint_location)
    if _c == _p or _c.startswith(_p + "/"):
        raise ValueError(
            f"checkpoint_location {checkpoint_location!r} must not be "
            f"nested under the rollup path {path!r}"
        )

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        _apply_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            path,
            keys,
            time_col,
            step,
            value_col,
            checkpoint_location,
        )

    return (
        stream_df.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
