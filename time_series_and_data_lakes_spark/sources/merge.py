"""MERGE (upsert) into a partitioned parquet store — the CDC/maintenance
verb Delta/Iceberg call MERGE INTO, expressed as a dynamic partition
overwrite:

- rows of ``updates`` whose key exists in the store REPLACE the stored row
  (whole-row semantics: WHEN MATCHED THEN UPDATE SET *);
- rows with new keys are inserted (WHEN NOT MATCHED THEN INSERT *);
- only the partitions the updates land in are rewritten — untouched
  partitions stay byte-identical, so merge cost follows the update batch,
  not the table size.

Contract: the partition value of a key must be immutable (true for
date-partitioned event/fact tables, where the partition derives from an
event-time column that identifies the row). A key whose partition value
changed would leave its old copy behind — callers that need cross-partition
moves must delete first. On Delta/Iceberg the same call shape becomes a
transactional MERGE; this is the plain-parquet equivalent with
snapshot-isolation-free semantics.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.checkpointing import truncate_lineage

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Scope ``partitionOverwriteMode=dynamic`` to one write — the shared
    save/set/restore dance merge, compaction, and rollup refresh all need
    (a session-wide flip would change the semantics of every concurrent
    overwrite in the session)."""
    prev = spark.conf.get(_OVERWRITE_MODE)  # registered conf: always a value
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev)


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet store, returning None ONLY when the path does not
    exist yet (the bootstrap case). Any other failure — transient
    filesystem errors, permissions, corrupt footers — re-raises: treating
    it as 'first write' would make the subsequent partition overwrite
    silently drop the stored rows of every touched partition."""

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    checkpoint_dir: str | None = None,
) -> int:
    """Upsert ``updates`` into the parquet store at ``path``. Returns the
    number of rows written (the rewritten partitions' new contents).

    The affected-partition list is collected to the driver (one row per
    distinct partition tuple in the batch — bounded by the batch's span),
    so the store read is statically partition-pruned; within those
    partitions the stored rows losing to an update are removed by a key
    anti join.
    """
    if updates.isEmpty():
        return 0
    parts = updates.select(*partition_cols).distinct().collect()
    part_pred = None
    for r in parts:
        clause = None
        for c in partition_cols:
            # eqNullSafe: a NULL partition value in updates lands in the
            # writer's default partition — plain == would make the predicate
            # never-true, skip the stored rows there, and duplicate keys
            # after the overwrite (ADVICE_r4).
            cond = F.col(c).eqNullSafe(F.lit(r[c]))
            clause = cond if clause is None else (clause & cond)
        part_pred = clause if part_pred is None else (part_pred | clause)

    store = read_parquet_if_exists(spark, path)
    existing = store.filter(part_pred) if store is not None else None

    cols = updates.columns
    if existing is not None:
        # null-safe key equality: a NULL key component must match NULL
        # (Delta MERGE's `<=>` convention) — a plain equi anti join never
        # matches NULL=NULL, so the stored row would survive alongside the
        # inserted update, duplicating the key after the overwrite (the
        # same hazard the partition predicate above guards against).
        # EqualNullSafe keys still hash-join, so the plan shape is
        # unchanged.
        upd_keys = updates.select(*key_cols).distinct().alias("u")
        stored = existing.alias("s")
        key_eq = None
        for c in key_cols:
            e = F.col(f"s.{c}").eqNullSafe(F.col(f"u.{c}"))
            key_eq = e if key_eq is None else (key_eq & e)
        kept = stored.join(upd_keys, on=key_eq, how="left_anti")
        merged = kept.select(*cols).unionByName(updates.select(*cols))
    else:
        merged = updates.select(*cols)

    merged = truncate_lineage(merged, checkpoint_dir)
    n = merged.count()
    with dynamic_partition_overwrite(spark):
        merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return n


def start_cdc_upsert_sink(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str],
    checkpoint_location: str,
):
    """Change-data-capture apply as a streaming sink: every micro-batch of
    updates upserts into the store via :func:`merge_upsert` (micro-batch =
    the change set). The streaming checkpoint provides the exactly-once
    half of the contract — a replayed batch re-applies the same upserts
    idempotently. Caller contract: at most one change per key per batch
    (real CDC feeds carry a sequence column — pre-aggregate to the latest
    change per key before this sink if the feed can repeat keys)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, path, batch_df, key_cols, partition_cols)

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
