"""Retention tiering: Timestream's memory/magnetic stores as table ops
(SURVEY.md S7/T11).

Reference: raw table = 24 h memory + 7 d magnetic, CEP table = 24 h + 30 d
(`cdk/time_series_and_data_lakes/time_series_and_data_lakes_stack.py:42-61`).
Spark mapping: the magnetic bound is a TTL job dropping expired ``date``
partitions. The memory store needs no tier of its own: the store partitions
by date, so a recency query prunes to its recent partitions. On Delta the
TTL is ``DELETE WHERE time < now()-retention`` + ``VACUUM``; on the plain
parquet store the same contract is partition-directory removal, which is
metadata-only (no rewrite).

Both helpers go through the session's Hadoop ``FileSystem``, so they reach
every store the ingest sink can write.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from time_series_and_data_lakes_spark.sources.commit import (
    BACKUP_PREFIX,
    recover,
    replace_dir,
)


def _leaves(spark: SparkSession, store_path: str):
    """The store's filesystem and its ``measure_name=*/date=*`` leaf dirs
    (``store_path`` is globbed, as Spark's readers glob it). A leaf that a
    crashed install left only as its backup is put back first."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    pfs = hpath(store_path).getFileSystem(spark._jsc.hadoopConfiguration())

    def glob(leaf: str) -> list:
        found = pfs.globStatus(hpath(f"{store_path}/measure_name=*/{leaf}"))
        return sorted((s.getPath() for s in found or []), key=lambda p: p.toString())

    for b in glob(BACKUP_PREFIX + "date=*"):
        recover(pfs, hpath(b.getParent(), b.getName()[len(BACKUP_PREFIX):]))
    return pfs, glob("date=*")


def expire_partitions(store_path: str, cutoff_date: dt.date) -> list[str]:
    """Drop store partitions older than ``cutoff_date`` (magnetic-store TTL).

    Works on the layout written by the ingest sink:
    ``{store}/measure_name=*/date=YYYY-MM-DD/``, through the active
    session's Hadoop ``FileSystem``. Returns removed paths.
    """
    pfs, leaves = _leaves(SparkSession.active(), store_path)
    removed = []
    for leaf in leaves:
        try:
            date_val = dt.date.fromisoformat(leaf.getName()[len("date="):])
        except ValueError:
            # not an ISO date: __HIVE_DEFAULT_PARTITION__ (null event
            # times) or foreign debris — a TTL job must skip what it
            # cannot age, not crash and stop expiring everything
            continue
        if date_val < cutoff_date:
            pfs.delete(leaf, True)
            removed.append(leaf.toString())
    return removed


def compact_partitions(
    spark: SparkSession,
    store_path: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 4,
) -> list[str]:
    """Compact small files inside each leaf partition (the micro-batch
    ingest's small-files debt — Delta's OPTIMIZE, done directly on the
    parquet store).

    Leaves are SELECTED by file-count/size debt and each leaf's output is
    sized by bytes — the shape a scheduled TTL sweep wants.

    Streaming appends one file set per micro-batch, so a day-old partition
    holds hundreds of KB-scale files; at 100 TB that destroys scan
    parallelism bookkeeping (one task per tiny file) and parquet footer
    reads start to dominate. Each leaf with >= ``min_files`` files is
    rewritten into ``ceil(bytes / target_file_bytes)`` files, staged in the
    hidden sibling ``.staging-compact-date=…`` (a visible one would be read
    as a STRING date partition and duplicate the leaf's rows) and installed
    with :func:`...sources.commit.replace_dir`; a leaf that a crash left
    only as its backup is put back first, so every crash point re-runs to
    the committed or the compacted state. Returns the compacted partition
    paths.

    Compact cold partitions only (run after the ingest watermark passes) —
    the swap is not transactional against a concurrent writer to the SAME
    leaf; Delta/Iceberg make this fully ACID at cluster scale.
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    pfs, leaves = _leaves(spark, store_path)
    compacted = []
    for leaf in leaves:
        files = [
            s for s in pfs.listStatus(leaf)
            if s.isFile() and s.getPath().getName().endswith(".parquet")
        ]
        if len(files) < min_files:
            continue
        total = sum(s.getLen() for s in files)
        n_out = max(1, -(-total // target_file_bytes))
        if len(files) <= n_out:
            continue
        # leaf-dir read: partition values live in the directory name and
        # are re-derived on read; the rewrite preserves the leaf layout.
        staging = hpath(leaf.getParent(), ".staging-compact-" + leaf.getName())
        spark.read.parquet(leaf.toString()).repartition(int(n_out)).write.mode(
            "overwrite"  # over a failed run's staging
        ).parquet(staging.toString())
        replace_dir(pfs, staging, leaf)
        compacted.append(leaf.toString())
    return compacted
