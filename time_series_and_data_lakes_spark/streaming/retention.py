"""Retention tiering: Timestream's memory/magnetic stores as table ops
(SURVEY.md S7/T11).

Reference: raw table = 24 h memory + 7 d magnetic, CEP table = 24 h + 30 d
(`cdk/time_series_and_data_lakes/time_series_and_data_lakes_stack.py:42-61`).
Spark mapping: the "memory store" is the cached hot window (recent
partitions); the magnetic bound is a TTL job dropping expired ``date``
partitions. On Delta this is ``DELETE WHERE time < now()-retention`` +
``VACUUM``; on the container's plain-Parquet store the same contract is
partition-directory removal, which is metadata-only (no rewrite) because the
store partitions by date.
"""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

# hidden (dot-prefixed) so Spark file listing and the date=* globs above
# never discover swap debris as partitions
_TMP_PREFIX = ".compact_tmp-"
_OLD_PREFIX = ".compact_old-"


def _local_store(store_path: str) -> Path:
    # these helpers walk the local filesystem; a URI would glob nothing
    # and report an empty result instead of failing
    scheme = urlparse(store_path).scheme
    if scheme:
        raise ValueError(
            f"store_path scheme {scheme!r} is not supported: retention "
            f"walks a local directory, got {store_path!r}"
        )
    return Path(store_path)


def expire_partitions(store_path: str, cutoff_date: dt.date) -> list[str]:
    """Drop store partitions older than ``cutoff_date`` (magnetic-store TTL).

    Works on the layout written by the ingest sink:
    ``{store}/measure_name=*/date=YYYY-MM-DD/``, on a local path (a URI
    raises ``ValueError``). Returns removed paths.
    """
    removed = []
    for date_dir in _local_store(store_path).glob("measure_name=*/date=*"):
        date_str = date_dir.name.split("=", 1)[1]
        try:
            date_val = dt.date.fromisoformat(date_str)
        except ValueError:
            # not an ISO date: __HIVE_DEFAULT_PARTITION__ (null event
            # times) or foreign debris — a TTL job must skip what it
            # cannot age, not crash and stop expiring everything
            continue
        if date_val < cutoff_date:
            shutil.rmtree(date_dir)
            removed.append(str(date_dir))
    return removed


def cache_hot_window(
    spark: SparkSession, store_path: str, since_date: dt.date
) -> DataFrame:
    """The "memory store": cache the recent partitions so ago()-style
    recency queries (P5/P7) serve from memory."""
    df = spark.read.parquet(store_path).filter(f"date >= DATE'{since_date.isoformat()}'")
    df.cache()
    return df


def compact_partitions(
    spark: SparkSession,
    store_path: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 4,
) -> list[str]:
    """Compact small files inside each leaf partition (the micro-batch
    ingest's small-files debt — Delta's OPTIMIZE, done directly on the
    parquet store).

    Sibling of :func:`...sources.compaction.compact_partitions`, which
    packs PREDICATE-selected partitions to a fixed file count via dynamic
    partition overwrite (one Spark job for all partitions, store readable
    throughout). This variant instead SELECTS leaves by file-count/size
    debt and sizes each leaf's output by bytes — the shape a scheduled TTL
    sweep wants; pick by selection mode, the rewrite guarantees match.

    Streaming appends one file set per micro-batch, so a day-old partition
    holds hundreds of KB-scale files; at 100 TB that destroys scan
    parallelism bookkeeping (one task per tiny file) and parquet footer
    reads start to dominate. Each leaf with >= ``min_files`` files is
    rewritten into ``ceil(bytes / target_file_bytes)`` files. The rewrite
    goes to a sibling DOT-PREFIXED temp dir first (Spark's file listing and
    this module's own ``date=*`` globs both ignore hidden names, so a
    half-written rewrite or a crash leftover is never discovered as a
    partition — a visible ``date=X.__tmp`` sibling would be read as a
    STRING date value and duplicate the leaf's rows) and is swapped in with
    two renames. A crash between the renames leaves the data in the hidden
    backup dir; the recovery preamble of the NEXT run restores it, so every
    crash point re-runs to the committed or the compacted state, never a
    mix and never invisible data. Returns the compacted partition paths.

    Compact cold partitions only (run after the ingest watermark passes) —
    the swap is not transactional against a concurrent writer to the SAME
    leaf; Delta/Iceberg make this fully ACID at cluster scale.
    """
    compacted = []
    store = _local_store(store_path)
    # recovery preamble: heal leftovers of a crashed earlier run
    for old in store.glob(f"measure_name=*/{_OLD_PREFIX}date=*"):
        leaf = old.with_name(old.name[len(_OLD_PREFIX):])
        if leaf.exists():
            shutil.rmtree(old)  # crashed after install, before cleanup
        else:
            old.rename(leaf)  # crashed mid-swap: restore the backup
    for tmp in store.glob(f"measure_name=*/{_TMP_PREFIX}date=*"):
        shutil.rmtree(tmp)  # pre-install debris; the leaf still has the data
    for leaf in sorted(store.glob("measure_name=*/date=*")):
        files = [f for f in leaf.glob("*.parquet") if f.is_file()]
        if len(files) < min_files:
            continue
        total = sum(f.stat().st_size for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        if len(files) <= n_out:
            continue
        tmp = leaf.with_name(_TMP_PREFIX + leaf.name)
        old = leaf.with_name(_OLD_PREFIX + leaf.name)
        # leaf-dir read: partition values live in the directory name and
        # are re-derived on read; the rewrite preserves the leaf layout.
        spark.read.parquet(str(leaf)).repartition(int(n_out)).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        leaf.rename(old)
        tmp.rename(leaf)
        shutil.rmtree(old)
        compacted.append(str(leaf))
    return compacted
