"""Metadata-only statistics from parquet file footers.

``ago()``-anchored queries need ``max(time)`` of the events table before
they can filter it; an aggregation anchor costs a full extra scan — a
second pass over ~100 TB at scale. Parquet footers already carry
per-row-group min/max for every column, so the anchor is answerable from a
few KB of driver-side footer reads, no Spark job (VERDICT_r3 item 4).
Deliberately conservative: statistics are an optimization, never a
correctness dependency — missing min/max, a corrupt part file, a missing
pyarrow, anything unexpected returns ``None`` and the caller falls back to
the scan-based aggregate.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq


def parquet_part_files(path: str) -> list[str]:
    """The part files a Spark reader of ``path`` would see, sorted: ``path``
    itself when it is a file, else every ``.parquet`` file below it.
    Recursive, because a PARTITIONED store has no top-level part files.
    Hidden/``_`` files AND directories are pruned: sidecars and a mid-write
    staging tree (``_temporary/``) are invisible to Spark readers, so their
    footers must not answer for the table. Driver-side listing only."""
    if not os.path.isdir(path):
        return [path]
    paths = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        paths += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return sorted(paths)


def parquet_footer_rows(path: str) -> int | None:
    """Total row count of ``path`` (a ``.parquet`` file or a directory of
    part files) from footer metadata only — no Spark job, a few KB of
    driver-side reads. Used to right-size Python-boundary stages (the
    chained ``mapInPandas`` codec pipelines) by rows-per-task instead of
    blindly spreading to ``defaultParallelism``: every Python stage task
    pays a worker round trip even when near-empty, so task count should
    track data volume, not core count. Same conservatism contract as
    :func:`parquet_footer_max_micros`: ``None`` on any surprise — callers
    fall back to the partition-count-only heuristic."""
    try:
        paths = parquet_part_files(path)
        if not paths:
            return None
        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    except Exception:
        return None


def parquet_footer_max_micros(path: str, column: str) -> int | None:
    """Max of a timestamp ``column`` across all row groups of ``path`` (a
    ``.parquet`` file or a directory of part files), as epoch MICROSECONDS
    of the stored wall-clock value, read from footer statistics only.

    Nanosecond-unit columns truncate toward zero to micros — the direction
    of the ``ts div 1000`` conversion ``queries.load`` applies to the data
    (Spark's ``div`` truncates, Python's ``//`` floors; they differ
    pre-1970) — so the footer max equals ``max()`` of the loaded column
    exactly. ``None`` on any surprise; never raises.
    """
    try:
        paths = parquet_part_files(path)
        if not paths:
            return None
        best, saw_stats = None, False
        for p in paths:
            md = pq.ParquetFile(p).metadata
            if md.num_row_groups == 0:
                continue  # empty part file (Spark writes these): no rows
            col_idx = None
            for i in range(md.num_columns):
                if md.row_group(0).column(i).path_in_schema == column:
                    col_idx = i
                    break
            if col_idx is None:
                return None
            for rg in range(md.num_row_groups):
                chunk = md.row_group(rg).column(col_idx)
                if chunk.num_values == 0:
                    continue
                stats = chunk.statistics
                if stats is None or not stats.has_min_max:
                    return None
                if stats.logical_type.type != "TIMESTAMP":
                    return None  # not a timestamp column (or INT96 legacy)
                unit = json.loads(stats.logical_type.to_json()).get("timeUnit")
                raw = stats.max_raw  # physical INT64: epoch count in `unit`
                if unit == "nanoseconds":
                    # truncate toward zero, matching Spark's `div`
                    micros = raw // 1000 if raw >= 0 else -((-raw) // 1000)
                elif unit == "microseconds":
                    micros = raw
                elif unit == "milliseconds":
                    micros = raw * 1000
                else:
                    return None
                saw_stats = True
                best = micros if best is None else max(best, micros)
        return best if saw_stats else None
    except Exception:
        return None
