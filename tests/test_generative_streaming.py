"""Generative null parity fuzzer for the STREAMING ingest path.

test_generative_parity.py fuzzes the batch catalog against the DuckDB
oracle; the streaming bindings have no oracle — their contract is equality
with their batch twins, so far pinned only on clean fixed fixtures. This
module drives random null-bearing feeds through ingest -> melt ->
narrow-store sink (exactly-once) and checks it against an independent
Python recomputation of the null contract: melt keeps null-time and
null-dimension rows and drops null measure VALUES (operators/melt.py);
null event times land in the store's ``date=__HIVE_DEFAULT_PARTITION__``
directory (the layout retention documents and skips). Re-delivered
records carry duplicate content — the store must keep BOTH copies (ingest
is exactly-once per batch, not content-deduplicating).

Two seeds run ungated; more ride the dirty-sweep gate.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pytest

from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.streaming.ingest import (
    melt_stream,
    read_json_stream,
    start_narrow_store_sink,
)

from tests.test_streaming import _write_json_batches

UNGATED_SEEDS = range(2)
GATED_SEEDS = range(2, 6)


def _random_readings(seed: int) -> list[dict]:
    rng = random.Random(7000 + seed)
    rows = []
    t = 1_700_000_000_000
    for _ in range(36):
        # strictly increasing -> distinct event times; values from a
        # tiny pool -> real content duplicates
        t += rng.randint(500, 5000)
        rows.append(
            {
                "sensor_id": None if rng.random() < 0.1 else f"s{rng.randrange(3)}",
                "temperature": None
                if rng.random() < 0.2
                else float(rng.choice([1.0, 2.5, 42.0, 160.5])),
                "status": None
                if rng.random() < 0.2
                else rng.choice(["OK", "WARNING", "ERROR"]),
                "event_time": None if rng.random() < 0.1 else t,
            }
        )
    return rows


def _check_store_path(spark, tmp_path, rows_dup, seed):
    (tmp_path / f"store{seed}").mkdir()
    src = _write_json_batches(tmp_path / f"store{seed}", rows_dup, n_batches=4)
    store = str(tmp_path / f"store{seed}" / "out")
    q = start_narrow_store_sink(
        melt_stream(read_json_stream(spark, src)),
        store,
        str(tmp_path / f"store{seed}" / "ckpt"),
    )
    q.awaitTermination(180)

    got = Counter(
        (r["t_ms"], r["sensor_id"], r["status"], r["measure_name"], r["measure_value_double"])
        for r in spark.read.parquet(store)
        .select(
            F.unix_millis("time").alias("t_ms"),
            "sensor_id",
            "status",
            "measure_name",
            "measure_value_double",
        )
        .collect()
    )
    want = Counter(
        (r["event_time"], r["sensor_id"], r["status"], "temperature", r["temperature"])
        for r in rows_dup
        if r["temperature"] is not None  # melt drops null measure values only
    )
    assert got == want

    # layout contract: null event times (with a live measure) land in the
    # default partition retention documents and skips
    if any(r["event_time"] is None and r["temperature"] is not None for r in rows_dup):
        assert any(
            d.name == "date=__HIVE_DEFAULT_PARTITION__"
            for m in (tmp_path / f"store{seed}" / "out").iterdir()
            if m.name.startswith("measure_name=")
            for d in m.iterdir()
        )


def _run_seed(spark, tmp_path, seed: int) -> None:
    rows = _random_readings(seed)
    rows_dup = rows + rows[::4]  # re-deliveries: duplicate content, late arrival
    _check_store_path(spark, tmp_path, rows_dup, seed)


@pytest.mark.parametrize("seed", UNGATED_SEEDS)
def test_generative_streaming_null_parity(spark, tmp_path, seed):
    _run_seed(spark, tmp_path, seed)


@pytest.mark.skipif(
    not os.environ.get("TSDL_DIRTY_SWEEP"),
    reason="set TSDL_DIRTY_SWEEP=1 for the extended seed set",
)
@pytest.mark.parametrize("seed", GATED_SEEDS)
def test_generative_streaming_null_parity_extended(spark, tmp_path, seed):
    _run_seed(spark, tmp_path, seed)
