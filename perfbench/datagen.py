"""Seeded input generators for the benchmark.

Every input is a pure function of its seed; nothing is read from outside
the run directory. Two families:

* ``write_lake`` — the parquet tables the catalog queries read
  (``events``, ``customer``, ``nation``, ``region``, ``documents``,
  ``embeddings``), shaped like the repository's sf0.1 test fixtures: at
  ``scale=1`` the sizes match sf0.1 (100k events over 30 days for 1,500
  sensors, 5,000 documents with 5% near-duplicates, 2,000 unit vectors of
  dimension 64); ``scale=0.01`` gives the sf0.001-sized warm-up copy.
* ``write_backlog`` — the stream consumers' JSON backlog, following the
  reference generator: 100 sensors, one reading per sensor-second with
  probability 0.5, temperature uniform 10-180, status from the temperature
  thresholds. One file holds one shard-minute (about 3,000 records) and
  file mtimes increase strictly, so arrival order equals event order.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The lake tables are a fixed, read-only fixture (like the sf0.1 test
#: tables, generated with seed 42); the run's seed drives the op order, the
#: export windows and the stream backlog.
FIXTURE_SEED = 42
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
SPAN_DAYS = 30

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def _events(rng: np.random.Generator, n: int, sensors: int) -> pa.Table:
    ts = np.sort(rng.integers(0, SPAN_DAYS * DAY_US, n)) + EPOCH_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, sensors, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _dims(rng: np.random.Generator, customers: int) -> dict[str, pa.Table]:
    return {
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
                "c_nationkey": pa.array(rng.integers(0, 25, customers, dtype=np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, customers), 2)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, customers)]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates: a copy of another document plus one marker token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def lake_sizes(scale: float) -> dict[str, int]:
    """Row counts of the generated tables at ``scale`` (1.0 = sf0.1)."""
    return {
        "events": max(1000, int(100_000 * scale)),
        "sensors": max(150, int(1500 * scale)),
        "customer": max(150, int(15_000 * scale)),
        "documents": max(500, int(5000 * scale)),
        "embeddings": max(500, int(2000 * scale)),
    }


def write_lake(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the seeded parquet tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = lake_sizes(scale)
    # one independent stream per table, so resizing one never shifts another
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(sizes)}
    tables = {"events": _events(rngs["events"], sizes["events"], sizes["sensors"])}
    tables.update(_dims(rngs["customer"], sizes["customer"]))
    tables["documents"] = _documents(rngs["documents"], sizes["documents"])
    tables["embeddings"] = _embeddings(rngs["embeddings"], sizes["embeddings"])
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


BACKLOG_SENSORS = 100
BACKLOG_BASE_MS = 1_700_000_000_000
BACKLOG_MTIME = 1_700_000_000


def backlog_records(seed: int, minute: int) -> list[dict]:
    """The readings of one shard-minute, in event order (reference rule:
    `random_data_generator.py:21-41`)."""
    rng = random.Random(f"{seed}:{minute}")
    base = BACKLOG_BASE_MS + minute * 60_000
    rows = []
    for tick in range(60):
        for s in range(BACKLOG_SENSORS):
            if rng.random() >= 0.5:
                continue
            temperature = float(round(10 + rng.random() * 170))
            if temperature > 160:
                status = "ERROR"
            elif temperature > 140 or rng.random() < 0.2:
                status = rng.choice(["WARNING", "ERROR"])
            else:
                status = "OK"
            rows.append(
                {
                    "sensor_id": f"sensor-{s:02d}",
                    "temperature": temperature,
                    "status": status,
                    "event_time": base + tick * 1000 + rng.randrange(1000),
                }
            )
    return rows


def write_backlog(out_dir: str, seed: int, first: int, last: int) -> list[dict]:
    """Write shard-minutes ``first..last-1`` as JSON-lines files, one per
    minute, with strictly increasing mtimes; returns their records in
    arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    records = []
    for minute in range(first, last):
        rows = backlog_records(seed, minute)
        path = os.path.join(out_dir, f"shard-000-{minute:05d}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        os.utime(path, (BACKLOG_MTIME + minute, BACKLOG_MTIME + minute))
        records += rows
    return records
