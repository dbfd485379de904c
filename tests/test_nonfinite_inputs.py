"""Non-finite (NaN/±Inf) measure sweep — the float hazard class the null
sweeps cannot reach.

Engine contract pinned here (r10 finds, all runtime-confirmed):

* float sums/avgs/min-max/folds propagate IEEE non-finites — Spark and
  DuckDB agree (NaN totally ordered greatest on both);
* DECIMAL contexts treat non-finite as NULL — Spark's cast semantics even
  under ANSI; the analytics_moving_window oracle mirrors it with an
  ``isfinite`` guard because DuckDB's decimal cast (plain AND try_cast)
  raises instead;
* exact percentiles exclude NaN on both sides — Spark's ``percentile``
  totally orders NaN greatest, but DuckDB's ``quantile_cont`` feeds NaN
  straight into an IEEE comparator, and its output on NaN-bearing input is
  genuinely undefined (observed: [1,2,NaN,NaN] p75 -> 1.25) — no oracle
  can gate UB, so NaN is defined out of the percentile domain;
* the CEP rounded avg propagates a non-finite avg UNROUNDED — Spark's
  ``floor(double)`` returns BIGINT, which laundered NaN to 0.0 and ±Inf
  to ±Long.MAX/100 (operators/cep.py), and the Python NFA twins'
  ``math.floor`` raised outright (cep.py brute force, cep_stream.py).

The shared oracle harness's float compare treats NaN and NULL as equal
(both are pandas-NA), so this module compares with tags that distinguish
them — a NULL-vs-NaN swap is a real cross-engine divergence here.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import pandas as pd
import pytest

import __spark_entry__ as entry

from tests.oracle_util import canonicalize, run_oracle
from tests.test_generative_parity import QUERIES

UNGATED_SEEDS = range(2)
GATED_SEEDS = range(2, 6)

_POOL = [1.0, 2.5, 50.0, float("nan"), float("inf"), float("-inf")]


def _tag(v):
    if v is None:
        return ("NULL",)
    try:
        if pd.isna(v):
            return ("NaN",) if isinstance(v, float) and math.isnan(v) else ("NULL",)
    except (TypeError, ValueError):
        pass
    return ("V", str(v))


def _assert_strict(spark_df, sf_dir: str, sql: str, name: str) -> None:
    got = canonicalize(spark_df.toPandas())
    want = canonicalize(run_oracle(sf_dir, sql))
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    # re-sort by NaN/NULL-distinguishing tags: canonicalize's pandas sort
    # parks both as NA, so frames with the same multiset can interleave
    # NaN and NULL rows differently — tag-sorted tuples compare stably
    g = sorted(tuple(_tag(v) for v in row) for row in got.itertuples(index=False))
    w = sorted(tuple(_tag(v) for v in row) for row in want.itertuples(index=False))
    assert g == w, f"{name}: first diff {next((a, b) for a, b in zip(g, w) if a != b)}"


def _write_nonfinite_events(seed: int, dst: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(4000 + seed)
    n = 48
    t0 = dt.datetime(2024, 1, 1)
    offs = [0, 1, 2, 3, 26, 52, 78, 104]
    ts = [
        None if rng.rand() < 0.1 else t0 + dt.timedelta(hours=int(rng.choice(offs)))
        for _ in range(n)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(
                    [None if rng.rand() < 0.15 else int(rng.choice([1, 2])) for _ in range(n)],
                    pa.int64(),
                ),
                "event_type": pa.array(
                    [
                        None if rng.rand() < 0.2 else str(rng.choice(["ok", "error", "warn"]))
                        for _ in range(n)
                    ],
                    pa.string(),
                ),
                "value": pa.array(
                    [None if rng.rand() < 0.1 else float(_POOL[rng.randint(len(_POOL))]) for _ in range(n)],
                    pa.float64(),
                ),
                "props": pa.array(
                    [None if rng.rand() < 0.2 else "{}" for _ in range(n)], pa.string()
                ),
            }
        ),
        f"{dst}/events.parquet",
    )


def _run_seed(spark, tmp_path, seed: int) -> None:
    sf = str(tmp_path / f"nf{seed}")
    os.makedirs(sf)
    _write_nonfinite_events(seed, sf)
    for name in QUERIES:
        _assert_strict(
            entry.queries()[name](spark, sf), sf, entry.oracle_sql()[name], name
        )


@pytest.mark.parametrize("seed", UNGATED_SEEDS)
def test_nonfinite_event_parity(spark, tmp_path, seed):
    _run_seed(spark, tmp_path, seed)


@pytest.mark.skipif(
    not os.environ.get("TSDL_DIRTY_SWEEP"),
    reason="set TSDL_DIRTY_SWEEP=1 for the extended seed set",
)
@pytest.mark.parametrize("seed", GATED_SEEDS)
def test_nonfinite_event_parity_extended(spark, tmp_path, seed):
    _run_seed(spark, tmp_path, seed)


# --- the CEP rounding guard, pinned deterministically ---------------------

_INF, _NAN = float("inf"), float("nan")


def _t(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=7 * i)


# one (A, B, C) match per key; expected avg = fold(A, B..., C) / len
_CEP_ROWS = [
    ("s1", _t(0), "ERROR", _INF), ("s1", _t(1), "OK", 1.0), ("s1", _t(2), "ERROR", 2.0),
    ("s2", _t(0), "ERROR", _NAN), ("s2", _t(1), "OK", 1.0), ("s2", _t(2), "ERROR", 2.0),
    ("s3", _t(0), "ERROR", _INF), ("s3", _t(1), "OK", -_INF), ("s3", _t(2), "ERROR", 1.0),
    ("s4", _t(0), "ERROR", 3.0), ("s4", _t(1), "OK", 1.0), ("s4", _t(2), "ERROR", 2.0),
]
_CEP_WANT = {"s1": _INF, "s2": _NAN, "s3": _NAN, "s4": 2.0}


def _avg_eq(a: float, b: float) -> bool:
    return (a != a and b != b) or a == b


def test_cep_nonfinite_avg_propagates_unrounded(spark):
    from tests.oracle_util import brute_force_matches
    from time_series_and_data_lakes_spark.operators.cep import match_error_pattern

    df = spark.createDataFrame(
        _CEP_ROWS, "sensor_id string, time timestamp, status string, temperature double"
    )
    got = {
        r["sensor_id"]: r["avg_temperature"]
        for r in match_error_pattern(df, within="INTERVAL 1 MINUTE").collect()
    }
    assert set(got) == set(_CEP_WANT)
    for k, want in _CEP_WANT.items():
        assert _avg_eq(got[k], want), (k, got[k], want)
        # the brute-force twin previously raised (math.floor of non-finite)
        (m,) = brute_force_matches(
            [(t, s, v) for kk, t, s, v in _CEP_ROWS if kk == k]
        )
        assert _avg_eq(m["avg_temperature"], want), (k, m["avg_temperature"], want)


# --- vectors: non-finite elements are a NAMED ingress error ---------------

# The ANN model-training ops (int8 quantization, PQ codebooks, k-means
# decimal-mean oracles) have no cross-engine-definable output on NaN/±Inf
# elements, and cosine would otherwise rank NaN silently (a NaN norm passes
# `> 0` under Spark's total order) — so, mirroring the null-embedding
# convention, the vector family rejects them at ingress by name.


def _poisoned_embeddings(tmp_path, poison: float) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / f"vec{poison!r}")
    os.makedirs(sf)
    rng = np.random.RandomState(9)
    vecs = [[float(x) for x in rng.rand(8)] for _ in range(20)]
    vecs[7][3] = poison
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(20), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
                "label": pa.array(["a"] * 20, pa.string()),
            }
        ),
        f"{sf}/embeddings.parquet",
    )
    return sf


@pytest.mark.parametrize("poison", [_NAN, _INF, -_INF])
def test_nonfinite_embedding_elements_raise_named_error(spark, tmp_path, poison):
    sf = _poisoned_embeddings(tmp_path, poison)
    with pytest.raises(Exception, match="non-finite embedding"):
        entry.queries()["ann_cosine_topk"](spark, sf).collect()


def test_cep_stream_nonfinite_avg_no_crash(spark, tmp_path):
    # the streaming NFA's math.floor raised on an Inf-poisoned avg
    # (cep_stream.py). Event-time mode over two micro-batches: every key's
    # candidate and reorder buffer cross the batch boundary in the state
    # row, so ±Inf/NaN temperatures and a None status must survive it. NaN
    # is the null measurement here (the Arrow float64 batch conflates the
    # two, by documented contract): min/max/avg skip it.
    import json

    from pyspark.sql import functions as F

    from time_series_and_data_lakes_spark.streaming.cep_stream import (
        match_error_pattern_stream,
    )
    from time_series_and_data_lakes_spark.streaming.ingest import read_json_stream

    t0 = 1_700_000_000_000
    # key -> (batch-0 rows, batch-1 rows) of (seconds after t0, status, temp);
    # every key ends on a row 10 s later that moves its frontier past the C
    seqs = {
        "s1": ([(0, "ERROR", _INF), (1, "OK", 1.0)], [(2, "ERROR", 2.0)]),
        "s3": ([(0, "ERROR", _INF), (1, "OK", -_INF)], [(2, "ERROR", 1.0)]),
        "s4": ([(0, "ERROR", 3.0), (1, "OK", 1.0)], [(2, "ERROR", 2.0)]),
        "s5": ([(0, "ERROR", 1.0), (1, "OK", _NAN)], [(2, "ERROR", 3.0)]),
        # the None status kills the first candidate: an "OK"-only history
        # proves it came back from the state as None
        "s6": (
            [(0, "ERROR", 1.0), (1, None, 5.0)],
            [(2, "ERROR", 2.0), (3, "OK", 3.0), (4, "ERROR", 4.0)],
        ),
    }
    src = tmp_path / "src"
    src.mkdir()
    # python json emits the Infinity/NaN tokens; the Spark JSON reader's
    # allowNonNumericNumbers (default on) parses them back
    for b in range(2):
        path = src / f"batch-{b:03d}.json"
        with open(path, "w") as f:
            for k, halves in seqs.items():
                for sec, status, temp in halves[b] + ([(10, "OK", 0.0)] if b else []):
                    rec = {"sensor_id": k, "event_time": t0 + 1000 * sec,
                           "status": status, "temperature": temp}
                    f.write(json.dumps(rec) + "\n")
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    typed = read_json_stream(spark, str(src), max_files_per_trigger=1).select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    q = (
        match_error_pattern_stream(
            typed, within="INTERVAL 1 MINUTE", allowed_lateness="INTERVAL 1 SECOND"
        )
        .writeStream.format("memory")
        .queryName("nf_cep")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 2
    got = {r["sensor_id"]: r for r in spark.table("nf_cep").collect()}
    assert sorted(got) == sorted(seqs)
    assert all(r["history"] == "OK" for r in got.values())
    assert _avg_eq(got["s1"]["avg_temperature"], _INF)
    s3 = got["s3"]  # its NaN avg (Inf + -Inf) leaves through Arrow as null
    assert (s3["min_temperature"], s3["avg_temperature"], s3["max_temperature"]) == (
        -_INF, None, _INF
    )
    assert _avg_eq(got["s4"]["avg_temperature"], 2.0)
    s5 = got["s5"]
    assert (s5["min_temperature"], s5["avg_temperature"], s5["max_temperature"]) == (
        1.0, 1.33, 3.0
    )
    s6 = got["s6"]
    assert s6["event_time"] == dt.datetime.utcfromtimestamp(t0 / 1000 + 2)
    assert s6["avg_temperature"] == 3.0
