"""CEP operator tests: deterministic cases for the pattern/skip semantics,
plus a property test against the brute-force NFA matcher on random streams
mirroring the reference generator's status distribution
(`random-data-generator/random_data_generator.py:22-28`)."""

from __future__ import annotations

import datetime as dt
import random

from tests.oracle_util import brute_force_matches
from time_series_and_data_lakes_spark.operators.cep import match_error_pattern

SCHEMA = "sensor_id string, time timestamp, status string, temperature double"


def _t(s: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    out = match_error_pattern(df, **kw)
    return sorted(
        (tuple(r) for r in out.collect()),
        key=lambda r: (r[0], r[1]),
    )


def test_simple_match_and_measures(spark):
    rows = [
        ("a", _t(0), "ERROR", 170.0),
        ("a", _t(10), "OK", 50.0),
        ("a", _t(20), "WARNING", 150.0),
        ("a", _t(30), "ERROR", 165.0),
    ]
    (m,) = _run(spark, rows)
    assert m == ("a", _t(0), 2, "OK-WARNING", 50.0, 133.75, 170.0, 30)


def test_within_bound_excludes_slow_match(spark):
    rows = [
        ("a", _t(0), "ERROR", 1.0),
        ("a", _t(30), "OK", 2.0),
        ("a", _t(90), "ERROR", 3.0),  # 90s > WITHIN 60s
    ]
    assert _run(spark, rows) == []


def test_b_count_bounds(spark):
    # zero non-errors between two errors: no match (B{1,5})
    rows = [("a", _t(0), "ERROR", 1.0), ("a", _t(1), "ERROR", 2.0)]
    assert _run(spark, rows) == []
    # six non-errors: no match
    rows = [("a", _t(0), "ERROR", 1.0)]
    rows += [("a", _t(i + 1), "OK", 1.0) for i in range(6)]
    rows += [("a", _t(8), "ERROR", 1.0)]
    assert _run(spark, rows) == []


def test_oversized_segment_bounded_and_discarded(spark):
    # A segment far longer than max_b can never match — the operator caps
    # its per-segment aggregation state at max_b rows (the collect_list
    # would otherwise buffer the whole segment), and the cap must not
    # disturb the measures of a valid match that follows.
    rows = [("a", _t(0), "ERROR", 1.0)]
    rows += [("a", _t(i + 1), "OK", float(i)) for i in range(50)]
    rows += [
        ("a", _t(60), "ERROR", 100.0),
        ("a", _t(61), "OK", 40.0),
        ("a", _t(62), "WARNING", 60.0),
        ("a", _t(63), "ERROR", 200.0),
    ]
    (m,) = _run(spark, rows)
    assert m == ("a", _t(60), 2, "OK-WARNING", 40.0, 100.0, 200.0, 3)


def test_skip_past_last_row_non_overlap(spark):
    # errors at 0,10,20 with one OK between each: greedy picks (0,10) only —
    # the error at 10 is consumed, so (10,20) must not match.
    rows = [
        ("a", _t(0), "ERROR", 1.0),
        ("a", _t(5), "OK", 1.0),
        ("a", _t(10), "ERROR", 1.0),
        ("a", _t(15), "OK", 1.0),
        ("a", _t(20), "ERROR", 1.0),
    ]
    got = _run(spark, rows)
    assert [m[1] for m in got] == [_t(0)]


def test_failed_attempt_does_not_consume(spark):
    # (e0,e1) invalid (6 Bs) but (e1,e2) valid → match anchored at e1.
    rows = [("a", _t(0), "ERROR", 1.0)]
    rows += [("a", _t(i + 1), "OK", 1.0) for i in range(6)]
    rows += [("a", _t(10), "ERROR", 1.0), ("a", _t(11), "OK", 1.0), ("a", _t(12), "ERROR", 1.0)]
    got = _run(spark, rows)
    assert [m[1] for m in got] == [_t(10)]


def _random_stream(seed: int, n: int, keys: int = 3, dirty: bool = False):
    """Status distribution per the reference generator: temp uniform 10-180;
    >160 ERROR; >140 or 20% chance → WARNING/ERROR coin-flip; else OK.
    With dirty=True, ~10% of statuses and ~15% of temperatures are NULL
    (independently), exercising the null-measurement/null-status contract."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        key = f"s{rng.randrange(keys)}"
        temp = float(round(10 + rng.random() * 170))
        if temp > 160:
            status = "ERROR"
        elif temp > 140 or rng.random() < 0.2:
            status = rng.choice(["WARNING", "ERROR"])
        else:
            status = "OK"
        if dirty:
            if rng.random() < 0.10:
                status = None
            if rng.random() < 0.15:
                temp = None
        rows.append((key, _t(i * 7), status, temp))
    return rows


def _brute_want(rows):
    want = []
    for key in sorted({r[0] for r in rows}):
        per_key = [(r[1], r[2], r[3]) for r in rows if r[0] == key]
        for m in brute_force_matches(per_key):
            want.append(
                (
                    key,
                    m["event_time"],
                    m["non_errors"],
                    m["history"],
                    m["min_temperature"],
                    m["avg_temperature"],
                    m["max_temperature"],
                    m["elapsed"],
                )
            )
    want.sort(key=lambda r: (r[0], r[1]))
    return want


def test_min_b_zero_emits_adjacent_error_matches(spark):
    """Pattern A B{0,max} C admits matches with ZERO interior rows; those
    have no B-segment aggregate at all, so the join to segs must be a
    left join with empty-B defaults — the inner join silently dropped
    them (latent: every in-repo caller passes min_b >= 1)."""
    rows = [
        ("a", _t(0), "ERROR", 10.0),
        ("a", _t(5), "ERROR", 30.0),  # adjacent pair: zero B rows
        ("a", _t(20), "ERROR", 100.0),
        ("a", _t(25), "OK", 50.0),
        ("a", _t(30), "ERROR", 200.0),
    ]
    got = _run(spark, rows, min_b=0)
    # skip-past-last-row consumes the ERROR at t=5; the next anchor is t=20
    assert got == [
        ("a", _t(0), 0, "", 10.0, 20.0, 30.0, 5),
        ("a", _t(20), 1, "OK", 50.0, 116.67, 200.0, 10),
    ]
    # and the brute-force NFA agrees on random streams
    for seed in range(3):
        rnd = _random_stream(seed, 120)
        got = _run(spark, rnd, min_b=0)
        want = []
        for key in sorted({r[0] for r in rnd}):
            per_key = [(r[1], r[2], r[3]) for r in rnd if r[0] == key]
            for m in brute_force_matches(per_key, min_b=0):
                want.append(
                    (key, m["event_time"], m["non_errors"], m["history"],
                     m["min_temperature"], m["avg_temperature"],
                     m["max_temperature"], m["elapsed"])
                )
        want.sort(key=lambda r: (r[0], r[1]))
        assert got == want, f"seed={seed}"


def test_property_matches_brute_force(spark):
    for seed in range(5):
        rows = _random_stream(seed, 120)
        got = _run(spark, rows)
        assert got == _brute_want(rows), f"seed={seed}"


def test_property_matches_brute_force_on_dirty_streams(spark):
    """Null contract on random streams: a NULL status matches no pattern
    variable (breaks contiguity, anchors nothing); a NULL temperature is
    skipped by min/max, voids avg when it is A's or C's own reading, and
    keeps the rows+2 denominator when it is a B's. Distributed plan and
    brute-force oracle must agree row-for-row."""
    matched = 0
    for seed in range(8):
        rows = _random_stream(seed, 150, dirty=True)
        got = _run(spark, rows)
        assert got == _brute_want(rows), f"seed={seed}"
        matched += len(got)
    assert matched > 10  # the dirt must not have made the property vacuous


def test_event_time_reorder_property_pure_python():
    """VERDICT_r3 item 5: the event-time mode's reorder buffer must make
    results arrival-order-INDEPENDENT whenever disorder is bounded by the
    lateness. Property: for random streams, random bounded shuffles, and
    random micro-batch splits, feeding `_advance_key` the disordered
    batches with lateness >= disorder and then flushing the frontier emits
    EXACTLY the matches of a single event-ordered pass. This isolates the
    reordering logic (frontier release, pending buffer, cross-batch state)
    from the NFA itself, which has its own brute-force gate above."""
    import pandas as pd

    from time_series_and_data_lakes_spark.streaming.cep_stream import _advance_key

    nfa_args = ("time", "status", "temperature", "ERROR", 1, 5, 60_000_000, 2)

    def run(batches, lateness_us):
        state, out = None, []
        for rows in batches:
            pdf = pd.DataFrame(
                {
                    "time": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "status": [r[1] for r in rows],
                    "temperature": [r[2] for r in rows],
                }
            )
            state, emitted = _advance_key(state, iter([pdf]), *nfa_args, lateness_us)
            out += emitted
        return state, out

    for seed in range(40):
        rng = random.Random(seed)
        # random stream: ERROR-heavy enough that A..C patterns occur
        t, rows = 0, []
        for _ in range(rng.randrange(50, 220)):
            t += rng.randrange(1_000_000, 20_000_000)  # 1-20 s gaps
            status = rng.choice(["OK", "WARNING", "ERROR", "ERROR"])
            rows.append((t, status, float(rng.randrange(10, 181))))

        # reference: one event-ordered pass, processing-time mode
        _, want = run([rows], None)

        # bounded disorder: jitter-sort (each sort key displaced <= d). The
        # NEEDED lateness is the max event-time regression in the arrival
        # sequence (up to 2d under this model) — compute it exactly so the
        # property is tight: lateness == actual disorder bound.
        d_us = rng.randrange(5_000_000, 60_000_000)
        jittered = sorted(rows, key=lambda r: r[0] + rng.randrange(-d_us, d_us))
        running_max, lateness_us = 0, 0
        for r in jittered:
            lateness_us = max(lateness_us, running_max - r[0])
            running_max = max(running_max, r[0])
        # random micro-batch split
        batches, i = [], 0
        while i < len(jittered):
            n = rng.randrange(1, 40)
            batches.append(jittered[i : i + n])
            i += n
        # flush: a far-future non-ERROR row advances the frontier past
        # every pending row; it can never create or complete a match
        flush_t = rows[-1][0] + lateness_us + 120_000_000
        batches.append([(flush_t, "OK", 0.0)])

        _, got = run(batches, lateness_us)
        assert got == want, f"seed {seed}: event-time replay diverged"


def test_event_time_stream_equals_batch_twin(spark):
    """Binds the streaming event-time mode to its driver-gated batch twin
    (`queries.f3_cep_event_time`, VERDICT_r4 item 6): for random streams
    under random bounded disorder, `_advance_key` with lateness >= disorder
    plus a frontier flush emits exactly the matches of the declarative
    `match_error_pattern` with F3's parameterization (B{1,3}, event-time
    order). Timestamps are unique per key, so the tiebreak is inert here —
    its determinism under duplicate timestamps is pinned by the F3 oracle."""
    import pandas as pd

    from time_series_and_data_lakes_spark.streaming.cep_stream import _advance_key

    within_us = 60_000_000
    nfa_args = ("time", "status", "temperature", "ERROR", 1, 3, within_us, 2)

    for seed in range(5):
        rng = random.Random(1000 + seed)
        t, rows = 0, []
        for i in range(rng.randrange(80, 200)):
            t += rng.randrange(1_000_000, 20_000_000)
            status = rng.choice(["OK", "WARNING", "ERROR", "ERROR"])
            rows.append((t, status, float(rng.randrange(10, 181))))

        # batch twin: one key, event-time order, B{1,3}
        df = spark.createDataFrame(
            [("k", dt.datetime.utcfromtimestamp(r[0] / 1e6), r[1], r[2], i)
             for i, r in enumerate(rows)],
            SCHEMA + ", event_id long",
        )
        want = sorted(
            tuple(r)
            for r in match_error_pattern(
                df, min_b=1, max_b=3, within="INTERVAL 1 MINUTE", tiebreak="event_id"
            ).collect()
        )

        # streaming event-time mode on a bounded-disorder arrival order
        d_us = rng.randrange(5_000_000, 60_000_000)
        jittered = sorted(rows, key=lambda r: r[0] + rng.randrange(-d_us, d_us))
        running_max, lateness_us = 0, 0
        for r in jittered:
            lateness_us = max(lateness_us, running_max - r[0])
            running_max = max(running_max, r[0])
        flush_t = rows[-1][0] + lateness_us + 120_000_000
        batches = [jittered, [(flush_t, "OK", 0.0)]]
        state, got = None, []
        for batch in batches:
            pdf = pd.DataFrame(
                {
                    "time": pd.to_datetime([r[0] for r in batch], unit="us"),
                    "status": [r[1] for r in batch],
                    "temperature": [r[2] for r in batch],
                }
            )
            state, emitted = _advance_key(state, iter([pdf]), *nfa_args, lateness_us)
            got += emitted

        got_rows = sorted(
            (
                "k",
                dt.datetime.utcfromtimestamp(m["a_time_us"] / 1e6),
                m["non_errors"],
                m["history"],
                m["min_temperature"],
                m["avg_temperature"],
                m["max_temperature"],
                m["elapsed"],
            )
            for m in got
        )
        assert got_rows == want, f"seed {seed}: stream/batch-twin divergence"


def test_event_time_stream_equals_batch_twin_on_dirty_streams(spark):
    """The streaming NFA's null path bound to the batch operator's: None
    status kills active candidates and anchors nothing; a missing
    temperature (NaN through the Arrow float64 batch) is skipped by
    min/max, voids avg at A/C, and keeps the rows+2 denominator at B.
    Same harness as the clean twin above, with dirty streams."""
    import math

    import pandas as pd

    from time_series_and_data_lakes_spark.streaming.cep_stream import _advance_key

    within_us = 60_000_000
    nfa_args = ("time", "status", "temperature", "ERROR", 1, 3, within_us, 2)

    matched = 0
    for seed in range(6):
        rng = random.Random(2000 + seed)
        t, rows = 0, []
        for _ in range(rng.randrange(80, 200)):
            t += rng.randrange(1_000_000, 20_000_000)
            status = rng.choice(["OK", "WARNING", "ERROR", "ERROR"])
            temp = float(rng.randrange(10, 181))
            if rng.random() < 0.10:
                status = None
            if rng.random() < 0.15:
                temp = None
            rows.append((t, status, temp))

        df = spark.createDataFrame(
            [("k", dt.datetime.utcfromtimestamp(r[0] / 1e6), r[1], r[2], i)
             for i, r in enumerate(rows)],
            SCHEMA + ", event_id long",
        )
        want = sorted(
            tuple(r)
            for r in match_error_pattern(
                df, min_b=1, max_b=3, within="INTERVAL 1 MINUTE", tiebreak="event_id"
            ).collect()
        )

        d_us = rng.randrange(5_000_000, 60_000_000)
        jittered = sorted(rows, key=lambda r: r[0] + rng.randrange(-d_us, d_us))
        running_max, lateness_us = 0, 0
        for r in jittered:
            lateness_us = max(lateness_us, running_max - r[0])
            running_max = max(running_max, r[0])
        flush_t = rows[-1][0] + lateness_us + 120_000_000
        batches = [jittered, [(flush_t, "OK", 0.0)]]
        state, got = None, []
        for batch in batches:
            pdf = pd.DataFrame(
                {
                    "time": pd.to_datetime([r[0] for r in batch], unit="us"),
                    "status": [r[1] for r in batch],
                    # float64 column: None becomes NaN, the shape a real
                    # Arrow micro-batch delivers for a null measurement
                    "temperature": pd.array(
                        [r[2] for r in batch], dtype="float64"
                    ),
                }
            )
            state, emitted = _advance_key(state, iter([pdf]), *nfa_args, lateness_us)
            got += emitted

        def _clean(v):
            return None if v is None or (isinstance(v, float) and math.isnan(v)) else v

        got_rows = sorted(
            (
                "k",
                dt.datetime.utcfromtimestamp(m["a_time_us"] / 1e6),
                m["non_errors"],
                m["history"],
                _clean(m["min_temperature"]),
                _clean(m["avg_temperature"]),
                _clean(m["max_temperature"]),
                m["elapsed"],
            )
            for m in got
        )
        assert got_rows == want, f"seed {seed}: dirty stream/batch-twin divergence"
        matched += len(got_rows)
    assert matched > 10  # dirt must leave the property non-vacuous


def test_f3_oracle_parity_under_duplicate_timestamps(spark, tmp_path):
    """The fixture's timestamps are (probably) unique per sensor, so the
    driver gate never exercises f3's tiebreak path. This test does: a
    synthetic events table where several rows share (user_id, ts) — an
    error and non-errors at the SAME instant, in both relative event_id
    orders — must still hash-match the DuckDB oracle, proving the
    (time, event_id) ordering is applied identically on both engines."""
    import pandas as pd

    from tests.oracle_util import assert_matches_oracle
    from time_series_and_data_lakes_spark import queries as Q

    t0 = dt.datetime(2024, 3, 1)

    def us(seconds):
        return t0 + dt.timedelta(seconds=seconds)

    rows = [
        # key 1: error/ok at the same ts twice, opposite event_id orders —
        # (time, event_id) order is err(1) ok(2) ok(3) err(4): a B{1,3} match
        (1, us(0), 1, "error", 150.0, "{}"),
        (2, us(0), 1, "ok", 50.0, "{}"),
        (3, us(10), 1, "ok", 60.0, "{}"),
        (4, us(10), 1, "error", 160.0, "{}"),
        # key 2: same timestamps, flipped id order — ok(5) err(6) err(7)
        # ok(8): the errors are ADJACENT under (ts, event_id), B-count 0,
        # no match; only the tiebreak distinguishes this from key 1
        (5, us(0), 2, "ok", 50.0, "{}"),
        (6, us(0), 2, "error", 150.0, "{}"),
        (7, us(10), 2, "error", 160.0, "{}"),
        (8, us(10), 2, "ok", 60.0, "{}"),
        # key 3: duplicates inside the B segment — history order pinned by id
        (9, us(0), 3, "error", 150.0, "{}"),
        (10, us(5), 3, "warn", 50.0, "{}"),
        (11, us(5), 3, "ok", 60.0, "{}"),
        (12, us(9), 3, "error", 160.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf_dir = str(tmp_path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
    )
    pq.write_table(table, f"{sf_dir}/events.parquet")

    out = Q.QUERIES["f3_cep_event_time"](spark, sf_dir)
    got = {(r["sensor_id"], r["history"]) for r in out.collect()}
    # sanity on the semantics themselves before the oracle comparison:
    # key 1 matches with two Bs, key 2 has no B between its errors, key 3's
    # same-ts B pair is ordered warn(10) then ok(11) by event_id
    assert (1, "ok-ok") in got
    assert not any(k == 2 for k, _ in got)
    assert (3, "warn-ok") in got
    assert_matches_oracle(out, sf_dir, Q.ORACLES["f3_cep_event_time"], "f3_dup_ts")


def _write_synthetic_events(tmp_path, rows):
    """rows: (event_id, ts, user_id, event_type, value) → events.parquet."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        [(*r, "{}") for r in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
    )
    pq.write_table(table, f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_stream_advance_drops_null_event_times():
    """pandas 2.x converts NaT to INT64_MIN through .astype('int64') —
    un-dropped, a null-time ERROR row feeds the NFA as an impossibly old
    event and fabricates matches with garbage negative elapsed. The batch
    twin's window arithmetic null-propagates such rows out."""
    import pandas as pd

    from time_series_and_data_lakes_spark.streaming.cep_stream import _advance_key

    t0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "time": [pd.NaT, t0, t0 + pd.Timedelta(seconds=1), t0 + pd.Timedelta(seconds=2)],
            "status": ["ERROR", "ERROR", "OK", "ERROR"],
            "temperature": [99.0, 1.0, 2.0, 3.0],
        }
    )
    state, out = _advance_key(
        None, iter([pdf]), "time", "status", "temperature",
        "ERROR", 1, 5, 60_000_000, 2, None,
    )
    assert len(out) == 1
    assert out[0]["elapsed"] == 2 and out[0]["history"] == "OK"


def test_stream_frontier_survives_epoch_zero_max_seen():
    """A stored event-time frontier of exactly epoch 0 is falsy; an
    `or`-based default would discard it and let pre-1970 rows drag the
    frontier backwards."""
    import pandas as pd

    from time_series_and_data_lakes_spark.streaming.cep_stream import _advance_key

    # state: no candidate, empty reorder buffer, max_seen == epoch 0
    state = (None, None, [], [], [], [], [], 0)
    pdf = pd.DataFrame(
        {
            "time": [pd.Timestamp("1969-12-31 23:59:50")],  # -10 s epoch
            "status": ["OK"],
            "temperature": [1.0],
        }
    )
    new_state, _ = _advance_key(
        state, iter([pdf]), "time", "status", "temperature",
        "ERROR", 1, 5, 60_000_000, 2, 1_000_000,  # 1 s lateness
    )
    # frontier stays epoch0 - 1s: the -10 s row is releasable, not
    # re-buffered behind a regressed frontier
    assert new_state[4] == []  # pending times drained
    assert new_state[7] == 0  # frontier anchor did not regress
