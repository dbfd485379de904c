"""Unit tests for the time-series operator edge cases SURVEY.md §7 flags:
single-observation keys, grid points exactly on observations (including the
final one), varchar LOCF, and bin boundaries."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators import resample, sequence_grid, time_bin


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)


def _obs(spark, rows):
    return spark.createDataFrame(
        rows, "sensor_id string, time timestamp, temperature double, status string"
    )


def test_resample_exact_hits_and_midpoints(spark):
    df = _obs(spark, [("a", _ts(0), 10.0, "OK"), ("a", _ts(10), 20.0, "ERROR")])
    out = {
        r["time"]: (r["temperature"], r["status"])
        for r in resample(
            df,
            ["sensor_id"],
            step="INTERVAL 5 SECONDS",
            linear={"temperature": "temperature"},
            locf={"status": "status"},
        ).collect()
    }
    assert out[_ts(0)] == (10.0, "OK")
    assert out[_ts(5)] == (15.0, "OK")
    # final grid point lands exactly on the last observation
    assert out[_ts(10)] == (20.0, "ERROR")


def test_resample_single_observation_key(spark):
    df = _obs(spark, [("b", _ts(5), 99.0, "OK")])
    rows = resample(
        df,
        ["sensor_id"],
        step="INTERVAL 1 SECOND",
        linear={"temperature": "temperature"},
        locf={"status": "status"},
    ).collect()
    assert len(rows) == 1
    assert rows[0]["temperature"] == 99.0
    assert rows[0]["status"] == "OK"


def test_resample_locf_only_varchar(spark):
    df = _obs(spark, [("a", _ts(0), 1.0, "OK"), ("a", _ts(9), 2.0, "ERROR")])
    out = resample(df, ["sensor_id"], step="INTERVAL 3 SECONDS", locf={"status": "status"})
    got = [r["status"] for r in out.orderBy("time").collect()]
    assert got == ["OK", "OK", "OK", "ERROR"]  # 0,3,6,9


def test_resample_identity_when_grid_equals_observations(spark):
    df = _obs(spark, [("a", _ts(i), float(i), "OK") for i in range(5)])
    out = resample(
        df, ["sensor_id"], step="INTERVAL 1 SECOND", linear={"temperature": "temperature"}
    )
    got = [(r["time"], r["temperature"]) for r in out.orderBy("time").collect()]
    assert got == [(_ts(i), float(i)) for i in range(5)]


def test_sequence_grid_counts_and_bounds(spark):
    df = _obs(spark, [("a", _ts(0), 0.0, "OK"), ("a", _ts(10), 1.0, "OK")])
    grid = sequence_grid(df, ["sensor_id"], step="INTERVAL 4 SECONDS").collect()
    assert [r["time"] for r in sorted(grid, key=lambda r: r["time"])] == [
        _ts(0),
        _ts(4),
        _ts(8),
    ]  # stop bound inclusive only on exact hit


def test_slot_explode_exact_across_chunk_boundaries(spark):
    # the chunked two-level explode must enumerate [0, n] exactly once for
    # ranges spanning several _SLOT_CHUNK blocks, including partial first
    # and last blocks
    from pyspark.sql import functions as F

    from time_series_and_data_lakes_spark.operators.timeseries import (
        _SLOT_CHUNK,
        _explode_slot_range,
    )

    lo, hi = _SLOT_CHUNK - 3, 3 * _SLOT_CHUNK + 5
    df = spark.range(1).select(
        F.lit(lo).cast("bigint").alias("__ks"), F.lit(hi).cast("bigint").alias("__ke")
    )
    out = _explode_slot_range(df).agg(
        F.count("*").alias("n"),
        F.min("__k").alias("lo"),
        F.max("__k").alias("hi"),
        F.count_distinct("__k").alias("d"),
    ).collect()[0]
    assert (out["n"], out["lo"], out["hi"], out["d"]) == (hi - lo + 1, lo, hi, hi - lo + 1)


def test_resample_sparse_series_streams_giant_gap(spark):
    # one 30M-slot gap (a ~1-year sensor outage on a 1-second grid): the
    # pre-chunking formulation materialized the whole gap as ONE in-row
    # array (~240 MB of bigints before struct/lerp columns); the chunked
    # explode streams it through codegen. Count + endpoint lerps only — the
    # 30M output rows never collect.
    import datetime as dt

    from pyspark.sql import functions as F

    n_slots = 30_000_000
    t0 = dt.datetime(2024, 1, 1)
    df = _obs(
        spark,
        [("a", t0, 0.0, "OK"), ("a", t0 + dt.timedelta(seconds=n_slots), 300.0, "OK")],
    )
    out = resample(
        df, ["sensor_id"], step="INTERVAL 1 SECOND", linear={"temperature": "temperature"}
    )
    agg = out.agg(
        F.count("*").alias("n"), F.min("temperature"), F.max("temperature")
    ).collect()[0]
    assert agg[0] == n_slots + 1
    assert (agg[1], agg[2]) == (0.0, 300.0)


def test_resample_property_matches_python_reference(spark):
    """Property gate for the flagship operator, independent of the DuckDB
    oracle (a bug mirrored into both engines' SQL would still hash-match):
    a literal Python interpolator over random per-key series — random gaps,
    random steps, ~20% null measurements and ~20% null statuses — must
    reproduce resample() row for row. Reference semantics: the grid spans
    [min t, max t] of ALL rows (a null cell still bounds the grid); per
    column, prev = last non-null at t <= g, next = first non-null at t > g,
    verbatim when prev sits exactly on g, NULL when either side is missing;
    lerp in epoch-microsecond space with the same IEEE op order."""
    import random

    def reference(rows, step_s):
        # rows: [(t_us, temp|None, status|None)] sorted, unique t
        out = []
        t0, t1 = rows[0][0], rows[-1][0]
        step = step_s * 1_000_000
        temps = [(t, v) for t, v, _ in rows if v is not None]
        stats = [(t, s) for t, _, s in rows if s is not None]
        for k in range((t1 - t0) // step + 1):
            g = t0 + k * step
            prev = next((p for p in reversed(temps) if p[0] <= g), None)
            nxt = next((p for p in temps if p[0] > g), None)
            if prev is not None and prev[0] == g:
                temp = prev[1]
            elif prev is None or nxt is None:
                temp = None
            else:
                frac = (g - prev[0]) / (nxt[0] - prev[0])
                temp = prev[1] + (nxt[1] - prev[1]) * frac
            locf = next((s for t, s in reversed(stats) if t <= g), None)
            out.append((g, temp, locf))
        return out

    for seed in range(4):
        rng = random.Random(seed)
        step_s = rng.choice([1, 3, 7])
        rows_by_key, df_rows = {}, []
        for key in ("a", "b", "c"):
            t, rows = 0, []
            for _ in range(rng.randrange(20, 60)):
                t += rng.randrange(1, 20) * 1_000_000
                temp = None if rng.random() < 0.2 else float(rng.randrange(10, 200))
                status = None if rng.random() < 0.2 else rng.choice(["OK", "WARN"])
                rows.append((t, temp, status))
                df_rows.append(
                    (key, dt.datetime.utcfromtimestamp(t / 1e6), temp, status)
                )
            rows_by_key[key] = rows
        df = spark.createDataFrame(
            df_rows, "sensor_id string, time timestamp, temperature double, status string"
        )
        out = resample(
            df,
            ["sensor_id"],
            step=f"INTERVAL {step_s} SECONDS",
            linear={"temperature": "temperature"},
            locf={"status": "status"},
        )
        got = sorted(
            (r["sensor_id"], r["time"], r["temperature"], r["status"])
            for r in out.collect()
        )
        want = sorted(
            (key, dt.datetime.utcfromtimestamp(g / 1e6), temp, locf)
            for key, rows in rows_by_key.items()
            for g, temp, locf in reference(rows, step_s)
        )
        assert got == want, f"seed={seed} step={step_s}"


def test_time_bin_floors_to_epoch_multiple(spark):
    df = spark.createDataFrame([(dt.datetime(2024, 1, 1, 0, 0, 37),)], "t timestamp")
    got = df.select(time_bin("t", "30 seconds").alias("b")).collect()[0]["b"]
    assert got == dt.datetime(2024, 1, 1, 0, 0, 30)


def test_lttb_matches_reference_implementation(spark):
    """LTTB vs the textbook implementation (Steinarsson 2013 pseudocode,
    written independently of the Spark fold) — includes the n <= threshold
    passthrough series. Guards against a bug mirrored into the SQL oracle."""
    import datetime as dt
    import random

    from time_series_and_data_lakes_spark.operators.timeseries import lttb_downsample

    def lttb_ref(pts, t):
        n = len(pts)
        if n <= t:
            return pts
        mid, nb = n - 2, t - 2
        sel = [pts[0]]
        prev = pts[0]
        for b in range(nb):
            lo = 1 + (b * mid) // nb
            hi = ((b + 1) * mid) // nb
            if b < nb - 1:
                nlo = 1 + ((b + 1) * mid) // nb
                nhi = ((b + 2) * mid) // nb
                sx = 0.0
                for p in pts[nlo : nhi + 1]:
                    sx += p[0]
                sy = 0.0
                for p in pts[nlo : nhi + 1]:
                    sy += p[1]
                ax, ay = sx / (nhi - nlo + 1), sy / (nhi - nlo + 1)
            else:
                ax, ay = pts[-1]
            px, py = prev
            best, barea = None, -1.0
            for j in range(lo, hi + 1):
                cx, cy = pts[j]
                area = abs((px - ax) * (cy - py) - (px - cx) * (py - ay))
                if area > barea:
                    best, barea = pts[j], area
            sel.append(best)
            prev = best
        sel.append(pts[-1])
        return sel

    rng = random.Random(3)
    epoch = dt.datetime(1970, 1, 1)
    rows = []
    for k in range(5):
        t0 = dt.datetime(2024, 1, 1)
        npts = 8 + k * 23  # k=0 exercises the n <= threshold passthrough
        for i in range(npts):
            rows.append(
                (f"s{k}", t0 + dt.timedelta(seconds=i * 13 + k), rng.uniform(-50, 150))
            )
    df = spark.createDataFrame(rows, "sensor_id string, time timestamp, temperature double")
    got = {}
    for r in lttb_downsample(df, ["sensor_id"], "time", "temperature", 12).collect():
        got.setdefault(r["sensor_id"], []).append((r["time"], r["temperature"]))
    by_key = {}
    for s, t, v in rows:
        by_key.setdefault(s, []).append((t, v))
    for s, pts in by_key.items():
        pts.sort()
        ref = lttb_ref([((p[0] - epoch).total_seconds() * 1e6, p[1]) for p in pts], 12)
        want = sorted((epoch + dt.timedelta(microseconds=x), y) for x, y in ref)
        assert sorted(got[s]) == want, s


def test_interval_parser_rejects_malformed_strings_descriptively():
    """Every operator takes interval strings straight from the user; a
    typo must raise a descriptive ValueError, never KeyError/IndexError
    from the parsing internals (fuzz-found on ''/'1 hr'/'.5 wss')."""
    import pytest

    from time_series_and_data_lakes_spark.operators.timeseries import (
        _interval_micros,
    )

    assert _interval_micros("30 seconds") == 30_000_000
    assert _interval_micros(" INTERVAL '5' minutes ") == 300_000_000
    assert _interval_micros("1.5 days") == int(1.5 * 86_400_000_000)
    with pytest.raises(ValueError, match="expected '<qty> <unit>'"):
        _interval_micros("")
    with pytest.raises(ValueError, match="expected '<qty> <unit>'"):
        _interval_micros("5")
    with pytest.raises(ValueError, match="bad interval unit 'hr'"):
        _interval_micros("1 hr")
    with pytest.raises(ValueError, match="bad interval quantity"):
        _interval_micros("x hours")


def test_interval_parser_rejects_nonfinite_and_nonpositive_quantities():
    """Review-found: 'inf hours' overflowed int(), 'nan days' raised the
    cryptic float-NaN error, and '0 seconds' passed validation only to
    divide-by-zero later in time_bin."""
    import pytest

    from time_series_and_data_lakes_spark.operators.timeseries import (
        _interval_micros,
    )

    for bad in ("inf hours", "nan days", "1e400 seconds", "0 seconds", "-5 minutes"):
        with pytest.raises(ValueError, match="positive finite"):
            _interval_micros(bad)


def test_grafana_macros_escape_quotes():
    """The macro values land inside SQL string literals that spark.sql
    executes — embedded quotes must be doubled, not break the literal or
    inject a predicate."""
    from time_series_and_data_lakes_spark.functions import grafana_macros

    sql = grafana_macros(
        "SELECT * FROM t WHERE $__timeFilter AND measure_name = $__measure",
        start="2024-01-05",
        finish="2024-01-20' OR '1'='1",
        interval_ms=30000,
        measure="o'clock",
    )
    assert "TIMESTAMP '2024-01-20'' OR ''1''=''1'" in sql
    assert "measure_name = 'o''clock'" in sql
