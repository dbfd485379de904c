"""Hypertable rollup cascade: materialized levels serve exactly the same
answers as aggregating raw data, at any query bin the levels divide."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.rollup import (
    materialize_rollup,
    merge_partials,
    pick_level,
    read_rollup,
    rollup_partials,
    serve_stats,
)


@pytest.fixture()
def raw(spark):
    rows = [
        (f"s{i % 3}", dt.datetime(2024, 1, 1 + d, h, m), float(i % 17) + 0.25)
        for i, (d, h, m) in enumerate(
            (d, h, m) for d in range(2) for h in range(0, 24, 3) for m in (0, 7, 31)
        )
    ]
    return spark.createDataFrame(rows, "sensor_id string, time timestamp, temperature double")


def _direct(raw, step):
    from time_series_and_data_lakes_spark.operators.timeseries import time_bin

    return {
        tuple(r)
        for r in raw.groupBy(
            "sensor_id", time_bin("time", step).alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.col("temperature").cast("decimal(27,6)")).cast("double")
                / F.count("*")
            ).alias("avg_value"),
            F.min("temperature").alias("min_value"),
            F.max("temperature").alias("max_value"),
        )
        .select("sensor_id", "bin", "n", "avg_value", "min_value", "max_value")
        .collect()
    }


def test_cascade_equals_direct_aggregation(spark, raw):
    hourly = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    daily = merge_partials(hourly, ["sensor_id"], "1 day")
    got = {tuple(r) for r in serve_stats(daily, ["sensor_id"]).collect()}
    assert got == _direct(raw, "1 day")


def test_materialized_levels_round_trip_and_prune(spark, raw, tmp_path):
    hourly = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    path = str(tmp_path / "rollup_1h")
    materialize_rollup(hourly, path)

    stored = read_rollup(spark, path)
    # date partition column present and prunable
    assert "date" in stored.columns
    pruned = stored.filter(F.col("date") == "2024-01-02")
    assert pruned.count() > 0

    # serving a 6-hour dashboard bin from the stored hourly level matches
    # aggregating raw directly
    six = merge_partials(stored.drop("date"), ["sensor_id"], "6 hours")
    got = {tuple(r) for r in serve_stats(six, ["sensor_id"]).collect()}
    assert got == _direct(raw, "6 hours")


def test_pick_level_chooses_coarsest_divisor(spark):
    levels = {"1 minute": "p1", "1 hour": "p2", "1 day": "p3"}
    assert pick_level(levels, "1 day") == "1 day"
    assert pick_level(levels, "6 hours") == "1 hour"
    assert pick_level(levels, "2 minutes") == "1 minute"
    with pytest.raises(ValueError):
        pick_level({"1 hour": "p"}, "90 minutes")


def test_incremental_refresh_equals_full_materialization(spark, raw, tmp_path):
    from time_series_and_data_lakes_spark.operators.rollup import refresh_rollup

    path = str(tmp_path / "hourly")
    # split mid-day-2 so the second batch BOTH extends an existing date
    # partition (merge path) and creates a new one (insert path)
    cut = dt.datetime(2024, 1, 2, 9, 0)
    first = raw.filter(F.col("time") < F.lit(cut))
    second = raw.filter(F.col("time") >= F.lit(cut))
    assert first.count() and second.count()

    n1 = refresh_rollup(spark, first, path, ["sensor_id"], "time", "1 hour", "temperature")
    assert n1 > 0
    n2 = refresh_rollup(spark, second, path, ["sensor_id"], "time", "1 hour", "temperature")
    assert n2 > 0

    refreshed = read_rollup(spark, path)
    full = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    got = {tuple(r) for r in serve_stats(refreshed, ["sensor_id"]).collect()}
    want = {tuple(r) for r in serve_stats(full, ["sensor_id"]).collect()}
    assert got == want
    # schema of refreshed partitions matches full materialization (the
    # widened merge decimal is cast back before writing)
    assert dict(refreshed.drop("date").dtypes) == dict(full.dtypes)


def test_incremental_refresh_accumulates_null_date_partials(spark, raw, tmp_path):
    """Rows with a NULL time produce a NULL bin/date partial stored in the
    writer's default partition. A second refresh carrying more null-time
    rows must MERGE with those stored partials, not replace them — a plain
    isin() date filter evaluates NULL for stored null-date rows and the
    partition overwrite would silently destroy the accumulated counts."""
    from time_series_and_data_lakes_spark.operators.rollup import (
        refresh_rollup,
        rollup_partials,
    )

    path = str(tmp_path / "hourly_null")
    schema = "sensor_id string, time timestamp, temperature double"
    b1 = spark.createDataFrame(
        [("s0", None, 1.5), ("s0", dt.datetime(2024, 1, 1, 0, 5), 2.0)], schema
    )
    b2 = spark.createDataFrame(
        [("s0", None, 3.5), ("s0", dt.datetime(2024, 1, 1, 1, 5), 4.0)], schema
    )
    assert refresh_rollup(spark, b1, path, ["sensor_id"], "time", "1 hour", "temperature")
    assert refresh_rollup(spark, b2, path, ["sensor_id"], "time", "1 hour", "temperature")

    refreshed = read_rollup(spark, path)
    full = rollup_partials(
        b1.unionByName(b2), ["sensor_id"], "time", "1 hour", "temperature"
    )
    got = {tuple(r) for r in serve_stats(refreshed, ["sensor_id"]).collect()}
    want = {tuple(r) for r in serve_stats(full, ["sensor_id"]).collect()}
    assert got == want
    # specifically: BOTH null-time rows are in the null-bin partial
    (null_bin,) = [r for r in refreshed.collect() if r["bin"] is None]
    assert null_bin["n"] == 2


def test_incremental_refresh_touches_only_affected_dates(spark, raw, tmp_path):
    import os

    from time_series_and_data_lakes_spark.operators.rollup import refresh_rollup

    path = str(tmp_path / "hourly")
    day1 = raw.filter(F.to_date("time") == "2024-01-01")
    day2 = raw.filter(F.to_date("time") == "2024-01-02")
    refresh_rollup(spark, day1, path, ["sensor_id"], "time", "1 hour", "temperature")

    def snapshot(date):
        d = os.path.join(path, f"date={date}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = snapshot("2024-01-01")
    refresh_rollup(spark, day2, path, ["sensor_id"], "time", "1 hour", "temperature")
    # day-1 partition files byte-untouched by a refresh that lands in day 2
    assert snapshot("2024-01-01") == before
    assert snapshot("2024-01-02")


def test_streaming_rollup_maintenance_equals_batch(spark, raw, tmp_path):
    # Continuous-aggregate path: the raw rows arrive as a stream (parquet
    # file source, multiple micro-batches), each micro-batch folds into
    # the hourly level via refresh_rollup; the maintained level must serve
    # exactly what batch materialization over all raw serves.
    from time_series_and_data_lakes_spark.operators.rollup import (
        start_rollup_refresh_sink,
    )

    src = str(tmp_path / "raw_stream")
    # several files -> several micro-batches (maxFilesPerTrigger=1)
    for i, part in enumerate(raw.randomSplit([1.0, 1.0, 1.0], seed=5)):
        part.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    path = str(tmp_path / "hourly_stream")
    q = start_rollup_refresh_sink(
        stream,
        path,
        ["sensor_id"],
        "time",
        "1 hour",
        "temperature",
        str(tmp_path / "rckpt"),
    )
    q.awaitTermination(120)

    maintained = read_rollup(spark, path)
    full = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    got = {tuple(r) for r in serve_stats(maintained, ["sensor_id"]).collect()}
    want = {tuple(r) for r in serve_stats(full, ["sensor_id"]).collect()}
    assert got == want


@pytest.mark.parametrize(
    "fail_point",
    ["mid_stage", "after_stage", "mid_swap", "mid_install", "after_install", "before_cleanup"],
)
def test_sink_crash_replay_never_double_counts(spark, raw, tmp_path, fail_point):
    """Round-5 verdict item 4: the old sink wrote its batch marker AFTER
    the partition overwrite, so a crash between the two double-counted the
    batch on replay. The staged-commit protocol must replay every crash
    point into the exact full-materialization state."""
    from time_series_and_data_lakes_spark.operators import rollup as R
    from time_series_and_data_lakes_spark.sources import commit

    src = str(tmp_path / "raw_stream")
    for part in raw.randomSplit([1.0, 1.0], seed=7):
        part.coalesce(1).write.mode("append").parquet(src)

    def stream():
        return (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    path = str(tmp_path / "hourly_stream")
    ckpt = str(tmp_path / "rckpt")
    args = (path, ["sensor_id"], "time", "1 hour", "temperature", ckpt)

    # run 1: crash injected at the chosen protocol transition
    commit._FAIL_POINT = fail_point
    try:
        q = R.start_rollup_refresh_sink(stream(), *args)
        with pytest.raises(Exception, match="injected sink crash"):
            q.awaitTermination(120)
            q.processAllAvailable()
    except Exception as e:  # streaming wraps the foreachBatch error
        assert "injected sink crash" in str(e)
    finally:
        commit._FAIL_POINT = None
        for active in spark.streams.active:
            active.stop()

    # run 2: replay from the checkpoint with no fault — the crashed batch
    # re-runs (same batch id) and must install, not re-fold
    q2 = R.start_rollup_refresh_sink(stream(), *args)
    q2.awaitTermination(180)

    maintained = read_rollup(spark, path)
    full = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    got = {tuple(r) for r in serve_stats(maintained, ["sensor_id"]).collect()}
    want = {tuple(r) for r in serve_stats(full, ["sensor_id"]).collect()}
    assert got == want
    # protocol leftovers are cleaned: no staging dirs, no staged markers
    import os

    assert not [d for d in os.listdir(path) if d.startswith(".staging")]
    staged_dir = os.path.join(ckpt, "staged_batches")
    assert not os.path.isdir(staged_dir) or not os.listdir(staged_dir)


def test_sink_ledger_prunes_and_respects_foreign_entries(spark, raw, tmp_path):
    """Hardening review items: (a) the applied-batches marker ledger must
    not grow one file per micro-batch forever — markers for batches the
    engine can no longer replay are pruned; (b) bootstrap husk removal
    deletes ONLY the sink's own debris — a directory holding any foreign
    entry (a user's nested checkpoint, a _delta_log) is not ours to
    delete; (c) nesting the checkpoint under the level path is rejected
    at construction, before it can corrupt either."""
    import os

    from time_series_and_data_lakes_spark.operators import rollup as R

    # (c) nested checkpoint is a construction-time error
    os.makedirs(str(tmp_path / "empty_src"))
    stream0 = (
        spark.readStream.schema(raw.schema).parquet(str(tmp_path / "empty_src"))
    )
    for alias in (
        str(tmp_path / "lvl" / "_ckpt"),
        # '.'/'..' aliases of the same nesting must not slip past the guard
        str(tmp_path) + "/./lvl/_ckpt",
        str(tmp_path / "lvl" / ".." / "lvl" / "_ckpt"),
    ):
        with pytest.raises(ValueError, match="nested under the rollup path"):
            R.start_rollup_refresh_sink(
                stream0,
                str(tmp_path / "lvl"),
                ["sensor_id"],
                "time",
                "1 hour",
                "temperature",
                alias,
            )

    # (b) foreign entries survive; sink debris is swept
    path = str(tmp_path / "hourly")
    ckpt = str(tmp_path / "rckpt")
    os.makedirs(os.path.join(path, "_foreign"))
    with open(os.path.join(path, "_foreign", "keep.txt"), "w") as f:
        f.write("not yours")
    os.makedirs(os.path.join(path, ".staging-batch-99", "date=2024-01-01"))
    with pytest.raises(Exception):
        # with the foreign dir preserved, the level dir holds no readable
        # data, so the bootstrap existing-level read fails LOUDLY — the
        # old behavior silently deleted the foreign entry instead
        R._apply_batch(
            spark, raw, 0, path, ["sensor_id"], "time", "1 hour",
            "temperature", ckpt,
        )
    assert os.path.exists(os.path.join(path, "_foreign", "keep.txt"))
    assert not [d for d in os.listdir(path) if d.startswith(".staging")]

    # (a) after a multi-batch streaming run, the ledger holds markers for
    # at most the final batch (earlier ones pruned as each batch starts)
    import shutil

    shutil.rmtree(path)
    src = str(tmp_path / "raw_stream")
    for part in raw.randomSplit([1.0, 1.0, 1.0], seed=11):
        part.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = R.start_rollup_refresh_sink(
        stream, path, ["sensor_id"], "time", "1 hour", "temperature", ckpt
    )
    q.awaitTermination(120)
    markers = [
        m
        for m in os.listdir(os.path.join(ckpt, "applied_batches"))
        if not m.startswith(".")  # local-FS checksum sidecars
    ]
    assert len(markers) == 1, markers  # 3+ micro-batches ran, 1 marker kept
    # and the maintained level still serves the exact batch answer
    maintained = read_rollup(spark, path)
    full = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    got = {tuple(r) for r in serve_stats(maintained, ["sensor_id"]).collect()}
    want = {tuple(r) for r in serve_stats(full, ["sensor_id"]).collect()}
    assert got == want


def test_sink_survives_randomized_multi_crash_schedule(spark, raw, tmp_path):
    """The parametrized crash test injects ONE fault per run; real
    failures compound — a batch that crashed mid-stage can crash again
    after-install on its own replay, walking protocol paths no single
    injection reaches (recompute-then-reinstall, install-of-a-stale
    staging, cleanup-of-a-twice-replayed batch). Drive the sink through a
    seeded random schedule of crashes across restarts and require the
    final level to equal full materialization with no protocol debris."""
    import os
    import random

    from time_series_and_data_lakes_spark.operators import rollup as R
    from time_series_and_data_lakes_spark.sources import commit

    src = str(tmp_path / "raw_stream")
    for part in raw.randomSplit([1.0, 1.0, 1.0, 1.0], seed=13):
        part.coalesce(1).write.mode("append").parquet(src)

    def stream():
        return (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    path = str(tmp_path / "hourly_stream")
    ckpt = str(tmp_path / "rckpt")
    args = (path, ["sensor_id"], "time", "1 hour", "temperature", ckpt)
    points = [
        "mid_stage",
        "after_stage",
        "mid_install",
        "after_install",
        "before_cleanup",
    ]
    rng = random.Random(20260814)
    schedule = [rng.choice(points) for _ in range(6)]

    for fail_point in schedule:
        commit._FAIL_POINT = fail_point
        try:
            q = R.start_rollup_refresh_sink(stream(), *args)
            # the injected point may sit on a path this replay skips
            # (e.g. mid_stage when the batch is already staged) — then
            # the run simply drains; both outcomes are legal protocol
            # walks and the next restart continues the schedule.
            try:
                q.awaitTermination(120)
            except Exception as e:
                assert "injected sink crash" in str(e)
        finally:
            commit._FAIL_POINT = None
            for active in spark.streams.active:
                active.stop()

    # final clean run drains whatever the crash walk left behind
    q = R.start_rollup_refresh_sink(stream(), *args)
    q.awaitTermination(180)

    maintained = read_rollup(spark, path)
    full = rollup_partials(raw, ["sensor_id"], "time", "1 hour", "temperature")
    got = {tuple(r) for r in serve_stats(maintained, ["sensor_id"]).collect()}
    want = {tuple(r) for r in serve_stats(full, ["sensor_id"]).collect()}
    assert got == want
    assert not [d for d in os.listdir(path) if d.startswith(".staging")]
    staged_dir = os.path.join(ckpt, "staged_batches")
    assert not os.path.isdir(staged_dir) or not os.listdir(staged_dir)
