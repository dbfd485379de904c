"""Streaming tests (SURVEY.md §5.2.4): replay fixture events through the
ingest and CEP jobs with AvailableNow triggers and assert the store/stream
results equal the batch-computed answers; idempotent-export re-runs are
byte-stable."""

from __future__ import annotations

import datetime as dt
import json
import random

import pytest

from pyspark.sql import functions as F

from tests.fixtures import KAFKA_SOURCE_SCHEMA, sensor_readings
from time_series_and_data_lakes_spark.operators.cep import match_error_pattern
from time_series_and_data_lakes_spark.sources.export import export_window
from time_series_and_data_lakes_spark.streaming import (
    match_error_pattern_stream,
    melt_stream,
    read_json_stream,
    start_narrow_store_sink,
)
from time_series_and_data_lakes_spark.streaming.retention import expire_partitions


def _write_json_batches(tmp_path, rows, n_batches=4):
    src = tmp_path / "src"
    src.mkdir()
    per = (len(rows) + n_batches - 1) // n_batches
    for b in range(n_batches):
        chunk = rows[b * per : (b + 1) * per]
        if chunk:
            path = src / f"batch-{b:03d}.json"
            with open(path, "w") as f:
                for r in chunk:
                    f.write(json.dumps(r) + "\n")
            # The file source orders batches by modification time; pin
            # strictly increasing mtimes so arrival order == event order
            # (the CEP NFA is arrival-order-sensitive, like the reference's
            # ORDER BY ptime).
            import os

            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    return str(src)


def test_ingest_stream_equals_batch_melt(spark, tmp_path):
    rows = sensor_readings(seed=1, sensors=5, span_seconds=60)
    src = _write_json_batches(tmp_path, rows)
    store = str(tmp_path / "store")

    wide = read_json_stream(spark, src)
    narrow = melt_stream(wide)
    q = start_narrow_store_sink(narrow, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = spark.read.parquet(store)
    assert got.count() == len(rows)
    # exactly-once: restarting the finished stream appends nothing
    q2 = start_narrow_store_sink(
        melt_stream(read_json_stream(spark, src)), store, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(store).count() == len(rows)

    # store shape: narrow model columns + partition cols, correct values
    one = got.filter(F.col("sensor_id") == rows[0]["sensor_id"]).filter(
        F.col("time") == F.timestamp_millis(F.lit(rows[0]["event_time"]))
    )
    r = one.collect()[0]
    assert r["measure_name"] == "temperature"
    assert r["measure_value_double"] == rows[0]["temperature"]
    assert r["status"] == rows[0]["status"]


@pytest.mark.parametrize(
    "fail_point",
    ["mid_stage", "after_stage", "mid_install", "after_install", "before_cleanup"],
)
def test_ingest_sink_crash_replay_never_duplicates(spark, tmp_path, fail_point):
    """The narrow-store sink's staged-append protocol: a crash at ANY
    transition (mid-stage, staged, mid-install, installed-but-unmarked,
    marked-but-uncleaned) followed by a checkpoint replay must land the
    store at exactly the batch melt — a bare mode('append') in
    foreachBatch would duplicate the replayed batch's rows — and leave no
    protocol debris behind."""
    from time_series_and_data_lakes_spark.sources import commit

    rows = sensor_readings(seed=7, sensors=3, span_seconds=45)
    src = _write_json_batches(tmp_path, rows, n_batches=3)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        return start_narrow_store_sink(
            melt_stream(read_json_stream(spark, src, max_files_per_trigger=1)),
            store,
            ckpt,
        )

    commit._FAIL_POINT = fail_point
    try:
        q = run()
        with pytest.raises(Exception, match="injected sink crash"):
            q.awaitTermination(120)
            q.processAllAvailable()
    except Exception as e:  # streaming wraps the foreachBatch error
        assert "injected sink crash" in str(e)
    finally:
        commit._FAIL_POINT = None
        for q in spark.streams.active:
            q.stop()

    q2 = run()
    q2.awaitTermination(120)
    _assert_store_is_batch_melt(spark, store, ckpt, rows)


def _assert_store_is_batch_melt(spark, store, ckpt, rows):
    """Every row exactly once, and no protocol debris left behind."""
    import os

    got = spark.read.parquet(store)
    assert got.count() == len(rows)
    assert got.select("sensor_id", "time", "measure_name").distinct().count() == len(
        rows
    )
    assert not [d for d in os.listdir(store) if d.startswith(".staging")]
    staged_dir = os.path.join(ckpt, "staged_batches")
    assert not os.path.isdir(staged_dir) or not os.listdir(staged_dir)


def test_ingest_sink_ledger_prunes_and_respects_foreign_entries(spark, tmp_path):
    """The commit ledger's housekeeping: (a) the applied-batches marker
    ledger must not grow one file per micro-batch forever — markers for
    batches the engine can no longer replay are pruned; (b) the debris
    sweep deletes ONLY the sink's own staging dirs — a foreign entry in
    the store (a user's nested checkpoint, a _delta_log) is not ours to
    delete."""
    import os

    rows = sensor_readings(seed=11, sensors=3, span_seconds=45)
    src = _write_json_batches(tmp_path, rows, n_batches=3)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(store, "_foreign"))
    with open(os.path.join(store, "_foreign", "keep.txt"), "w") as f:
        f.write("not yours")
    os.makedirs(os.path.join(store, ".staging-ingest-99", "measure_name=x"))

    q = start_narrow_store_sink(
        melt_stream(read_json_stream(spark, src, max_files_per_trigger=1)),
        store,
        ckpt,
    )
    q.awaitTermination(120)

    assert os.path.exists(os.path.join(store, "_foreign", "keep.txt"))
    markers = [
        m
        for m in os.listdir(os.path.join(ckpt, "applied_batches"))
        if not m.startswith(".")  # local-FS checksum sidecars
    ]
    assert len(markers) == 1, markers  # 3 micro-batches ran, 1 marker kept
    _assert_store_is_batch_melt(spark, store, ckpt, rows)


def test_ingest_sink_survives_randomized_multi_crash_schedule(spark, tmp_path):
    """The parametrized crash test injects ONE fault per run; real
    failures compound — a batch that crashed mid-stage can crash again
    after-install on its own replay, walking protocol paths no single
    injection reaches (install of a stale staging, cleanup of a twice-
    replayed batch). Drive the sink through a seeded random schedule of
    crashes across restarts and require the final store to hold every row
    exactly once, with no protocol debris."""
    from time_series_and_data_lakes_spark.sources import commit

    rows = sensor_readings(seed=13, sensors=3, span_seconds=60)
    src = _write_json_batches(tmp_path, rows, n_batches=4)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        return start_narrow_store_sink(
            melt_stream(read_json_stream(spark, src, max_files_per_trigger=1)),
            store,
            ckpt,
        )

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
            q = run()
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
    run().awaitTermination(180)
    _assert_store_is_batch_melt(spark, store, ckpt, rows)


def _write_kafka_shaped_batches(spark, tmp_path, rows, n_batches=4):
    """Parquet files in the EXACT column shape Spark's Kafka connector
    emits (key/value bytes + log position) — lets a real streaming query
    exercise the Kafka decode stage with no broker in the container."""
    src = tmp_path / "kafka_shaped"
    envelope = [
        (
            str(r["sensor_id"]).encode(),  # keyed by sensor, as the producer does
            json.dumps(r).encode(),
            "sensor-readings",
            hash(r["sensor_id"]) % 4,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i % 60),
            0,
        )
        for i, r in enumerate(rows)
    ]
    per = (len(envelope) + n_batches - 1) // n_batches
    for b in range(n_batches):
        chunk = envelope[b * per : (b + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, KAFKA_SOURCE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
    return str(src)


def test_ingest_kafka_shape_equals_file_source(spark, tmp_path):
    # S2/S3 via the distributed-log path (VERDICT r2 item 4): the same
    # records through (a) the JSON file source and (b) a Kafka-enveloped
    # stream decoded by decode_kafka_json must land identical narrow stores.
    from time_series_and_data_lakes_spark.streaming.ingest import decode_kafka_json

    rows = sensor_readings(seed=7, sensors=5, span_seconds=60)
    file_src = _write_json_batches(tmp_path, rows)
    kafka_src = _write_kafka_shaped_batches(spark, tmp_path, rows)

    file_store = str(tmp_path / "store_file")
    q = start_narrow_store_sink(
        melt_stream(read_json_stream(spark, file_src)),
        file_store,
        str(tmp_path / "ckpt_file"),
    )
    q.awaitTermination(120)

    kafka_store = str(tmp_path / "store_kafka")
    raw = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(kafka_src)
    q2 = start_narrow_store_sink(
        melt_stream(decode_kafka_json(raw)),
        kafka_store,
        str(tmp_path / "ckpt_kafka"),
    )
    q2.awaitTermination(120)

    cols = ["sensor_id", "status", "time", "measure_name", "measure_value_double"]
    a = spark.read.parquet(file_store).select(cols)
    b = spark.read.parquet(kafka_store).select(cols)
    assert a.count() == len(rows) and b.count() == len(rows)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_read_json_stream_kafka_branch_builds_connector(spark):
    # The kafka branch constructs the real format("kafka") reader; this
    # container ships no spark-sql-kafka jar, so plan construction must
    # fail with the connector-lookup error (NOT a silent fallback) — the
    # assertion documents that the branch is load-bearing.
    import pytest

    with pytest.raises(Exception, match="(?i)kafka"):
        read_json_stream(
            spark,
            "sensor-readings",
            source_format="kafka",
            kafka_options={"kafka.bootstrap.servers": "localhost:9092"},
        ).isStreaming


def test_streaming_cep_equals_batch(spark, tmp_path):
    rows = sensor_readings(seed=2, sensors=6, span_seconds=120)
    src = _write_json_batches(tmp_path, rows, n_batches=6)

    wide = read_json_stream(spark, src, max_files_per_trigger=1)
    typed = wide.select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    matches = match_error_pattern_stream(typed, within="INTERVAL 1 MINUTE")
    q = (
        matches.writeStream.format("memory")
        .queryName("cep_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        tuple(r) for r in spark.table("cep_out").collect()
    )

    batch_df = spark.createDataFrame(
        [
            (
                r["sensor_id"],
                dt.datetime.utcfromtimestamp(r["event_time"] / 1000.0),
                r["status"],
                r["temperature"],
            )
            for r in rows
        ],
        "sensor_id string, time timestamp, status string, temperature double",
    )
    want = sorted(
        tuple(r)
        for r in match_error_pattern(batch_df, within="INTERVAL 1 MINUTE").collect()
    )
    assert got == want
    assert len(got) > 0  # the fixture must actually exercise the pattern


def test_streaming_cep_event_time_mode_tolerates_disorder(spark, tmp_path):
    """Event-time mode: rows arrive out of order (bounded disorder across
    batches); results must equal the batch operator for every match whose
    rows are past the lateness frontier — deterministic replay, unlike the
    reference's processing-time ordering."""
    import random

    rows = sensor_readings(seed=13, sensors=5, span_seconds=180)
    # bounded disorder: shuffle within blocks of ~20 rows (≈ tens of seconds)
    rng = random.Random(0)
    shuffled = []
    for i in range(0, len(rows), 20):
        block = rows[i : i + 20]
        rng.shuffle(block)
        shuffled += block
    src = _write_json_batches(tmp_path, shuffled, n_batches=6)

    wide = read_json_stream(spark, src, max_files_per_trigger=1)
    typed = wide.select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    matches = match_error_pattern_stream(
        typed, within="INTERVAL 1 MINUTE", allowed_lateness="INTERVAL 45 SECONDS"
    )
    q = (
        matches.writeStream.format("memory")
        .queryName("cep_et")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.table("cep_et").collect()}

    batch_df = spark.createDataFrame(
        [
            (
                r["sensor_id"],
                dt.datetime.utcfromtimestamp(r["event_time"] / 1000.0),
                r["status"],
                r["temperature"],
            )
            for r in rows
        ],
        "sensor_id string, time timestamp, status string, temperature double",
    )
    want_rows = match_error_pattern(batch_df, within="INTERVAL 1 MINUTE").collect()
    want = {tuple(r) for r in want_rows}
    # everything emitted must be a true match
    assert got <= want
    # every match fully inside the final frontier must have been emitted
    max_t = max(r["event_time"] for r in rows) / 1000.0
    must_emit = {
        tuple(r)
        for r in want_rows
        if (r["event_time"].timestamp() + r["elapsed"] + 1) <= max_t - 45
    }
    assert must_emit <= got
    assert len(got) > 0


def _export_frame(spark):
    rows = sensor_readings(seed=3, sensors=4, span_seconds=60)
    df = spark.createDataFrame(
        [
            (
                r["sensor_id"],
                dt.datetime.fromtimestamp(r["event_time"] / 1000.0, dt.timezone.utc),
                r["temperature"],
            )
            for r in rows
        ],
        "sensor_id string, time timestamp, temperature double",
    )
    start = dt.datetime.utcfromtimestamp(1_700_000_000)
    return rows, df, start, start + dt.timedelta(seconds=30)


def test_export_window_idempotent(spark, tmp_path):
    rows, df, start, end = _export_frame(spark)
    base = str(tmp_path / "lake")

    p1 = export_window(df, base, start, end)
    first = sorted(tuple(r) for r in spark.read.parquet(p1).collect())
    p2 = export_window(df, base, start, end)  # re-run same window
    # this window starts at :20 seconds, so the stamp carries them (two
    # same-minute windows must not share a prefix); minute-aligned windows
    # keep the reference's 16-char layout — see window_path
    assert p1 == p2 and p1.endswith(start.strftime("%Y-%m-%dT%H-%M-%S"))
    second = sorted(tuple(r) for r in spark.read.parquet(p2).collect())
    assert first == second
    # window filter is half-open
    n_in_window = sum(1 for r in rows if start <= dt.datetime.utcfromtimestamp(r["event_time"] / 1000.0) < end)
    assert len(first) == n_in_window


@pytest.mark.parametrize("fault", ["failed_job", "mid_swap"])
def test_export_rerun_failure_keeps_last_good_window(spark, tmp_path, fault):
    """A re-run of an exported window that fails, in its Spark job or
    between the two renames of its install, must leave the window's last
    good export readable (Spark's mode('overwrite') deleted the prefix
    before its job ran, so a failed re-run left an empty, unreadable
    window), and a later good export leaves no staging or backup dir."""
    import os

    from time_series_and_data_lakes_spark.sources import commit

    _, df, start, end = _export_frame(spark)
    base = str(tmp_path / "lake")
    path = export_window(df, base, start, end)

    def window_rows():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    first = window_rows()
    assert first
    # fails mid-job on one row of the window
    failing = df.withColumn(
        "temperature",
        F.when(
            F.col("sensor_id") == first[0][0],
            F.raise_error(F.lit("injected job failure")),
        ).otherwise(F.col("temperature")),
    )
    if fault == "mid_swap":
        commit._FAIL_POINT = fault
        try:
            with pytest.raises(RuntimeError, match="injected sink crash at mid_swap"):
                export_window(df, base, start, end)
        finally:
            commit._FAIL_POINT = None
        # the crash window: the live name is gone, its backup holds the data
        assert not os.path.exists(path)
        assert os.path.isdir(os.path.join(base, commit.BACKUP_PREFIX + os.path.basename(path)))
    # the next export of the window puts the backup back before it writes,
    # so a failing one leaves the first export in place
    with pytest.raises(Exception, match="injected job failure"):
        export_window(failing, base, start, end)
    assert window_rows() == first

    assert export_window(df, base, start, end) == path
    assert window_rows() == first
    assert not [
        d
        for d in os.listdir(base)
        if d.startswith((".staging-export-", commit.BACKUP_PREFIX))
    ]


def test_export_refuses_empty_and_inverted_windows(spark, tmp_path):
    import os

    _, df, start, end = _export_frame(spark)
    base = str(tmp_path / "lake")
    path = export_window(df, base, start, end)
    first = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert first
    for lo, hi in [(start, start), (end, start)]:
        with pytest.raises(ValueError, match="must end after it starts"):
            export_window(df, base, lo, hi)
        with pytest.raises(ValueError, match="must end after it starts"):
            export_window(df, str(tmp_path / "fresh"), lo, hi)
    # the refused calls touched no file: the good export is still the only dir
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == first
    assert os.listdir(base) == [os.path.basename(path)]
    assert not (tmp_path / "fresh").exists()


@pytest.fixture
def new_york_host_zone(monkeypatch):
    """The Python process's local zone set to America/New_York (UTC-5 in
    January) for one test."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert time.timezone == 5 * 3600  # the zone took effect
        yield
    finally:
        monkeypatch.undo()
        time.tzset()


def test_export_reads_naive_bounds_as_utc(spark, tmp_path, new_york_host_zone):
    # one row an hour over 2024-01-01..03 in the session zone (UTC), built
    # in SQL so the process's local zone does not touch the data
    df = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, int(id), 0, 0)"
        " AS time FROM range(72)"
    )
    base = str(tmp_path / "lake")
    day = dt.datetime(2024, 1, 2)
    path = export_window(df, base, day, day + dt.timedelta(days=1))
    assert path == f"{base}/2024-01-02T00-00"  # the stamp names the rows' day
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(24, 48))
    # an aware bound is converted to UTC, for the rows and the stamp alike
    east = dt.timezone(dt.timedelta(hours=-5))
    lo = dt.datetime(2024, 1, 1, 19, tzinfo=east)
    assert export_window(df, base, lo, lo + dt.timedelta(days=1)) == path
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(24, 48))


@pytest.mark.parametrize("time_type", ["timestamp", "timestamp_ntz"])
def test_export_window_is_half_open_and_drops_null_time(spark, tmp_path, time_type):
    df = spark.sql(
        f"""SELECT id, CAST(t AS {time_type}) AS time FROM VALUES
          (0, timestamp'2024-03-01 00:00:00' - INTERVAL 1 MICROSECOND),
          (1, timestamp'2024-03-01 00:00:00'),
          (2, timestamp'2024-03-01 00:30:00'),
          (3, timestamp'2024-03-01 00:59:59.999999'),
          (4, timestamp'2024-03-01 01:00:00'),
          (5, NULL) AS v(id, t)"""
    )
    start, end = dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 1, 1)
    path = export_window(df, str(tmp_path / "lake"), start, end)
    lo, hi = (F.lit(t.replace(tzinfo=dt.timezone.utc)) for t in (start, end))
    out = spark.read.parquet(path)
    assert out.schema["time"].dataType == df.schema["time"].dataType
    # the row at start is kept, the row at end and the null time dropped,
    # exactly as a filter on plain timestamp literals does
    plain = df.filter((F.col("time") >= lo) & (F.col("time") < hi))
    assert sorted(r.id for r in out.collect()) == sorted(r.id for r in plain.collect()) == [1, 2, 3]


def _store(tmp_path, uri):
    """The store as a bare path or as a ``file://`` URI (retention goes
    through the Hadoop FileSystem and takes both), and its local dir."""
    local = tmp_path / "store"
    return (f"file://{local}" if uri else str(local)), local


def _check_expire(spark, tmp_path, uri):
    store, _ = _store(tmp_path, uri)
    df = spark.createDataFrame(
        [
            ("s1", dt.datetime(2024, 1, 1, 12), "OK", "temperature", 1.0),
            ("s1", dt.datetime(2024, 1, 20, 12), "OK", "temperature", 2.0),
        ],
        "sensor_id string, time timestamp, status string, measure_name string, measure_value_double double",
    )
    (
        df.withColumn("date", F.to_date("time"))
        .write.partitionBy("measure_name", "date")
        .parquet(store)
    )
    removed = expire_partitions(store, dt.date(2024, 1, 10))
    assert len(removed) == 1 and "date=2024-01-01" in removed[0]
    left = spark.read.parquet(store)
    assert [r["measure_value_double"] for r in left.collect()] == [2.0]


def test_retention_expires_old_partitions(spark, tmp_path):
    _check_expire(spark, tmp_path, uri=False)


def test_expire_partitions_on_file_uri_store(spark, tmp_path):
    _check_expire(spark, tmp_path, uri=True)


def _no_install_debris(local):
    """No staging or backup dir of the shared install step is left."""
    from time_series_and_data_lakes_spark.sources.commit import BACKUP_PREFIX

    return not [
        p
        for p in local.rglob("*")
        if p.name.startswith((".staging-", BACKUP_PREFIX))
    ]


def _check_compact(spark, tmp_path, uri):
    from time_series_and_data_lakes_spark.streaming.retention import (
        compact_partitions,
    )

    store, local = _store(tmp_path, uri)
    df = spark.createDataFrame(
        [
            ("s%d" % i, dt.datetime(2024, 1, 1 + (i % 2), 12), "OK", "temperature", float(i))
            for i in range(64)
        ],
        "sensor_id string, time timestamp, status string, measure_name string, measure_value_double double",
    )
    # 8 files per leaf = the micro-batch small-files shape
    (
        df.withColumn("date", F.to_date("time"))
        .repartition(8)
        .write.partitionBy("measure_name", "date")
        .parquet(store)
    )
    before = spark.read.parquet(store)
    rows_before = sorted(r["measure_value_double"] for r in before.collect())

    leaves = sorted(local.glob("measure_name=*/date=*"))
    assert all(len(list(p.glob("*.parquet"))) == 8 for p in leaves)

    compacted = compact_partitions(spark, store, target_file_bytes=1 << 30)
    assert len(compacted) == 2
    assert all(len(list(p.glob("*.parquet"))) == 1 for p in leaves)
    assert _no_install_debris(local)

    after = spark.read.parquet(store)
    assert sorted(r["measure_value_double"] for r in after.collect()) == rows_before
    # partition columns survive the rewrite (values live in dir names)
    assert after.filter(
        (F.col("measure_name") == "temperature") & (F.col("date") == "2024-01-02")
    ).count() == 32


def test_compact_partitions_rewrites_small_files(spark, tmp_path):
    _check_compact(spark, tmp_path, uri=False)


def test_retention_skips_unparseable_date_partitions(spark, tmp_path):
    # null event times land in date=__HIVE_DEFAULT_PARTITION__; a TTL job
    # must skip what it cannot age, not die and stop expiring everything
    import os

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [
            ("s1", dt.datetime(2024, 1, 1, 12), "temperature", 1.0),
            ("s1", None, "temperature", 2.0),
        ],
        "sensor_id string, time timestamp, measure_name string, measure_value_double double",
    )
    df.withColumn("date", F.to_date("time")).write.partitionBy(
        "measure_name", "date"
    ).parquet(store)
    assert os.path.isdir(
        f"{store}/measure_name=temperature/date=__HIVE_DEFAULT_PARTITION__"
    )
    removed = expire_partitions(store, dt.date(2024, 2, 1))
    assert len(removed) == 1 and "date=2024-01-01" in removed[0]
    # the null-date partition survives untouched
    assert spark.read.parquet(store).count() == 1


def _check_compact_mid_swap(spark, tmp_path, uri):
    from time_series_and_data_lakes_spark.sources import commit
    from time_series_and_data_lakes_spark.streaming.retention import (
        compact_partitions,
    )

    store, local = _store(tmp_path, uri)
    df = spark.createDataFrame(
        [("s%d" % i, dt.datetime(2024, 1, 1, 12), "temperature", float(i)) for i in range(16)],
        "sensor_id string, time timestamp, measure_name string, measure_value_double double",
    )
    (
        df.withColumn("date", F.to_date("time"))
        .repartition(4)
        .write.partitionBy("measure_name", "date")
        .parquet(store)
    )
    (leaf,) = local.glob("measure_name=*/date=*")
    rows = sorted(r["measure_value_double"] for r in spark.read.parquet(store).collect())

    # crash between the install's two renames: the leaf is at its backup,
    # the rewrite still staged — the canonical leaf is MISSING
    commit._FAIL_POINT = "mid_swap"
    try:
        with pytest.raises(RuntimeError, match="injected sink crash at mid_swap"):
            compact_partitions(spark, store, target_file_bytes=1 << 30, min_files=2)
    finally:
        commit._FAIL_POINT = None
    backup = leaf.with_name(commit.BACKUP_PREFIX + leaf.name)
    staged = [p for p in leaf.parent.iterdir() if p.name.startswith(".staging-")]
    # debris dirs are dot-prefixed: hidden from Spark listing (a visible
    # sibling would be read as a string date partition and duplicate
    # every row)
    assert not leaf.exists() and backup.is_dir() and len(staged) == 1
    # the next run heals: backup restored, debris gone, then compacts
    compact_partitions(spark, store, target_file_bytes=1 << 30, min_files=2)
    assert leaf.exists() and _no_install_debris(local)
    got = sorted(r["measure_value_double"] for r in spark.read.parquet(store).collect())
    assert got == rows
    assert len(list(leaf.glob("*.parquet"))) == 1  # compaction proceeded


def test_compact_partitions_recovers_from_mid_swap_crash(spark, tmp_path):
    """A crash between the install's two renames leaves the leaf only at
    its hidden backup; the next run puts it back, then compacts."""
    _check_compact_mid_swap(spark, tmp_path, uri=False)


def test_compact_partitions_on_file_uri_store(spark, tmp_path):
    _check_compact(spark, tmp_path / "rewrite", uri=True)
    _check_compact_mid_swap(spark, tmp_path / "mid_swap", uri=True)


def test_export_sub_minute_windows_get_distinct_paths(spark, tmp_path):
    # two windows starting in the same minute must not share a prefix
    # (the second overwrite would silently destroy the first's data)
    from time_series_and_data_lakes_spark.sources.export import backfill, window_path

    base = str(tmp_path / "lake")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    assert window_path(base, t0) == f"{base}/2024-01-01T12-00"  # reference layout
    assert (
        window_path(base, t0 + dt.timedelta(seconds=30))
        == f"{base}/2024-01-01T12-00-30"
    )
    utc0 = t0.replace(tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [("s1", utc0 + dt.timedelta(seconds=s), float(s)) for s in range(60)],
        "sensor_id string, time timestamp, v double",
    )
    paths = backfill(
        lambda a, b: df,
        base,
        t0,
        t0 + dt.timedelta(minutes=1),
        dt.timedelta(seconds=30),
    )
    assert len(set(paths)) == 2
    assert sum(spark.read.parquet(p).count() for p in paths) == 60
    with pytest.raises(ValueError, match="step must be positive"):
        backfill(lambda a, b: df, base, t0, t0 + dt.timedelta(minutes=1), dt.timedelta(0))


def test_read_json_stream_rejects_nonpositive_trigger(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        read_json_stream(spark, str(src), max_files_per_trigger=0)


def _data_batches(q) -> int:
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def test_streaming_cep_integer_key_schema_runs(spark, tmp_path):
    """The CEP operator derives the key output field's name AND type from
    the input stream: a bigint device key used to hit the hardcoded
    sensor_id:string first field and crash the Arrow conversion
    (``cep_stream._keyed_output_schema``). Three micro-batches carry candidates from one batch's state into the next,
    including one for a null key and one for an id past 2**53."""
    import os

    rows = [
        {
            "device": int(r["sensor_id"].rsplit("-", 1)[1]),
            "event_time": r["event_time"],
            "temperature": r["temperature"],
            "status": r["status"],
        }
        for r in sensor_readings(seed=3, sensors=4, span_seconds=90)
    ]
    base = rows[0]["event_time"]
    big = 2**60 + 1
    # (device, batch, ms after base, status): A and B in batch 0, C later
    spanning = [
        (None, 0, 0, "ERROR"), (None, 0, 100, "OK"), (None, 1, 200, "ERROR"),
        (big, 0, 0, "ERROR"), (big, 0, 100, "WARNING"), (big, 2, 300, "ERROR"),
    ]
    per = (len(rows) + 2) // 3
    batches = [rows[b * per : (b + 1) * per] for b in range(3)]
    for device, b, dt_ms, status in spanning:
        extra = {"device": device, "event_time": base + dt_ms, "temperature": 1.5, "status": status}
        batches[b].append(extra)
        rows.append(extra)
    src = tmp_path / "src"
    src.mkdir()
    for b, chunk in enumerate(batches):
        path = src / f"batch-{b:03d}.json"
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    typed = (
        spark.readStream.schema(
            "device bigint, event_time long, temperature double, status string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select(
            "device",
            F.timestamp_millis("event_time").alias("time"),
            "status",
            "temperature",
        )
    )
    matches = match_error_pattern_stream(
        typed, key="device", within="INTERVAL 1 MINUTE"
    )
    assert dict(matches.dtypes)["device"] == "bigint"  # key-typed schema
    q = (
        matches.writeStream.format("memory")
        .queryName("cep_intkey")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert _data_batches(q) == 3
    got = sorted((tuple(r) for r in spark.table("cep_intkey").collect()), key=repr)

    batch_df = spark.createDataFrame(
        [
            (
                r["device"],
                dt.datetime.utcfromtimestamp(r["event_time"] / 1000.0),
                r["status"],
                r["temperature"],
            )
            for r in rows
        ],
        "device bigint, time timestamp, status string, temperature double",
    )
    want = sorted(
        (
            tuple(r)
            for r in match_error_pattern(
                batch_df, key="device", within="INTERVAL 1 MINUTE"
            ).collect()
        ),
        key=repr,
    )
    # a null key is one more key on both operators (the batch segment
    # join is null-safe), so the null key's match is in both
    assert got == want
    assert [r[3] for r in got if r[0] is None] == ["OK"]
    assert [r[3] for r in want if r[0] == big] == ["WARNING"]


def test_kafka_reader_option_contract():
    """VERDICT_r3 item 8: pin what can be pinned without a broker — the
    full option map the connector reader is built with. Subscribe target,
    the LATEST default start position (reference notebook.txt:15), pass-
    through throttling, and caller override of startingOffsets. The actual
    subscribe/offset semantics need a real broker + connector jar (absent
    in this container) and are exercised only on a real deployment."""
    from time_series_and_data_lakes_spark.streaming.ingest import (
        kafka_reader_options,
    )

    assert kafka_reader_options("sensor-readings") == {
        "subscribe": "sensor-readings",
        "startingOffsets": "latest",
    }
    opts = kafka_reader_options(
        "sensor-readings",
        {
            "kafka.bootstrap.servers": "broker:9092",
            "maxOffsetsPerTrigger": "10000",
        },
    )
    assert opts["subscribe"] == "sensor-readings"
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "10000"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    # explicit caller choice wins over the default
    assert (
        kafka_reader_options("t", {"startingOffsets": "earliest"})["startingOffsets"]
        == "earliest"
    )


def test_kafka_decode_drops_tombstones_and_garbage(spark, tmp_path):
    """Tombstone (NULL value) records — Kafka's delete markers on compacted
    topics — and non-JSON bytes must be dropped by the decode stage, not
    crash the stream or emit all-NULL rows. Runs as a real streaming query
    over a recorded Kafka-envelope fixture."""
    from time_series_and_data_lakes_spark.streaming.ingest import decode_kafka_json

    rows = sensor_readings(seed=23, sensors=3, span_seconds=30)
    good = [
        (
            str(r["sensor_id"]).encode(),
            json.dumps(r).encode(),
            "sensor-readings",
            0,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i % 60),
            0,
        )
        for i, r in enumerate(rows)
    ]
    bad = [
        (b"sensor-01", None, "sensor-readings", 0, 9001, dt.datetime(2024, 1, 1), 0),
        (b"sensor-02", None, "sensor-readings", 1, 9002, dt.datetime(2024, 1, 1), 0),
        (b"sensor-03", b"\xff\x00 not json", "sensor-readings", 0, 9003, dt.datetime(2024, 1, 1), 0),
    ]
    src = str(tmp_path / "kafka_tombstones")
    spark.createDataFrame(good + bad, KAFKA_SOURCE_SCHEMA).coalesce(1).write.parquet(src)

    raw = spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(src)
    q = (
        decode_kafka_json(raw)
        .writeStream.format("memory")
        .queryName("kafka_clean")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("kafka_clean").collect()
    assert len(got) == len(rows)  # every valid record, nothing else
    assert all(r["sensor_id"] is not None for r in got)


def test_read_json_stream_requires_source(spark, tmp_path):
    rows = sensor_readings(seed=31, sensors=2, span_seconds=10)
    src = _write_json_batches(tmp_path, rows, n_batches=1)
    assert read_json_stream(spark, src).isStreaming
    with pytest.raises(TypeError, match="missing 1 required"):
        read_json_stream(spark)


def test_streaming_cep_state_survives_restart(spark, tmp_path):
    """Exactly-once CEP across a query restart: stop after the first half
    of the stream, restart from the same checkpoint over the second half,
    and the union of outputs must equal the batch matcher over the whole
    stream — candidates whose A..C span crosses the restart boundary can
    only complete if per-key NFA state was restored from the state store,
    also when the restart runs under another shuffle-partition count."""
    import os

    rows = sensor_readings(seed=41, sensors=4, span_seconds=240)
    src = tmp_path / "src_restart"
    src.mkdir()
    ckpt = str(tmp_path / "cep_ckpt")
    out = str(tmp_path / "cep_out_parquet")

    def write_files(chunks, start_b):
        per = (len(chunks) + 2) // 3
        for b in range(3):
            part = chunks[b * per : (b + 1) * per]
            if part:
                p = src / f"batch-{start_b + b:03d}.json"
                with open(p, "w") as f:
                    for r in part:
                        f.write(json.dumps(r) + "\n")
                os.utime(p, (1_700_000_000 + start_b + b,) * 2)

    def run_once():
        wide = read_json_stream(spark, str(src), max_files_per_trigger=1)
        typed = wide.select(
            "sensor_id",
            F.timestamp_millis("event_time").alias("time"),
            "status",
            "temperature",
        )
        q = (
            match_error_pattern_stream(typed, within="INTERVAL 1 MINUTE")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # choose a split point where at least one A..C candidate straddles the
    # boundary (otherwise state restoration would never be exercised);
    # located with the pure-Python NFA, cheap to scan
    from time_series_and_data_lakes_spark.streaming.cep_stream import _nfa_step

    def _count_matches_py(rs):
        per_key: dict[str, list] = {}
        for r in rs:
            per_key.setdefault(r["sensor_id"], []).append(r)
        n = 0
        for key_rows in per_key.values():
            state = (None, None, [], [])
            for r in sorted(key_rows, key=lambda x: x["event_time"]):
                state, m = _nfa_step(
                    state, r["event_time"] * 1000, r["status"],
                    float(r["temperature"]), "ERROR", 1, 5, 60_000_000, 2,
                )
                n += m is not None
        return n

    total_matches = _count_matches_py(rows)
    half = next(
        h
        for h in range(len(rows) // 2 - 40, len(rows) // 2 + 40)
        if _count_matches_py(rows[:h]) + _count_matches_py(rows[h:]) < total_matches
    )

    write_files(rows[:half], 0)
    run_once()
    first = spark.read.parquet(out).count()
    write_files(rows[half:], 10)
    # the restart runs under another shuffle-partition count: Spark keeps
    # the checkpoint's count for the state, which is keyed by the key alone
    n = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n) + 3))
    try:
        run_once()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", n)

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    batch_df = spark.createDataFrame(
        [
            (
                r["sensor_id"],
                dt.datetime.utcfromtimestamp(r["event_time"] / 1000.0),
                r["status"],
                r["temperature"],
            )
            for r in rows
        ],
        "sensor_id string, time timestamp, status string, temperature double",
    )
    want_rows = match_error_pattern(batch_df, within="INTERVAL 1 MINUTE").collect()
    want = sorted(tuple(r) for r in want_rows)
    assert got == want
    # the restart boundary must actually split matches: some matched before,
    # some only after
    assert 0 < first < len(want)
    # the split-point search above guarantees at least one match spans the
    # boundary, so got == want proves cross-restart state restoration, not
    # just two independent runs
    assert _count_matches_py(rows[:half]) + _count_matches_py(rows[half:]) < len(want)


def test_stream_static_enrichment_join_equals_batch(spark, tmp_path):
    # Streaming twin of the Athena enrichment join (reference
    # README.md:411-425): events stream in and are enriched against the
    # static sensor_mapping dimension as they arrive. Spark plans the
    # static side as a broadcast into every micro-batch — the idiomatic
    # upgrade from re-running the batch join on a schedule.
    import csv

    from time_series_and_data_lakes_spark.sources.csv_tables import (
        SENSOR_MAPPING_SCHEMA,
        read_headered_csv,
    )

    rows = sensor_readings(seed=11, sensors=5, span_seconds=30)
    src = _write_json_batches(tmp_path, rows)
    mapping_csv = tmp_path / "sensor_mapping.csv"
    with open(mapping_csv, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["sensor_id", "customer_id"])
        for i in range(5):
            w.writerow([f"sensor-{i:02d}", str(1001 + i % 5)])
    dim = read_headered_csv(spark, str(mapping_csv), SENSOR_MAPPING_SCHEMA)

    wide = read_json_stream(spark, src)
    enriched = wide.join(F.broadcast(dim), on="sensor_id", how="inner")
    out = str(tmp_path / "enriched")
    q = (
        enriched.drop("ptime")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = (
        spark.createDataFrame(
            [(r["sensor_id"],) for r in rows], "sensor_id string"
        )
        .join(dim, on="sensor_id", how="inner")
    )
    assert got.count() == batch.count() == len(rows)
    # every streamed row carries its dimension attribute
    pairs = {(r["sensor_id"], r["customer_id"]) for r in got.collect()}
    want = {(r["sensor_id"], r["customer_id"]) for r in dim.collect() if int(r["sensor_id"][-2:]) < 5}
    assert pairs == want


def test_kafka_broker_smoke(spark, tmp_path):
    """End-to-end broker smoke (VERDICT_r4 item 7): produce JSON records to
    a real Kafka topic with Spark's own Kafka sink, then stream them back
    through kafka_reader_options + decode_kafka_json and assert the decoded
    store matches. Auto-enables when KAFKA_BOOTSTRAP=host:port points at a
    reachable broker (requires the spark-sql-kafka connector on the
    classpath); skipped in this sandbox, which has neither."""
    import os
    import uuid

    import pytest as _pytest

    bootstrap = os.environ.get("KAFKA_BOOTSTRAP")
    if not bootstrap:
        _pytest.skip(
            "needs a real broker: set KAFKA_BOOTSTRAP=host:port "
            "(and the spark-sql-kafka connector jar)"
        )
    from time_series_and_data_lakes_spark.streaming.ingest import (
        decode_kafka_json,
        kafka_reader_options,
    )

    topic = f"tsdl-smoke-{uuid.uuid4().hex[:8]}"
    rows = sensor_readings(seed=5, sensors=2, span_seconds=20)
    (
        spark.createDataFrame(
            [(str(r["sensor_id"]), json.dumps(r)) for r in rows],
            "key string, value string",
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )

    opts = kafka_reader_options(
        topic,
        {"kafka.bootstrap.servers": bootstrap},
        starting_offsets="earliest",
    )
    raw = spark.readStream.format("kafka").options(**opts).load()
    out, ck = str(tmp_path / "kafka_out"), str(tmp_path / "kafka_ck")
    q = (
        decode_kafka_json(raw)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain within 120 s"
    got = {r["sensor_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == len({r["sensor_id"] for r in rows})
    assert sum(1 for _ in spark.read.parquet(out).collect()) == len(rows)


def _await_state_rows(q, want, timeout=60, after_batch=-1, hard_cap_factor=6):
    """Wait until some micro-batch with batchId > ``after_batch`` reports
    ``want`` state rows; returns that batchId (None on timeout). Scans the
    full recentProgress history, not just lastProgress: a multi-second
    host stall (the VM's documented noise mode) can let a later batch
    overwrite the observation window between polls, which must not read
    as a miss of a value the query really passed through. Chaining via
    ``after_batch`` keeps the observations ordered, so awaiting a
    DECREASE cannot false-positive on an early empty batch.

    The deadline is PROGRESS-ADAPTIVE (VERDICT r9 item 3 — the fixed 90 s
    budget flaked under full-battery host load): ``timeout`` bounds the
    time the query may go WITHOUT advancing a batch, while batches that
    are still advancing keep extending the wait up to ``hard_cap_factor *
    timeout``. A loaded host that processes no-data micro-batches 5x
    slower still converges; a genuinely wedged query (no batch movement)
    fails within ``timeout`` as before."""
    import time as _time

    start = _time.time()
    hard_cap = start + hard_cap_factor * timeout
    last_batch, last_advance = -1, start
    while _time.time() < hard_cap:
        seen_max = last_batch
        for p in q.recentProgress:
            b = p.get("batchId", -1)
            seen_max = max(seen_max, b)
            ops = p.get("stateOperators") or []
            if b > after_batch and ops and ops[0]["numRowsTotal"] == want:
                return b
        now = _time.time()
        if seen_max > last_batch:
            last_batch, last_advance = seen_max, now
        elif now - last_advance > timeout:
            return None  # no batch advanced for a full timeout: truly stalled
        _time.sleep(0.5)
    return None


def test_cep_state_ttl_evicts_silent_keys_without_changing_matches(
    spark, tmp_path
):
    """Round-5 verdict item 3: with NoTimeout a churning key space grows
    CEP state without bound. state_ttl evicts silent keys' state; in
    processing-time mode that is semantics-free (after ttl >= within of
    silence, any future arrival-ordered row is past the WITHIN bound, so
    the candidate could never complete) — so matches must be identical to
    the no-TTL run while the state row count SHRINKS."""
    import time as _time

    base = 1_700_000_000_000  # ms
    # s2: one complete ERROR-OK-ERROR match, then a trailing re-anchored
    # candidate that can never complete once the key goes silent
    s2 = [
        {"sensor_id": "s2", "event_time": base, "status": "ERROR", "temperature": 1.0},
        {"sensor_id": "s2", "event_time": base + 100, "status": "OK", "temperature": 2.0},
        {"sensor_id": "s2", "event_time": base + 200, "status": "ERROR", "temperature": 3.0},
        {"sensor_id": "s2", "event_time": base + 300, "status": "ERROR", "temperature": 4.0},
    ]
    s1a = [
        {"sensor_id": "s1", "event_time": base, "status": "ERROR", "temperature": 5.0},
        {"sensor_id": "s1", "event_time": base + 100, "status": "OK", "temperature": 6.0},
    ]
    # phase-2 rows for s1 only (s2 stays silent past the TTL). Event times
    # are arrival-consistent (~3 s later), as processing-time semantics
    # guarantee — so s1's phase-1 candidate is past WITHIN by the data
    # clock too, and eviction is observably a no-op; the fresh full match
    # proves the re-armed key still works.
    s1b = [
        {"sensor_id": "s1", "event_time": base + 3000, "status": "ERROR", "temperature": 7.0},
        {"sensor_id": "s1", "event_time": base + 3100, "status": "OK", "temperature": 8.0},
        {"sensor_id": "s1", "event_time": base + 3200, "status": "ERROR", "temperature": 9.0},
    ]

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_batch("b0.json", s2 + s1a)
    typed = read_json_stream(spark, str(src), max_files_per_trigger=1).select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    matches = match_error_pattern_stream(
        typed,
        within="INTERVAL 1 SECOND",
        state_ttl="INTERVAL 2 SECONDS",
    )
    q = (
        matches.writeStream.format("memory")
        .queryName("cep_ttl")
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        b_held = _await_state_rows(q, 2)  # both keys hold state
        assert b_held is not None
        # let the TTL lapse while both keys are silent: no-data batches
        # fire the processing-time timeouts and evict BOTH state rows
        b_evicted = _await_state_rows(q, 0, after_batch=b_held)
        assert b_evicted is not None
        write_batch("b1.json", s1b)  # s1 resumes; s2 stays silent
        assert _await_state_rows(q, 1, after_batch=b_evicted) is not None  # s1 re-armed
        # wait for s1's fresh match to land before stopping
        deadline = _time.time() + 60
        while (
            spark.table("cep_ttl").filter(F.col("sensor_id") == "s1").count() == 0
            and _time.time() < deadline
        ):
            _time.sleep(0.5)
    finally:
        q.stop()

    got = sorted(tuple(r) for r in spark.table("cep_ttl").collect())
    # the no-TTL semantics over the same rows: batch operator on the union
    batch_df = spark.createDataFrame(
        [
            (
                r["sensor_id"],
                dt.datetime.utcfromtimestamp(r["event_time"] / 1000.0),
                r["status"],
                r["temperature"],
            )
            for r in s2 + s1a + s1b
        ],
        "sensor_id string, time timestamp, status string, temperature double",
    )
    want = sorted(
        tuple(r)
        for r in match_error_pattern(batch_df, within="INTERVAL 1 SECOND").collect()
    )
    assert got == want and len(got) >= 2  # s2's match AND s1's match


def test_cep_state_ttl_shorter_than_within_rejected(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text("")
    typed = read_json_stream(spark, str(src)).select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    with pytest.raises(ValueError, match="shorter than within"):
        match_error_pattern_stream(
            typed, within="INTERVAL 1 MINUTE", state_ttl="INTERVAL 30 SECONDS"
        )
    with pytest.raises(ValueError, match="allowed_lateness"):
        # 65 s covers within alone but not within + allowed_lateness
        match_error_pattern_stream(
            typed,
            within="INTERVAL 1 MINUTE",
            allowed_lateness="INTERVAL 10 SECONDS",
            state_ttl="INTERVAL 65 SECONDS",
        )


def test_cep_event_time_ttl_flushes_stranded_reorder_buffer(spark, tmp_path):
    """Event-time mode strands a silent key's reorder buffer: the frontier
    never advances past its own rows, so a complete match sits unemitted
    forever. TTL eviction must FLUSH the buffer through the NFA (emit the
    stranded match), then drop the state."""
    import time as _time

    base = 1_700_000_000_000
    s2 = [
        {"sensor_id": "s2", "event_time": base, "status": "ERROR", "temperature": 1.0},
        {"sensor_id": "s2", "event_time": base + 100, "status": "OK", "temperature": 2.0},
        {"sensor_id": "s2", "event_time": base + 200, "status": "ERROR", "temperature": 3.0},
    ]
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for r in s2:
            f.write(json.dumps(r) + "\n")

    typed = read_json_stream(spark, str(src), max_files_per_trigger=1).select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    matches = match_error_pattern_stream(
        typed,
        within="INTERVAL 1 SECOND",
        allowed_lateness="INTERVAL 1 SECOND",
        state_ttl="INTERVAL 3 SECONDS",
    )
    q = (
        matches.writeStream.format("memory")
        .queryName("cep_ttl_et")
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        b_held = _await_state_rows(q, 1)  # buffer held, match stranded
        assert b_held is not None
        assert spark.table("cep_ttl_et").count() == 0
        assert _await_state_rows(q, 0, after_batch=b_held) is not None  # evicted
        rows = spark.table("cep_ttl_et").collect()
        assert len(rows) == 1 and rows[0]["sensor_id"] == "s2"
        assert rows[0]["history"] == "OK"  # the flushed stranded match
    finally:
        q.stop()



def test_cep_ttl_eviction_survives_restart(spark, tmp_path):
    """The pending eviction is STATE: a query stopped after the data batch
    but before the TTL fires must, on restart from the same checkpoint with
    no new data for that key, restore its timeout, flush the stranded match
    and drop the state — otherwise a rolling redeploy leaks every in-flight
    silent key's state and the matches buffered in it."""
    base = 1_700_000_000_000
    s2 = [
        {"sensor_id": "s2", "event_time": base, "status": "ERROR", "temperature": 1.0},
        {"sensor_id": "s2", "event_time": base + 100, "status": "OK", "temperature": 2.0},
        {"sensor_id": "s2", "event_time": base + 200, "status": "ERROR", "temperature": 3.0},
    ]
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for r in s2:
            f.write(json.dumps(r) + "\n")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start_query():
        typed = read_json_stream(spark, str(src), max_files_per_trigger=1).select(
            "sensor_id",
            F.timestamp_millis("event_time").alias("time"),
            "status",
            "temperature",
        )
        matches = match_error_pattern_stream(
            typed,
            within="INTERVAL 1 SECOND",
            allowed_lateness="INTERVAL 1 SECOND",
            state_ttl="INTERVAL 20 SECONDS",
        )
        return (
            matches.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="250 milliseconds")
            .start()
        )

    # phase 1: the data batch commits the buffered rows, then the query
    # stops well before the 20 s TTL fires, stranding the match
    q = start_query()
    try:
        assert _await_state_rows(q, 1) is not None
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 0

    # phase 2: restart with no new s2 data — only s2's restored state and
    # timeout can flush its buffer. After a restart Spark schedules no
    # micro-batch until new data arrives unless the stop interrupted a
    # batch (it then re-runs that batch and no-data batches follow), so
    # one row for an unrelated key gives every restart a batch, as any
    # other sensor would. A lone ERROR row cannot complete a match.
    with open(src / "b1.json", "w") as f:
        f.write(
            json.dumps(
                {"sensor_id": "s9", "event_time": base, "status": "ERROR", "temperature": 9.0}
            )
            + "\n"
        )
    q2 = start_query()
    try:
        assert _await_state_rows(q2, 0) is not None
    finally:
        q2.stop()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["sensor_id"] == "s2"
    assert rows[0]["history"] == "OK"  # the flushed stranded match


def test_streaming_cep_micro_batches_compile_no_code(spark, tmp_path):
    """Steady-state CEP micro-batches reuse the generated code: after the
    second data batch no further batch compiles a class. An array-typed
    state row misses the codegen cache on every batch (its MapObjects
    lambda ids change), compiling two state projections per batch."""
    import os
    import time as _time

    jvm_codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return jvm_codegen.METRIC_COMPILATION_TIME().getCount()

    def await_batches(q, want, deadline_s=120):
        deadline = _time.time() + deadline_s
        while _data_batches(q) < want and _time.time() < deadline:
            _time.sleep(0.25)
        return _data_batches(q)

    rows = sensor_readings(seed=5, sensors=6, span_seconds=300)
    n_files = 5
    per = (len(rows) + n_files - 1) // n_files
    src = tmp_path / "src"
    src.mkdir()

    def write_file(b):
        # Write under a dot-name the file source ignores, pin the mtime,
        # then rename into place. A listing that catches the file before
        # its mtime is pinned records today's time, and the source then
        # drops every later (older-stamped) file as past maxFileAge.
        tmp = src / f".batch-{b:03d}.json"
        with open(tmp, "w") as f:
            for r in rows[b * per : (b + 1) * per]:
                f.write(json.dumps(r) + "\n")
        os.utime(tmp, (1_700_000_000 + b, 1_700_000_000 + b))
        os.replace(tmp, src / f"batch-{b:03d}.json")

    write_file(0)
    write_file(1)
    typed = read_json_stream(spark, str(src), max_files_per_trigger=1).select(
        "sensor_id",
        F.timestamp_millis("event_time").alias("time"),
        "status",
        "temperature",
    )
    q = (
        match_error_pattern_stream(typed, within="INTERVAL 1 MINUTE")
        .writeStream.format("memory")
        .queryName("cep_codegen")
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        assert await_batches(q, 2) == 2
        after_two = compiles()
        for b in range(2, n_files):
            write_file(b)
        assert await_batches(q, n_files) == n_files
        assert compiles() == after_two
    finally:
        q.stop()
    assert spark.table("cep_codegen").count() > 0
