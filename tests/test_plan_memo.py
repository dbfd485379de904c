"""The plan memo (``queries._memoized``): a scheduled catalog query builds
once per (session, query, ``sf_dir``) and lake state, and every later call
re-executes that plan. Each test works on its own copy of the smoke lake, so
the first call always builds."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.oracle_util import assert_matches_oracle
from time_series_and_data_lakes_spark import queries as Q
from time_series_and_data_lakes_spark.plans import plan_fingerprint

MEMOIZED = {
    "q1_flagship_interpolate",
    "a1_enrichment_join",
    "g1_cep_pivot_by_bin",
    "g2_measure_series",
    "g3_raw_feed_ordered",
    "g4_status_counts",
    "g5_binned_percentiles",
    "g6_top_sensors_recent_max",
    "g7_per_sensor_interval_max",
}
TZ = "spark.sql.session.timeZone"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _lake(sf_dir, root, name="lake", tables=("events", "customer", "nation", "region")) -> str:
    """A writable copy of ``tables`` from the smoke lake."""
    lake = os.path.join(str(root), name)
    os.makedirs(lake)
    for t in tables:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{lake}/{t}.parquet")
    return lake


def _call(spark, fn, *args):
    """``fn(*args)`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"memo-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "plan memo test")
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_memo_scope_is_the_scheduled_queries():
    # the corpus, TPC-H and pipeline packs run driver-side jobs and
    # checkpoints while they build, which a memo would pin
    assert {n for n, f in Q.QUERIES.items() if hasattr(f, "__wrapped__")} == MEMOIZED


@pytest.mark.parametrize("name", sorted(MEMOIZED))
def test_hit_runs_no_job_and_matches_rebuild_and_oracle(spark, sf_dir, tmp_path, name):
    lake = _lake(sf_dir, tmp_path)
    fn = Q.QUERIES[name]
    _, built_jobs = _call(spark, fn, spark, lake)
    df, hit_jobs = _call(spark, fn, spark, lake)
    assert built_jobs > 0  # parquet schema inference, at least
    assert hit_jobs == 0
    assert plan_fingerprint(df) == plan_fingerprint(fn.__wrapped__(spark, lake))
    if name in Q.ORACLES:
        assert_matches_oracle(df, lake, Q.ORACLES[name], name)
        # a hit's plan re-executes: a second hit reads the same rows
        assert_matches_oracle(fn(spark, lake), lake, Q.ORACLES[name], name)


def test_rewritten_events_rebuild_and_move_the_ago_anchor(spark, sf_dir, tmp_path):
    lake = _lake(sf_dir, tmp_path)
    g6 = Q.g6_top_sensors_recent_max
    oracle = Q.ORACLES["g6_top_sensors_recent_max"]
    before = g6(spark, lake).toPandas()
    assert_matches_oracle(g6(spark, lake), lake, oracle, "g6 before")

    # in place, other rows: the latest 40% of events go, so max(ts) and
    # with it the footer-derived ago() anchor move back
    events = pq.read_table(f"{lake}/events.parquet")
    keep = pc.sort_indices(events, [("ts", "ascending")])[: events.num_rows * 6 // 10]
    pq.write_table(events.take(keep), f"{lake}/events.parquet")

    df, jobs = _call(spark, g6, spark, lake)
    assert jobs > 0
    assert_matches_oracle(df, lake, oracle, "g6 after")
    assert not df.toPandas().equals(before)


def test_appended_part_file_rebuilds(spark, sf_dir, tmp_path):
    lake = _lake(sf_dir, tmp_path, tables=())
    events = pq.read_table(f"{sf_dir}/events.parquet")
    half = events.num_rows // 2
    store = f"{lake}/events.parquet"
    os.makedirs(store)
    pq.write_table(events.slice(0, half), f"{store}/part-00000.parquet")
    g4 = Q.g4_status_counts
    assert sum(r["status_count"] for r in g4(spark, lake).collect()) == half

    pq.write_table(events.slice(half), f"{store}/part-00001.parquet")
    df, jobs = _call(spark, g4, spark, lake)
    assert jobs > 0
    # the two parts together are the smoke lake's events table
    assert_matches_oracle(df, sf_dir, Q.ORACLES["g4_status_counts"], "g4")


def test_non_utc_time_zone_between_calls_is_pinned_back(spark, sf_dir, tmp_path):
    lake = _lake(sf_dir, tmp_path)
    g5 = Q.g5_binned_percentiles
    g5(spark, lake)
    prev = spark.conf.get(TZ)
    try:
        spark.conf.set(TZ, "America/Los_Angeles")
        df, jobs = _call(spark, g5, spark, lake)
        assert spark.conf.get(TZ) == "UTC"
        assert jobs == 0
        assert_matches_oracle(df, lake, Q.ORACLES["g5_binned_percentiles"], "g5")
    finally:
        spark.conf.set(TZ, prev)


def test_nanos_store_replacing_micros_store_gets_nanos_as_long(spark, sf_dir, tmp_path):
    lake = _lake(sf_dir, tmp_path)
    g3 = Q.g3_raw_feed_ordered
    oracle = Q.ORACLES["g3_raw_feed_ordered"]
    prev = spark.conf.get(NANOS)
    try:
        spark.conf.unset(NANOS)
        assert_matches_oracle(g3(spark, lake), lake, oracle, "g3 micros")
        assert spark.conf.get(NANOS) == "false"  # a micros store sets no pin

        events = pq.read_table(f"{lake}/events.parquet")
        ts = events.schema.get_field_index("ts")
        nanos = events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns")))
        pq.write_table(nanos, f"{lake}/events.parquet")

        df, jobs = _call(spark, g3, spark, lake)
        assert jobs > 0
        assert spark.conf.get(NANOS) == "true"
        assert_matches_oracle(df, lake, oracle, "g3 nanos")

        # a caller resetting the conf gets it back from the hit's pins
        spark.conf.unset(NANOS)
        df, jobs = _call(spark, g3, spark, lake)
        assert jobs == 0
        assert spark.conf.get(NANOS) == "true"
        assert_matches_oracle(df, lake, oracle, "g3 nanos hit")
    finally:
        if prev == "true":
            spark.conf.set(NANOS, "true")
        else:
            spark.conf.unset(NANOS)


def test_one_entry_per_session_query_and_sf_dir(spark, sf_dir, tmp_path):
    a = _lake(sf_dir, tmp_path, "a")
    b = _lake(sf_dir, tmp_path, "b")
    for _ in range(3):
        Q.q1_flagship_interpolate(spark, a)
        Q.a1_enrichment_join(spark, a)
    Q.q1_flagship_interpolate(spark, b)
    memo = Q._PLAN_MEMO[spark]
    assert sorted(k for k in memo if k[1] in (a, b)) == [
        ("a1_enrichment_join", a),
        ("q1_flagship_interpolate", a),
        ("q1_flagship_interpolate", b),
    ]

    # a rebuild replaces its own entry and leaves the others
    key = ("q1_flagship_interpolate", a)
    old, other = memo[key], memo[("a1_enrichment_join", a)]
    st = os.stat(f"{a}/events.parquet")
    os.utime(f"{a}/events.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    Q.q1_flagship_interpolate(spark, a)
    assert memo[key] is not old
    assert memo[("a1_enrichment_join", a)] is other
    assert len([k for k in memo if k[1] in (a, b)]) == 3


def test_hit_re_registers_the_narrow_temp_view(spark, sf_dir, tmp_path):
    a = _lake(sf_dir, tmp_path, "a", tables=("events",))
    b = _lake(sf_dir, tmp_path, "b", tables=())
    events = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(events.slice(0, 100), f"{b}/events.parquet")
    g2 = Q.g2_measure_series
    g2(spark, a)
    g2(spark, b)
    assert spark.table("ts_raw_narrow").count() <= 100
    _, jobs = _call(spark, g2, spark, a)
    assert jobs == 0
    assert spark.table("ts_raw_narrow").count() == events.filter(
        pc.is_valid(events["value"])
    ).num_rows


def test_unlistable_input_rebuilds_without_error(spark, sf_dir, tmp_path):
    lake = _lake(sf_dir, tmp_path)
    uri = "file://" + lake
    g4 = Q.g4_status_counts
    for _ in range(2):
        df, jobs = _call(spark, g4, spark, uri)
        assert jobs > 0
        assert_matches_oracle(df, lake, Q.ORACLES["g4_status_counts"], "g4 uri")
    assert ("g4_status_counts", uri) not in Q._PLAN_MEMO[spark]


def test_rebuilt_flagship_compiles_no_new_classes(spark, sf_dir):
    # Two builds of resample must generate the same code. With two
    # ignore-nulls leads per linear column, WindowExec ordered their frames
    # by each build's expression ids, so a rebuild compiled new classes
    # about half the time; several rebuilds make that certain to show.
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    build = Q.q1_flagship_interpolate.__wrapped__
    build(spark, sf_dir).collect()
    for _ in range(4):
        df = build(spark, sf_dir)
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        df.collect()
        assert codegen.METRIC_COMPILATION_TIME().getCount() == before


def test_new_export_window_compiles_no_new_classes(spark, sf_dir, tmp_path):
    # The Airflow DAG exports the flagship for a new window every run. Its
    # bounds must reach the fused stage above the grid explode as referenced
    # values: as timestamp literals they were inlined into the generated
    # code, and each new window compiled 2 new classes.
    import datetime as dt

    from time_series_and_data_lakes_spark.sources.export import export_window

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    base = str(tmp_path / "export")
    start = dt.datetime(2024, 1, 7, 3, 17)
    for day in range(2):
        lo = start + dt.timedelta(days=day)
        df = Q.q1_flagship_interpolate(spark, sf_dir)
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        path = export_window(df, base, lo, lo + dt.timedelta(days=1))
        compiled = codegen.METRIC_COMPILATION_TIME().getCount() - before
        assert spark.read.parquet(path).count() > 0
    assert compiled == 0
