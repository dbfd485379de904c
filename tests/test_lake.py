"""Lake-side fidelity tests (SURVEY.md §2.1 S8-S12, P10; FIXTURES.md §5-7):
CSV dimension tables, the enrichment join + view, the Athena-style untyped
re-read of an exported CSV, and the pandas hand-off."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.sources.catalog import crawl_and_register
from time_series_and_data_lakes_spark.sources.csv_tables import (
    CUSTOMER_DATA_SCHEMA,
    SENSOR_MAPPING_SCHEMA,
    read_headered_csv,
    register_view,
)
from time_series_and_data_lakes_spark.sources.export import export_window


def _write_reference_shaped_dims(tmp_path):
    """Reference-shaped dimension CSVs (FIXTURES.md §5-6): 100 sensors
    mapped onto customers 1001-1005; 5 customers with quoted fields."""
    mapping = tmp_path / "sensor_mapping.csv"
    lines = ["sensor_id,customer_id"]
    lines += [f"sensor-{i:02d},{1001 + i % 5}" for i in range(100)]
    mapping.write_text("\n".join(lines) + "\n")

    customers = tmp_path / "customer_data.csv"
    rows = ["customer_id,company_name,contact_person,contract_type"]
    for i in range(5):
        rows.append(f'{1001 + i},"Company {i}","Person {i}",{"premium" if i % 2 == 0 else "basic"}')
    customers.write_text("\n".join(rows) + "\n")
    return str(mapping), str(customers)


def test_csv_dims_and_enrichment_join(spark, tmp_path):
    mapping_path, customer_path = _write_reference_shaped_dims(tmp_path)
    mapping = read_headered_csv(spark, mapping_path, SENSOR_MAPPING_SCHEMA)
    customers = read_headered_csv(spark, customer_path, CUSTOMER_DATA_SCHEMA)
    assert mapping.count() == 100 and customers.count() == 5
    # all-string typing, as the Athena DDL declares (README.md:359-406)
    assert all(f.dataType.simpleString() == "string" for f in mapping.schema.fields)

    # J2 (x100 dim) + J3 (USING-style, x5 dim), both broadcast-sized
    enriched = mapping.join(F.broadcast(customers), on="customer_id", how="inner")
    assert enriched.count() == 100
    register_view(enriched, "sensor_customer")
    premium = spark.sql(
        "SELECT count(*) AS n FROM sensor_customer WHERE contract_type = 'premium'"
    ).collect()[0]["n"]
    assert premium == 60  # 3 of 5 customers premium x 20 sensors each


def test_export_csv_untyped_reread_retype(spark, tmp_path):
    """The reference's schema-on-read wart (`README.md:411-425`): the crawler
    types the exported CSV as strings, consumers re-type with CAST and strip
    embedded header rows with substr(col,1,1)='2'. Round-trip must equal the
    typed original."""
    rows = [
        ("sensor-00", dt.datetime(2024, 1, 1, 0, 0, i), "OK", 10.0 + i) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "sensor_id string, time timestamp, status string, temperature double"
    )
    base = str(tmp_path / "lake")
    start, end = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 1)
    path = export_window(df, base, start, end, fmt="csv")

    # untyped re-read: header NOT honored -> header rows become data rows
    untyped = (
        spark.read.option("header", False)
        .csv(path)
        .toDF("col0", "col1", "col2", "col3")
    )
    assert all(f.dataType.simpleString() == "string" for f in untyped.schema.fields)
    retyped = (
        untyped.filter(F.substring("col1", 1, 1) == "2")  # strip header rows (P10)
        .select(
            F.col("col0").alias("sensor_id"),
            F.col("col1").cast("timestamp").alias("time"),
            F.col("col2").alias("status"),
            F.col("col3").cast("double").alias("temperature"),
        )
    )
    want = sorted(map(tuple, df.filter(F.col("time") < F.lit(end)).collect()))
    got = sorted(map(tuple, retyped.collect()))
    assert got == want


def test_crawl_and_register_infers_schema(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.5, "x")], "a long, b double, c string")
    path = str(tmp_path / "crawled")
    df.write.mode("overwrite").parquet(path)
    out = crawl_and_register(spark, path, "crawled_tbl")
    assert spark.sql("SELECT a, b, c FROM crawled_tbl").collect()[0][:3] == (1, 2.5, "x")


def test_topandas_arrow_handoff(spark, sf_dir):
    """S8: query result -> typed pandas DataFrame via Arrow."""
    from time_series_and_data_lakes_spark import queries as Q

    pdf = Q.g4_status_counts(spark, sf_dir).toPandas()
    assert set(pdf.columns) == {"status", "status_count"}
    assert pdf["status_count"].dtype.kind in "iu"
    assert pdf["status_count"].sum() == 1000


def test_export_formats_round_trip(spark, tmp_path):
    """Every supported export format (parquet/csv/json/orc) writes the same
    window to its deterministic prefix and reads back value-identical."""
    import pytest

    rows = [
        ("sensor-01", dt.datetime(2024, 2, 1, 0, 0, i), "OK", 20.0 + i)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "sensor_id string, time timestamp, status string, temperature double"
    )
    start, end = dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 2)
    want = sorted(map(tuple, df.collect()))

    readers = {
        "parquet": lambda p: spark.read.parquet(p),
        "csv": lambda p: spark.read.option("header", True)
        .schema(df.schema)
        .csv(p),
        "json": lambda p: spark.read.schema(df.schema).json(p),
        "orc": lambda p: spark.read.orc(p),
    }
    for fmt, reader in readers.items():
        base = str(tmp_path / fmt)
        path = export_window(df, base, start, end, fmt=fmt)
        got = sorted(map(tuple, reader(path).collect()))
        assert got == want, fmt

    with pytest.raises(ValueError, match="unsupported"):
        export_window(df, str(tmp_path / "x"), start, end, fmt="avro")
    assert not (tmp_path / "x").exists()  # refused before any filesystem action


def test_write_training_shards_deterministic(spark, tmp_path):
    from time_series_and_data_lakes_spark.sources.export import write_training_shards

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 100).alias("payload")
    )
    p1 = str(tmp_path / "shards1")
    write_training_shards(docs, p1, n_shards=8)
    back = spark.read.parquet(p1)
    # all rows survive, shard dirs complete, membership is h64(id) % 8
    assert back.count() == 300
    assert back.select("shard").distinct().count() == 8
    from time_series_and_data_lakes_spark.operators.dedup import h64

    expect = docs.withColumn(
        "shard", (h64(F.col("doc_id").cast("string"), seed="shard") % 8).cast("int")
    )
    assert back.exceptAll(expect).count() == 0 and expect.exceptAll(back).count() == 0

    # membership is independent of input partitioning and re-runs (the
    # resumable-loader contract)
    p2 = str(tmp_path / "shards2")
    write_training_shards(docs.repartition(13), p2, n_shards=8)
    a = spark.read.parquet(p1).orderBy("doc_id").collect()
    b = spark.read.parquet(p2).orderBy("doc_id").collect()
    assert a == b
    # single-shard read prunes to one directory
    one = spark.read.parquet(p1).filter(F.col("shard") == 3)
    assert one.count() == sum(1 for r in a if r["shard"] == 3)


def test_write_training_shards_null_id_stays_inside_layout(spark, tmp_path):
    # r9 review find: a NULL doc_id used to hash to a NULL shard and land
    # in shard=__HIVE_DEFAULT_PARTITION__ — outside the promised
    # shard=0..n-1 layout, invisible to a loader iterating those dirs.
    # NULL ids now hash as the empty string: deterministic, in-range.
    from time_series_and_data_lakes_spark.sources.export import write_training_shards

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "doc_id bigint, text string"
    )
    p = str(tmp_path / "shards_null")
    write_training_shards(df, p, n_shards=4)
    import os

    dirs = sorted(d for d in os.listdir(p) if d.startswith("shard="))
    assert all(d.removeprefix("shard=").isdigit() for d in dirs), dirs
    back = spark.read.parquet(p)
    assert back.count() == 3
    (null_shard,) = back.filter(F.col("doc_id").isNull()).select("shard").collect()
    assert null_shard["shard"] in range(4)


def test_events_loader_adapts_nanos_long_generation(spark, tmp_path):
    # Round-1 regression: some driver testdata generations ship events.ts
    # as parquet TIMESTAMP(NANOS), which Spark 4 reads as a LONG under
    # spark.sql.legacy.parquet.nanosAsLong. The loader must floor-convert
    # nanos -> microsecond TIMESTAMP (DuckDB's truncation) so both
    # generations produce identical frames. Current testdata is native
    # TIMESTAMP, so this branch needs its own fixture.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from time_series_and_data_lakes_spark.queries import load

    micros = [1_700_000_000_000_000 + i * 1_000_000 + 123 for i in range(5)]
    table = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array([m * 1000 + 999 for m in micros], pa.int64()),
            "user_id": pa.array([1, 2, 1, 2, 1], pa.int64()),
            "event_type": pa.array(["a"] * 5),
            "value": pa.array([0.5] * 5, pa.float64()),
            "props": pa.array(["{}"] * 5),
        }
    )
    d = tmp_path / "nanos_gen"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))

    got = load(spark, str(d), "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    from pyspark.sql import functions as F

    vals = [r["us"] for r in got.select(F.unix_micros("ts").alias("us")).orderBy("event_id").collect()]
    assert vals == micros  # nanos floor to micros, sub-micro digits dropped


def test_events_nanos_probe_walks_partitioned_store(spark, tmp_path):
    """_events_ts_is_nanos probes RECURSIVELY (round-8 ADVICE): a
    partitioned events store has no top-level part files, and a corrupt
    or sidecar file must be skipped, not treated as "no nanos" — the
    old single-file probe returned False and the read then failed
    outright on the TIMESTAMP(NANOS) column. A leftover micros part file
    under ``_temporary/`` (an aborted write's staging tree, which Spark
    readers skip) sorts first and must be pruned the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from time_series_and_data_lakes_spark.queries import _events_ts_is_nanos, load

    micros = [1_700_000_000_000_000 + i * 1_000_000 for i in range(4)]
    table = pa.table(
        {
            "event_id": pa.array(range(4), pa.int64()),
            "ts": pa.array([m * 1000 + 7 for m in micros], pa.int64()).cast(
                pa.timestamp("ns")
            ),
            "user_id": pa.array([1, 2, 1, 2], pa.int64()),
            "event_type": pa.array(["a"] * 4),
            "value": pa.array([0.5] * 4, pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    store = tmp_path / "events.parquet"
    part = store / "day=2024-01-01"
    part.mkdir(parents=True)
    (store / "_SUCCESS").touch()  # sidecar: ignored
    pq.write_table(table, str(part / "part-000.parquet"))
    debris = store / "_temporary" / "0"
    debris.mkdir(parents=True)
    pq.write_table(
        table.set_column(1, "ts", table["ts"].cast(pa.timestamp("us"), safe=False)),
        str(debris / "part-00000.parquet"),
    )
    assert _events_ts_is_nanos(str(store)) is True

    # probe-only: a corrupt part file is skipped, not read as "no nanos"
    # (Spark itself cannot read a store containing one, so this dir is
    # never loaded)
    corrupt = tmp_path / "corrupt" / "events.parquet" / "day=2024-01-01"
    corrupt.mkdir(parents=True)
    (corrupt / "aaa.parquet").write_bytes(b"")
    pq.write_table(table, str(corrupt / "part-000.parquet"))
    assert _events_ts_is_nanos(str(corrupt.parent)) is True
    got = load(spark, str(tmp_path), "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    from pyspark.sql import functions as F

    vals = sorted(
        r["us"] for r in got.select(F.unix_micros("ts").alias("us")).collect()
    )
    assert vals == micros  # nanos floor to micros through the long branch


def test_parquet_footer_max_matches_scan_and_falls_back(spark, tmp_path):
    """sources/stats.py: the footer max equals a real scan's max; files
    written without statistics return None (scan fallback), and the
    anchored-query helper respects that contract."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from time_series_and_data_lakes_spark.sources.stats import (
        parquet_footer_max_micros,
    )

    ts = [
        dt.datetime(2024, 3, 1, 12, 0, 0, 123456),
        dt.datetime(2024, 2, 1, 0, 0, 0),
        dt.datetime(2024, 3, 5, 23, 59, 59, 999999),
    ]
    table = pa.table({"ts": pa.array(ts, type=pa.timestamp("us"))})
    p = str(tmp_path / "with_stats.parquet")
    pq.write_table(table, p)
    expected = int(max(ts).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert parquet_footer_max_micros(p, "ts") == expected
    # nanosecond unit floors to micros like queries.load does
    table_ns = pa.table({"ts": pa.array(ts, type=pa.timestamp("ns"))})
    p_ns = str(tmp_path / "ns.parquet")
    pq.write_table(table_ns, p_ns, store_schema=False)
    assert parquet_footer_max_micros(p_ns, "ts") == expected
    # no statistics -> None, never a guess
    p_nostats = str(tmp_path / "nostats.parquet")
    pq.write_table(table, p_nostats, write_statistics=False)
    assert parquet_footer_max_micros(p_nostats, "ts") is None
    # a PARTITIONED store (no top-level part files) is walked recursively,
    # skipping sidecars — falling back to a scan there defeats the helper
    part_store = tmp_path / "partitioned.parquet"
    day = part_store / "day=2024-03-01"
    day.mkdir(parents=True)
    (part_store / "_SUCCESS").touch()
    pq.write_table(table, str(day / "part-000.parquet"))
    assert parquet_footer_max_micros(str(part_store), "ts") == expected
    # hidden DIRECTORIES are pruned, not just hidden files: a mid-write
    # .staging-ingest-* tree is invisible to Spark readers, and a LATER
    # staged max must not leak into the anchor (r10 find — the old walk
    # only filtered on file names)
    staged_day = part_store / ".staging-ingest-7" / "day=2024-03-09"
    staged_day.mkdir(parents=True)
    later = pa.table(
        {"ts": pa.array([dt.datetime(2024, 3, 9, 6)], type=pa.timestamp("us"))}
    )
    pq.write_table(later, str(staged_day / "part-000.parquet"))
    assert parquet_footer_max_micros(str(part_store), "ts") == expected
    # missing column -> None
    assert parquet_footer_max_micros(p, "nope") is None


def test_compact_partitions_in_place(spark, tmp_path):
    """sources/compaction.py: selected partitions collapse to one file with
    identical rows; unselected partitions keep their original files byte
    -for-byte; re-running is idempotent; the overwrite-mode conf is
    restored."""
    import glob
    import os

    from pyspark.sql import functions as F

    from time_series_and_data_lakes_spark.sources.compaction import (
        compact_partitions,
    )

    store = str(tmp_path / "store")
    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("measure_name"),
        F.to_date(F.lit("2024-01-01")).alias("date"),
        F.col("id").alias("v"),
    ).union(
        spark.range(100).select(
            F.lit("9").alias("measure_name"),
            F.to_date(F.lit("2024-01-02")).alias("date"),
            (F.col("id") + 10_000).alias("v"),
        )
    )
    # fragment: many tasks -> many files per partition
    df.repartition(16).write.partitionBy("measure_name", "date").parquet(store)

    def files(part_glob):
        return sorted(
            p for p in glob.glob(f"{store}/{part_glob}/*") if p.endswith(".parquet")
        )

    assert len(files("measure_name=0/date=2024-01-01")) > 1
    untouched_before = [(p, os.path.getmtime(p)) for p in files("measure_name=9/date=2024-01-02")]

    before = sorted(
        tuple(r) for r in spark.read.parquet(store).filter("measure_name != '9'").collect()
    )
    mode_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    n = compact_partitions(
        spark, store, ["measure_name", "date"], predicate=F.col("measure_name") != "9"
    )
    assert n == 2000
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode_before

    for m in ("0", "1", "2"):
        assert len(files(f"measure_name={m}/date=2024-01-01")) == 1, m
    after = sorted(
        tuple(r) for r in spark.read.parquet(store).filter("measure_name != '9'").collect()
    )
    assert after == before
    # untouched partition: same files, same mtimes
    assert [(p, os.path.getmtime(p)) for p in files("measure_name=9/date=2024-01-02")] == untouched_before

    # idempotent re-run
    n2 = compact_partitions(
        spark, store, ["measure_name", "date"], predicate=F.col("measure_name") != "9"
    )
    assert n2 == 2000
    for m in ("0", "1", "2"):
        assert len(files(f"measure_name={m}/date=2024-01-01")) == 1, m
    # empty predicate is a no-op
    assert compact_partitions(
        spark, store, ["measure_name", "date"], predicate=F.col("measure_name") == -1
    ) == 0
    # a zero file count is rejected at construct time, not as a mid-job
    # ANSI DIVIDE_BY_ZERO from the salt modulo
    import pytest

    with pytest.raises(ValueError, match="files_per_partition"):
        compact_partitions(
            spark, store, ["measure_name", "date"], files_per_partition=0
        )


def test_compaction_salt_is_ansi_total(spark, tmp_path):
    """The multi-file salt must be pmod(xxhash64, n), never abs(h) % n:
    under ANSI, abs(Long.MIN_VALUE) throws ARITHMETIC_OVERFLOW on exactly
    the one hash value abs() cannot represent — a one-row job killer (r10
    review find). Pin the class on the boundary literal, then exercise the
    salted path end-to-end: rows survive, files stay within the cap."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from time_series_and_data_lakes_spark.sources.compaction import (
        compact_partitions,
    )

    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.range(1).select(
            F.abs(F.lit(-(2**63)).cast("long")) % 2
        ).collect()
    [r] = spark.range(1).select(
        F.pmod(F.lit(-(2**63)).cast("long"), F.lit(2)).alias("s")
    ).collect()
    assert r["s"] == 0

    store = str(tmp_path / "store")
    spark.range(600).select(
        (F.col("id") % 2).cast("string").alias("k"), F.col("id").alias("v")
    ).repartition(8).write.partitionBy("k").parquet(store)
    before = sorted(r["v"] for r in spark.read.parquet(store).collect())
    n = compact_partitions(spark, store, ["k"], files_per_partition=2)
    assert n == 600
    assert sorted(r["v"] for r in spark.read.parquet(store).collect()) == before
    for k in ("0", "1"):
        got = [
            p
            for p in glob.glob(f"{store}/k={k}/*")
            if p.endswith(".parquet")
        ]
        assert 1 <= len(got) <= 2, (k, got)


def test_zorder_layout_skips_more_files_than_linear(spark, sf_dir, tmp_path):
    # Z-order clustering on (user_id, ts) must make file min/max envelopes
    # tight in BOTH dimensions: for a box predicate, strictly fewer files
    # intersect than under a time-sorted (linear) layout of the same data,
    # and the layout is purely physical — query answers are unchanged.
    from time_series_and_data_lakes_spark.queries import load
    from time_series_and_data_lakes_spark.sources.zorder import (
        files_intersecting_box,
        write_zordered,
    )

    events = load(spark, sf_dir, "events")
    zpath = str(tmp_path / "events_z")
    lpath = str(tmp_path / "events_linear")
    write_zordered(events, zpath, ["user_id", "ts"], bits=12, n_files=16)
    (
        events.repartitionByRange(16, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    uids = [r["user_id"] for r in events.select("user_id").distinct().collect()]
    uids.sort()
    lo_u, hi_u = uids[0], uids[len(uids) // 8]
    tmin, tmax = events.selectExpr(
        "min(unix_micros(ts))", "max(unix_micros(ts))"
    ).first()
    lo_t = tmin
    hi_t = tmin + (tmax - tmin) // 8

    import datetime as dt

    box_sql = (
        f"user_id BETWEEN {lo_u} AND {hi_u} AND "
        f"unix_micros(ts) BETWEEN {lo_t} AND {hi_t}"
    )
    # correctness: same rows from both layouts
    nz = spark.read.parquet(zpath).filter(F.expr(box_sql)).count()
    nl = spark.read.parquet(lpath).filter(F.expr(box_sql)).count()
    want = events.filter(F.expr(box_sql)).count()
    assert nz == nl == want

    epoch = dt.datetime(1970, 1, 1)
    ts_box = (
        epoch + dt.timedelta(microseconds=lo_t),
        epoch + dt.timedelta(microseconds=hi_t),
    )
    z_hit, z_total = files_intersecting_box(
        zpath, {"user_id": (lo_u, hi_u), "ts": ts_box}
    )
    l_hit, l_total = files_intersecting_box(
        lpath, {"user_id": (lo_u, hi_u), "ts": ts_box}
    )
    assert z_total == l_total == 16
    # the linear layout prunes on time only (~1/8 of files survive) but
    # every surviving file spans all users; z-order prunes on both axes
    assert z_hit < l_hit, (z_hit, l_hit)


def test_zorder_key_works_at_the_63_bit_limit(spark):
    # bits*len(coords) == 63 passes the guard; the final fold step's unused
    # multiplier update must not compute 2^63 (ANSI bigint overflow)
    from time_series_and_data_lakes_spark.sources.zorder import zorder_key

    df = spark.range(4).select(
        (F.col("id") % 2).alias("a"), (F.col("id") * 3 % 2).alias("b")
    )
    # 3 coords x 21 bits = 63: top bit positions 60..62, key fits a bigint
    top = (1 << 21) - 1
    keys = df.select(
        zorder_key(
            [F.lit(top).cast("bigint")] * 3,
            bits=21,
        ).alias("k")
    ).collect()
    assert all(r["k"] == (1 << 63) - 1 for r in keys)
    # 1 coord x 63 bits: identity interleave of the max value
    (r0,) = (
        spark.range(1)
        .select(zorder_key([F.lit((1 << 63) - 1).cast("bigint")], bits=63).alias("k"))
        .collect()
    )
    assert r0["k"] == (1 << 63) - 1


def test_files_intersecting_box_tolerates_statless_columns(spark, tmp_path):
    # a parquet file written WITHOUT statistics must count as intersecting
    # (conservative), not crash on None min/max comparisons
    import pyarrow as pa
    import pyarrow.parquet as pq

    from time_series_and_data_lakes_spark.sources.zorder import (
        files_intersecting_box,
    )

    d = tmp_path / "nostats"
    d.mkdir()
    pq.write_table(
        pa.table({"x": [1, 2, 3]}), str(d / "a.parquet"), write_statistics=False
    )
    pq.write_table(pa.table({"x": [100, 200]}), str(d / "b.parquet"))
    hit, total = files_intersecting_box(str(d), {"x": (0, 5)})
    assert total == 2
    # exactly the stat-less file intersects: a counts conservatively as a
    # hit, b's statistics (min 100 > hi 5) exclude it
    assert hit == 1


def test_merge_upsert_updates_inserts_and_leaves_partitions_untouched(
    spark, tmp_path
):
    import os

    from time_series_and_data_lakes_spark.sources.merge import merge_upsert

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i), "old") for i in range(30)],
        "id bigint, part string, value double, tag string",
    )
    merge_upsert(spark, path, base, ["id"], ["part"])

    def snapshot(part):
        d = os.path.join(path, f"part={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_d2 = snapshot("d2")
    # updates touch only d0/d1 partitions: overwrite two keys, insert two new
    updates = spark.createDataFrame(
        [
            (0, "d0", 100.0, "new"),   # matched -> replaced
            (4, "d1", 104.0, "new"),   # matched -> replaced
            (90, "d0", 900.0, "new"),  # not matched -> inserted
            (91, "d1", 910.0, "new"),  # not matched -> inserted
        ],
        "id bigint, part string, value double, tag string",
    )
    n = merge_upsert(spark, path, updates, ["id"], ["part"])
    got = spark.read.parquet(path)
    assert got.count() == 32
    assert n == got.filter(F.col("part") != "d2").count()
    rows = {r["id"]: r for r in got.collect()}
    assert rows[0]["value"] == 100.0 and rows[0]["tag"] == "new"
    assert rows[4]["value"] == 104.0 and rows[4]["tag"] == "new"
    assert rows[90]["value"] == 900.0 and rows[91]["value"] == 910.0
    assert rows[3]["tag"] == "old"  # unmatched key in a touched partition
    # the d2 partition was never read or rewritten
    assert snapshot("d2") == before_d2
    # idempotent: re-merging the same batch changes nothing
    merge_upsert(spark, path, updates, ["id"], ["part"])
    assert spark.read.parquet(path).count() == 32


def test_merge_upsert_null_partition_value(spark, tmp_path):
    # ADVICE_r4: a NULL partition value lands in the writer's default
    # partition; the affected-partition predicate must be null-safe or the
    # stored rows there are never read and the key duplicates.
    from time_series_and_data_lakes_spark.sources.merge import merge_upsert

    path = str(tmp_path / "store")
    schema = "id bigint, part string, value double"
    base = spark.createDataFrame([(1, None, 1.0), (2, None, 2.0), (3, "d0", 3.0)], schema)
    merge_upsert(spark, path, base, ["id"], ["part"])
    merge_upsert(
        spark, path, spark.createDataFrame([(1, None, 10.0)], schema), ["id"], ["part"]
    )
    got = sorted((r["id"], r["part"], r["value"]) for r in spark.read.parquet(path).collect())
    assert got == [(1, None, 10.0), (2, None, 2.0), (3, "d0", 3.0)]


def test_merge_upsert_null_key_replaces_not_duplicates(spark, tmp_path):
    # a NULL key component must match NULL (Delta MERGE's <=> convention):
    # a plain equi anti join never matches NULL=NULL, so the stored row
    # would survive alongside the inserted update — a duplicate key
    from time_series_and_data_lakes_spark.sources.merge import merge_upsert

    path = str(tmp_path / "store")
    schema = "id bigint, part string, value double"
    base = spark.createDataFrame([(None, "d0", 1.0), (2, "d0", 2.0)], schema)
    merge_upsert(spark, path, base, ["id"], ["part"])
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(None, "d0", 10.0)], schema),
        ["id"],
        ["part"],
    )
    got = sorted(
        ((r["id"], r["part"], r["value"]) for r in spark.read.parquet(path).collect()),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    assert got == [(None, "d0", 10.0), (2, "d0", 2.0)]
