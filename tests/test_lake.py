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

# export_window reads naive bounds as UTC; frames are built from aware UTC
# datetimes, which PySpark converts without the process's local zone
UTC = dt.timezone.utc


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
        ("sensor-00", dt.datetime(2024, 1, 1, 0, 0, i, tzinfo=UTC), "OK", 10.0 + i)
        for i in range(30)
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
    want = sorted(map(tuple, df.filter(F.col("time") < F.lit(end.replace(tzinfo=UTC))).collect()))
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
        ("sensor-01", dt.datetime(2024, 2, 1, 0, 0, i, tzinfo=UTC), "OK", 20.0 + i)
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
