"""End-to-end pipeline parity test (SURVEY.md §3): one run that chains the
whole reference architecture — generator → stream ingest → narrow store →
flagship interpolation over the store → idempotent windowed export →
enrichment join — and checks shape parity with the README demo
(≈ sensors × (window_seconds + 1) interpolated rows, `README.md:172-186`)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.fixtures import sensor_readings
from tests.test_streaming import _write_json_batches
from time_series_and_data_lakes_spark.operators import resample
from time_series_and_data_lakes_spark.sources.csv_tables import (
    SENSOR_MAPPING_SCHEMA,
    read_headered_csv,
)
from time_series_and_data_lakes_spark.sources.export import export_window
from time_series_and_data_lakes_spark.streaming import (
    melt_stream,
    read_json_stream,
    start_narrow_store_sink,
)

BASE_MS = 1_700_000_000_000
SPAN = 120
SENSORS = 20


def test_full_pipeline(spark, tmp_path):
    # 1. generator → stream → melt → narrow store (§3.2)
    rows = sensor_readings(seed=7, sensors=SENSORS, span_seconds=SPAN, base_ms=BASE_MS)
    src = _write_json_batches(tmp_path, rows, n_batches=3)
    store = str(tmp_path / "store")
    q = start_narrow_store_sink(
        melt_stream(read_json_stream(spark, src)), store, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    # 2. flagship interpolation over the store (§3.1): measure filter (P4,
    #    pruned by the measure_name partition), per-sensor 1 s grid (W1-W3),
    #    re-agg (A4)
    narrow = spark.read.parquet(store).filter(F.col("measure_name") == "temperature")
    interp = resample(
        narrow.select(
            "sensor_id", "time", F.col("measure_value_double").alias("temperature"), "status"
        ),
        keys=["sensor_id"],
        step="INTERVAL 1 SECOND",
        linear={"temperature": "temperature"},
        locf={"status": "status"},
    )
    flagship = interp.groupBy("sensor_id", "time").agg(
        F.min("status").alias("status"), F.avg("temperature").alias("temperature")
    )
    n = flagship.count()
    # README shape parity: each sensor yields (span between its min and max
    # observation at 1 s grid) + 1 rows — bounded by sensors x (SPAN + 1).
    assert SENSORS * (SPAN // 2) < n <= SENSORS * (SPAN + 1)
    assert flagship.filter(F.col("temperature").isNull()).count() == 0
    assert flagship.filter(F.col("status").isNull()).count() == 0

    # 3. idempotent windowed export (§3.4): two runs, byte-stable content
    start = dt.datetime.utcfromtimestamp(BASE_MS / 1000)
    end = start + dt.timedelta(seconds=60)
    lake = str(tmp_path / "lake")
    p1 = export_window(flagship, lake, start, end)
    first = sorted(map(tuple, spark.read.parquet(p1).collect()))
    p2 = export_window(flagship, lake, start, end)
    assert sorted(map(tuple, spark.read.parquet(p2).collect())) == first

    # 4. enrichment join over the exported window (§3.4 Athena hop)
    mapping_lines = ["sensor_id,customer_id"] + [
        f"sensor-{i:02d},{1001 + i % 5}" for i in range(SENSORS)
    ]
    mpath = tmp_path / "mapping.csv"
    mpath.write_text("\n".join(mapping_lines) + "\n")
    mapping = read_headered_csv(spark, str(mpath), SENSOR_MAPPING_SCHEMA)
    exported = spark.read.parquet(p1)
    enriched = exported.join(F.broadcast(mapping), on="sensor_id", how="inner")
    assert enriched.count() == exported.count()  # every sensor mapped
    per_customer = enriched.groupBy("customer_id").count()
    assert per_customer.count() == 5


def test_curation_chain_end_to_end(spark, sf_dir):
    """The LLM-curation operators COMPOSE: near-dup clustering -> keep one
    representative per cluster -> quality filter -> benchmark
    decontamination -> deterministic split, as one flow over the documents
    table. Each operator is oracle-gated on its own; this pins the
    cross-operator invariants (no surviving near-dup pair, no contaminated
    doc in train, splits partition the corpus)."""
    from pyspark.sql import functions as F

    from time_series_and_data_lakes_spark.operators.curation import (
        hash_split,
        ngram_decontaminate,
    )
    from time_series_and_data_lakes_spark.operators.dedup import minhash_lsh_dedup
    from time_series_and_data_lakes_spark.operators.graph import connected_components
    from time_series_and_data_lakes_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = docs.count()

    # near-dup pairs -> components -> drop every non-representative node
    pairs = minhash_lsh_dedup(docs, threshold=0.8)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    dupes = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(dupes, "doc_id", "left_anti")
    n_dupes = dupes.count()
    assert kept.count() == total - n_dupes
    assert n_dupes > 0  # the fixture must actually exercise dedup
    # no near-dup pair survives with both endpoints kept
    kept_ids = kept.select("doc_id")
    both_kept = (
        pairs.join(kept_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(kept_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    )
    assert both_kept.count() == 0

    # quality floor (keep the invariant loose: subset relation + scored)
    scored = kept.withColumn("q", quality_score(F.col("text")))
    quality = scored.filter(F.col("q") >= 0.05)
    assert 0 < quality.count() <= kept.count()

    # decontaminate against a pretend benchmark slice of the corpus
    bench = F.col("doc_id") % 23 == 0
    flags = ngram_decontaminate(quality, bench, threshold=5)
    clean = (
        quality.filter(~bench)
        .join(flags.filter(F.col("contaminated") == 0).select("doc_id"), "doc_id")
    )
    assert clean.count() <= quality.filter(~bench).count()

    # deterministic split partitions the corpus and replays identically
    split1 = hash_split(clean).groupBy("split").count().collect()
    split2 = hash_split(clean).groupBy("split").count().collect()
    assert sorted(map(tuple, split1)) == sorted(map(tuple, split2))
    assert sum(r["count"] for r in split1) == clean.count()
