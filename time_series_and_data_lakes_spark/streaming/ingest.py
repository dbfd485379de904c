"""Structured-Streaming ingest: the Kinesis→Lambda→Timestream path rebuilt
as one exactly-once job (SURVEY.md §3.2, S3/S5/S6/T8/T9).

Reference chain: JSON records keyed by sensor_id on a Kinesis shard
(`random-data-generator/random_data_generator.py:37-50`), a Lambda polling
with retries (`cdk/from_kds_to_timestream/from_kds_to_timestream.py:55-61`),
melting each wide record to narrow rows and writing batches of 100
(`cdk/load_data_fn/app.py:44-74`). Here: a file/Kafka JSON source →
``from_json`` → melt → ``foreachBatch`` append into a partitioned store.
Checkpointing replaces the at-least-once retry chain with exactly-once; the
micro-batch IS the write batch.

Store layout for 100 TB: partitioned by ``measure_name`` (the narrow model's
vertical partition — makes P4 predicates partition-pruning) and ``date``
derived from event time (makes P5-P8 time predicates prune). On a real
cluster this is a Delta table with retention DELETE+VACUUM (S7); the
container has no Delta, so Parquet + directory-partition TTL implements the
same contract (:mod:`time_series_and_data_lakes_spark.streaming.retention`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from time_series_and_data_lakes_spark.model import SENSOR_READING_SCHEMA
from time_series_and_data_lakes_spark.operators.melt import melt
from time_series_and_data_lakes_spark.sources.commit import commit_batch


def kafka_reader_options(
    topic: str,
    kafka_options: dict[str, str] | None = None,
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """Final option map for the Kafka connector reader.

    ``startingOffsets`` defaults to ``latest`` — the reference's ``LATEST``
    Kinesis start position (`notebook.txt:15`); on restart the checkpoint
    wins, as with Kinesis. Throughput throttling goes through
    ``kafka_options={"maxOffsetsPerTrigger": N}`` (the distributed-log
    analogue of the file source's ``maxFilesPerTrigger``). Anything in
    ``kafka_options`` overrides the defaults, so an explicit
    ``startingOffsets`` from the caller is respected.

    Split out from :func:`read_json_stream` so the option plumbing is
    pinnable by tests: this container has no broker and no connector jar,
    so subscribe/offset semantics beyond the option contract can only be
    exercised on a real deployment (documented gap)."""
    opts = {"subscribe": topic, "startingOffsets": starting_offsets}
    opts.update(kafka_options or {})
    return opts


def decode_kafka_json(
    raw: DataFrame, schema=SENSOR_READING_SCHEMA, key_field: str = "sensor_id"
) -> DataFrame:
    """Kafka envelope → typed wide records: parse the JSON ``value`` bytes
    against ``schema`` and attach the PROCTIME column — the same output
    contract as the file-source path, so everything downstream (melt, sink,
    CEP) is source-agnostic. Works on streaming and batch frames (tests
    feed a Kafka-shaped parquet stream through it — no broker needed).

    Tombstones (``value IS NULL`` — Kafka's delete markers on compacted
    topics) and records whose bytes do not decode to a JSON object carrying
    ``key_field`` (``from_json`` is PERMISSIVE: malformed input yields an
    all-NULL struct, not a NULL) are DROPPED, not crashed on and not
    emitted as all-NULL rows: an ingest pipeline must survive a compaction
    pass or a rogue producer. Callers with a custom ``schema`` must name a
    REQUIRED field as ``key_field`` — a legitimately-optional field here
    would silently drop valid records."""
    if key_field not in schema.fieldNames():
        raise ValueError(
            f"key_field {key_field!r} is not a field of the record schema "
            f"{schema.fieldNames()}; pass key_field= naming a required field"
        )
    return (
        raw.filter(F.col("value").isNotNull())
        .select(F.from_json(F.col("value").cast("string"), schema).alias("r"))
        .filter(F.col(f"r.{key_field}").isNotNull())
        .select("r.*")
        .withColumn("ptime", F.current_timestamp())
    )


def read_json_stream(
    spark: SparkSession,
    source: str,
    schema=SENSOR_READING_SCHEMA,
    max_files_per_trigger: int | None = None,
    source_format: str = "files",
    kafka_options: dict[str, str] | None = None,
) -> DataFrame:
    """Keyed JSON record stream → typed wide records (S2/S3).

    ``source_format="files"`` (default, and the test path): ``source`` is a
    JSON-lines directory — the sandbox stand-in for the reference's Kinesis
    shard (`notebook.txt:2-17`). ``LATEST`` start position ≡
    ``latestFirst``/checkpoint semantics.

    ``source_format="kafka"``: ``source`` is the topic to subscribe; the
    distributed-log path a real deployment uses (Kinesis ≈ Kafka). Extra
    connector options (at minimum ``kafka.bootstrap.servers``) come from
    ``kafka_options``. Requires the spark-sql-kafka connector jar on the
    cluster — absent in this container, so CI covers the decode stage via
    :func:`decode_kafka_json` on Kafka-shaped frames instead.

    Either way the computed processing-time column mirrors Flink's
    ``PROCTIME()`` (`notebook.txt:7`) — event time stays payload, as in the
    reference.
    """
    if source_format == "kafka":
        if max_files_per_trigger is not None:
            raise ValueError(
                "max_files_per_trigger is a file-source knob; throttle the "
                "kafka source with kafka_options={'maxOffsetsPerTrigger': N}"
            )
        reader = spark.readStream.format("kafka")
        for k, v in kafka_reader_options(source, kafka_options).items():
            reader = reader.option(k, v)
        return decode_kafka_json(reader.load(), schema)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # explicit validation instead of a falsy check: 0 used to be
        # silently dropped (unthrottled stream) while the kafka branch
        # rejects the same argument loudly
        if max_files_per_trigger < 1:
            raise ValueError(
                f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}"
            )
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source)
    return raw.withColumn("ptime", F.current_timestamp())


def melt_stream(wide: DataFrame) -> DataFrame:
    """Wide→narrow melt of the stream (the Lambda's job, `app.py:54-67`):
    epoch-millis ``event_time`` becomes the store's ``time``; ``status``
    rides along as a dimension."""
    return melt(
        wide.withColumn("time", F.timestamp_millis(F.col("event_time"))),
        dims=["sensor_id", "status"],
        measures=["temperature"],
        time_col="time",
    )


def start_narrow_store_sink(
    narrow: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Append the narrow stream into the partitioned store via foreachBatch
    (S6). Partition columns: measure_name, date(time).

    Exactly-once under crash-replay on plain parquet: each micro-batch is
    staged under ``.staging-ingest-{batch_id}`` and committed by
    :func:`...sources.commit.commit_batch`, so every staged file lands in
    its live partition as ``b{batch_id}-{file}``. A bare
    ``mode('append')`` here would be at-least-once: a crash between the
    append and the checkpoint commit replays the batch and duplicates its
    rows."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        def stage(staging: str) -> bool:
            (
                batch.withColumn("date", F.to_date("time"))
                .write.partitionBy("measure_name", "date")
                .mode("overwrite")
                .parquet(staging)
            )
            return True

        commit_batch(
            batch.sparkSession, batch_id, checkpoint_dir, store_path,
            "ingest", stage,
        )

    writer = narrow.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
