"""Data model: the schema of the wide event record every stream reader
parses, mirroring the reference's (SURVEY.md §1):
``random-data-generator/random_data_generator.py:29-34`` and Flink DDL
``kinesis-studio-notebook/notebook.txt:2-8``. The narrow store's shape is
what :func:`...streaming.ingest.melt_stream` produces, and the CEP match
record's what the CEP operators emit.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Wide stream payload (one JSON object per reading).
SENSOR_READING_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("temperature", T.DoubleType()),
        T.StructField("status", T.StringType()),
        T.StructField("event_time", T.LongType()),  # epoch milliseconds
    ]
)
