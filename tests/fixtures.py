"""Reference-faithful sensor fixture (FIXTURES.md §1): deterministic pure
function of (seed, row index), mirroring the generator distribution at
`random-data-generator/random_data_generator.py:21-41` — 1 s cadence per
sensor, p=0.5 emission (gaps are essential), temp uniform 10-180,
status from the temp thresholds."""

from __future__ import annotations

import random

from pyspark.sql import types as T

#: Column contract of Spark's Kafka connector source — what a
#: ``format("kafka")`` readStream emits per record (key/value are the raw
#: serialized bytes; the rest is log position metadata).
KAFKA_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def sensor_readings(
    seed: int = 42,
    sensors: int = 10,
    span_seconds: int = 120,
    base_ms: int = 1_700_000_000_000,
) -> list[dict]:
    rng = random.Random(seed)
    rows = []
    for tick in range(span_seconds):
        for s in range(sensors):
            if rng.random() >= 0.5:
                continue
            temperature = float(round(10 + rng.random() * 170))
            if temperature > 160:
                status = "ERROR"
            elif temperature > 140 or rng.random() < 0.2:
                status = rng.choice(["WARNING", "ERROR"])
            else:
                status = "OK"
            rows.append(
                {
                    "sensor_id": f"sensor-{s:02d}",
                    "temperature": temperature,
                    "status": status,
                    "event_time": base_ms + tick * 1000 + rng.randrange(1000),
                }
            )
    return rows
