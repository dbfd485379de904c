"""tsdl-spark: PySpark-native time-series analytics engine.

A brand-new engine with the query and data-processing capabilities of the
``danilop/time-series-and-data-lakes`` reference pipeline (Kinesis → Lambda →
Amazon Timestream + Flink CEP + Airflow → S3/Glue/Athena + Grafana), rebuilt
Spark-first: declarative DataFrame plans over partitioned Parquet, Structured
Streaming for ingest/CEP, and a time-series operator library composed from
Catalyst primitives.

Subpackages
-----------
operators   time-series ops (grid/interpolate/locf/bin/align), melt/pivot,
            CEP pattern matching, dedup, similarity search, text analysis
sources     lake-side tables (CSV external, catalog), idempotent export
functions   scalar helpers (ago/now/bin, grafana macro substitution)
plans       plan inspection / explain helpers
streaming   structured-streaming ingest, stateful CEP, retention/TTL
"""

from time_series_and_data_lakes_spark import _zipcache
from time_series_and_data_lakes_spark.session import get_spark, stop_spark

_zipcache.install()

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"
