from time_series_and_data_lakes_spark.streaming.ingest import (
    melt_stream,
    read_json_stream,
    start_narrow_store_sink,
)
from time_series_and_data_lakes_spark.streaming.cep_stream import (
    match_error_pattern_stream,
)

__all__ = [
    "match_error_pattern_stream",
    "melt_stream",
    "read_json_stream",
    "start_narrow_store_sink",
]
