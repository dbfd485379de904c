from time_series_and_data_lakes_spark.streaming.ingest import (
    melt_stream,
    read_json_stream,
    start_narrow_store_sink,
)
from time_series_and_data_lakes_spark.streaming.cep_stream import (
    match_error_pattern_stream,
)
from time_series_and_data_lakes_spark.streaming.dedup_stream import (
    dedup_stream_by_content,
    dedup_stream_by_id,
)
from time_series_and_data_lakes_spark.streaming.joins import (
    interval_join_streams,
)

__all__ = [
    "dedup_stream_by_content",
    "interval_join_streams",
    "dedup_stream_by_id",
    "match_error_pattern_stream",
    "melt_stream",
    "read_json_stream",
    "start_narrow_store_sink",
]
