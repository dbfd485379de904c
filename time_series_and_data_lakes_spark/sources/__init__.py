from time_series_and_data_lakes_spark.sources.csv_tables import (
    read_headered_csv,
    register_view,
)
from time_series_and_data_lakes_spark.sources.export import export_window
from time_series_and_data_lakes_spark.sources.catalog import crawl_and_register
from time_series_and_data_lakes_spark.sources.stats import parquet_footer_max_micros

__all__ = [
    "crawl_and_register",
    "export_window",
    "parquet_footer_max_micros",
    "read_headered_csv",
    "register_view",
]
