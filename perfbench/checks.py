"""Output checks, run outside the timed region.

* Catalog queries (``dashboard``, ``corpus``, the join in ``lake_export``)
  must equal their ``Q.ORACLES`` SQL run on DuckDB over the same parquet
  tables: same columns, same row count, same values (order-insensitive).
  After each timed op its query is run again and collected for the check.
* Each exported window must equal the flagship interpolation, as the DuckDB
  oracle computes it, filtered to that window.
* The stream store must equal a batch melt of the backlog, and the CEP
  matches must equal ``operators.cep.match_error_pattern`` on the backlog.

Each check returns ``None`` when the output is right and a one-line reason
when it is not.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import duckdb
import pandas as pd

from time_series_and_data_lakes_spark import queries as Q
from time_series_and_data_lakes_spark.operators.cep import match_error_pattern


def oracle_db(lake: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(lake, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, dtypes widened, rows sorted by every column."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.tz_localize(None) if out[c].dt.tz else out[c]
            out[c] = out[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif not pd.api.types.is_object_dtype(out[c]):
            out[c] = out[c].astype("object")
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    got, want = canonical(got), canonical(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a):
            same = (a == b) | (a.isna() & b.isna())
        else:
            same = a.astype(str) == b.astype(str)
        if not same.all():
            return f"column {c!r} differs in {int((~same).sum())}/{len(got)} rows"
    return None


def check_export(con, path: str, start: dt.datetime, end: dt.datetime) -> tuple[str | None, int]:
    """Does the exported window equal the oracle's interpolation filtered to
    it? Read back with DuckDB, independent of Spark. Also returns the rows
    the export holds."""
    con.execute(
        f"CREATE TEMP TABLE IF NOT EXISTS q1_oracle AS {Q.ORACLES['q1_flagship_interpolate']}"
    )
    got = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
    want = con.execute("SELECT * FROM q1_oracle WHERE time >= ? AND time < ?", [start, end]).df()
    return frame_diff(got, want) or (None if len(want) else "empty window"), len(got)


def check_store(spark, store: str, records: list[dict]) -> str | None:
    got = spark.read.parquet(store).select(
        "time", "sensor_id", "status", "measure_name", "measure_value_double"
    ).toPandas()
    want = pd.DataFrame(
        {
            "time": pd.to_datetime([r["event_time"] for r in records], unit="ms"),
            "sensor_id": [r["sensor_id"] for r in records],
            "status": [r["status"] for r in records],
            "measure_name": "temperature",
            "measure_value_double": [float(r["temperature"]) for r in records],
        }
    )
    return frame_diff(got, want)


def check_cep(spark, table: str, records: list[dict]) -> str | None:
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "sensor_id": [r["sensor_id"] for r in records],
                "time": pd.to_datetime([r["event_time"] for r in records], unit="ms"),
                "status": [r["status"] for r in records],
                "temperature": [float(r["temperature"]) for r in records],
            }
        )
    )
    want = match_error_pattern(batch, within="INTERVAL 1 MINUTE").toPandas()
    got = spark.table(table).toPandas()
    if not len(want):
        return "backlog holds no CEP match"
    return frame_diff(got, want)
