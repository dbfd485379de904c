"""Local mirror of the driver's DuckDB-oracle comparison: row count, schema
shape, and order-insensitive value equality with columns sorted by name.
Also the brute-force CEP matcher the CEP property tests compare against."""

from __future__ import annotations

import math

import duckdb
import pandas as pd


def run_oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    import os

    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        # synthetic-fixture tests write only the tables their query reads
        # (the driver's sf dirs always carry all ten)
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).df()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif not pd.api.types.is_object_dtype(out[c]):
            out[c] = out[c].astype("object")
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def assert_matches_oracle(spark_df, sf_dir: str, sql: str, name: str = "query") -> None:
    got = canonicalize(spark_df.toPandas())
    want = canonicalize(run_oracle(sf_dir, sql))
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs oracle {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a):
            eq = (a == b) | (a.isna() & b.isna())
        else:
            eq = a.astype(str).fillna("<NA>") == b.astype(str).fillna("<NA>")
        if not eq.all():
            bad = (~eq).idxmax()
            n_bad = int((~eq).sum())
            raise AssertionError(
                f"{name}: column {c!r} differs in {n_bad}/{len(got)} rows; "
                f"first diff row {bad}: spark={a[bad]!r} oracle={b[bad]!r}"
            )


def brute_force_matches(
    rows: list[tuple],
    error_value: str = "ERROR",
    min_b: int = 1,
    max_b: int = 5,
    within_seconds: float = 60.0,
    round_avg: int = 2,
) -> list[dict]:
    """Reference matcher for the CEP property tests (FIXTURES.md §3): a
    literal left-to-right NFA scan over (time, status, value) tuples of ONE
    key, non-overlapping matches, skip past last row. O(n) driver-side
    Python, the twin of ``operators.cep.match_error_pattern``.
    """
    # same (time, status, value) order as before, made total under Nones
    # (None sorts before any real status/value; irrelevant when rows are
    # null-free, where this reduces to plain tuple order)
    rows = sorted(
        rows,
        key=lambda r: (
            r[0],
            r[1] is not None,
            r[1] or "",
            r[2] is not None,
            r[2] if r[2] is not None else 0.0,
        ),
    )
    out: list[dict] = []
    i = 0
    n = len(rows)
    while i < n:
        if rows[i][1] != error_value:
            i += 1
            continue
        # A anchored at i; B rows must be non-error AND non-null (a NULL
        # status matches no DEFINE variable, so it breaks contiguity); C
        # the next error.
        j = i + 1
        broken = False
        while j < n and rows[j][1] != error_value:
            if rows[j][1] is None:
                broken = True
            j += 1
        b_count = j - i - 1
        if (
            j < n
            and not broken
            and min_b <= b_count <= max_b
            and (rows[j][0] - rows[i][0]).total_seconds() <= within_seconds
        ):
            match = rows[i : j + 1]
            # null-measurement contract, mirroring the distributed operator:
            # min/max skip null temps; the avg fold keeps the (rows + 2)
            # denominator but sums only non-null B temps, and goes null if
            # A's or C's own temp is null (their array slots are folded).
            va, vc = match[0][2], match[-1][2]
            b_temps = [r[2] for r in match[1:-1] if r[2] is not None]
            nn = [t for t in (va, *b_temps, vc) if t is not None]
            delta = rows[j][0] - rows[i][0]
            factor = float(10**round_avg)
            if va is None or vc is None:
                avg = None
            else:
                acc = 0.0
                for t in (va, *b_temps, vc):
                    acc += t
                scaled = acc / len(match)
                # non-finite propagates unrounded (math.floor would raise)
                avg = (
                    scaled
                    if not math.isfinite(scaled)
                    else math.floor(scaled * factor + 0.5) / factor
                )
            out.append(
                {
                    "event_time": rows[i][0],
                    "non_errors": b_count,
                    "history": "-".join(r[1] for r in match[1:-1]),
                    "min_temperature": min(nn) if nn else None,
                    "avg_temperature": avg,
                    "max_temperature": max(nn) if nn else None,
                    # floor seconds (timedelta normalizes micros separately)
                    "elapsed": delta.days * 86400 + delta.seconds,
                }
            )
            i = j + 1  # skip past last row
        else:
            i += 1
    return out
