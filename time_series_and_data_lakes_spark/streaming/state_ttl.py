"""Shared state-TTL plumbing for the stateful streaming operators.

The CEP operator (``cep_stream``) and the smoothers (``analytics_stream``)
all accept a ``state_ttl`` interval string that bounds how long a SILENT
key's state survives; the parsing/validation rule and the
``GroupStateTimeout`` selection are identical across them and live here so
neither operator module depends on the other.
"""

from __future__ import annotations

from pyspark.sql.streaming.state import GroupStateTimeout

from time_series_and_data_lakes_spark.operators.timeseries import _interval_micros


def ttl_millis(state_ttl: str | None) -> int | None:
    """Parse a state-TTL interval to positive milliseconds.
    Zero/negative/sub-millisecond intervals are rejected HERE, at
    construct time — unvalidated they reach ``setTimeoutDuration`` and
    fail the query mid-batch with an obscure executor error."""
    if state_ttl is None:
        return None

    ttl_ms = _interval_micros(state_ttl) // 1000
    if ttl_ms <= 0:
        raise ValueError(
            f"state_ttl {state_ttl!r} must be a positive interval of at "
            f"least one millisecond"
        )
    return ttl_ms


def timeout_conf(ttl_ms: int | None) -> str:
    return (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )


def check_ttl_covers_window(
    ttl_ms: int | None,
    within_us: int,
    lateness_us: int | None,
    state_ttl: str | None,
) -> None:
    """Reject a TTL shorter than the pattern's completion window
    (``within`` + ``allowed_lateness``): eviction would drop candidates
    that could still complete."""
    if ttl_ms is not None and ttl_ms * 1000 < within_us + (lateness_us or 0):
        raise ValueError(
            f"state_ttl {state_ttl!r} is shorter than within"
            f"{' + allowed_lateness' if lateness_us else ''} — eviction "
            f"would drop candidates that could still complete"
        )
