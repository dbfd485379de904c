"""Streaming CEP: the MATCH_RECOGNIZE-subset NFA as a custom stateful
operator (SURVEY.md §2.8 T2-T6) via ``applyInPandasWithState``.

Per-key state is the live candidate: the anchored A row plus buffered B rows.
Because B excludes ERROR rows, the NFA needs no backtracking — each incoming
row either extends, completes, kills, or re-anchors the candidate, so state
is O(max_b) per key regardless of stream length. ``AFTER MATCH SKIP PAST
LAST ROW`` falls out naturally: the C row of an emitted match is consumed and
cannot re-anchor.

Ordering: the reference orders by processing time (`notebook.txt:52` —
``ORDER BY ptime``), making its results replay-sensitive. This operator
processes rows in ascending ``time_col`` *within* each micro-batch and
carries state across batches, so feeding event-ordered batches reproduces
the batch operator (:func:`...operators.cep.match_error_pattern`) exactly —
that batch form is this operator's oracle in tests, with ONE documented
exception: a genuine IEEE NaN temperature (not a null). Arrow float64
batches conflate null with NaN, so this operator must treat NaN as the
null measurement (skipped by min/max, excluded from the avg sum), while
the batch plan lets a true NaN poison its fold and greatest() — data
carrying real NaN measurements diverges between the two by Arrow's
design, not by contract. A null key is one more key on both: it runs
its own NFA here and joins its own segments there. The WITHIN bound also
acts as the state timeout: a candidate older than the bound can never
complete and is dropped on the next row (T3's timer semantics without
wall-clock timers, so replays stay deterministic).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from time_series_and_data_lakes_spark.operators.timeseries import _interval_micros

# First field is a placeholder: the operator re-derives the key field's
# name AND type from the input stream (_keyed_output_schema) — a hardcoded
# sensor_id:string crashes the Arrow conversion for integer/custom keys.
CEP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("non_errors", T.LongType()),
        T.StructField("history", T.StringType()),
        T.StructField("min_temperature", T.DoubleType()),
        T.StructField("avg_temperature", T.DoubleType()),
        T.StructField("max_temperature", T.DoubleType()),
        T.StructField("elapsed", T.LongType()),
    ]
)

# Candidate state: A's epoch-micros + temperature, B statuses and temps —
# plus, in event-time mode, the reorder buffer of not-yet-final rows and the
# max event time seen (the per-key watermark frontier) — as ONE JSON string
# [a_time_us, a_temp, b_statuses, b_temps, pend_t_us, pend_status, pend_temp,
# max_seen_us]. Array-typed state fields would give Spark's state projections
# fresh MapObjects lambda ids on every micro-batch, so each batch would
# compile them again; a string field compiles once.
CEP_STATE_SCHEMA = T.StructType([T.StructField("state", T.StringType())])


def _keyed_output_schema(
    stream: DataFrame, key: str, default: T.StructType
) -> T.StructType:
    """Output schema with the key field named AND typed from the input —
    a hardcoded sensor_id:string first field crashes the Arrow conversion
    for integer keys and mislabels any custom key column."""
    return T.StructType(
        [T.StructField(key, stream.schema[key].dataType), *default.fields[1:]]
    )


def _ttl_millis(state_ttl: str | None) -> int | None:
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


def _check_ttl(
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


def _row_order(r: tuple) -> tuple:
    """Total order for (t_us, status, temp) rows: plain tuple order when
    null-free; a None status/NaN temp sorts before real values instead of
    raising TypeError on equal-timestamp ties."""
    t, s, v = r
    v_real = v is not None and not math.isnan(v)
    return (t, s is not None, s or "", v_real, v if v_real else 0.0)

def _nfa_step(
    state: tuple[int | None, float | None, list[str], list[float]],
    t_us: int,
    status: str,
    temp: float,
    error_value: str,
    min_b: int,
    max_b: int,
    within_us: int,
    round_avg: int,
) -> tuple[tuple, dict | None]:
    """Advance the per-key NFA by one row; return (new_state, emitted_match)."""
    a_time, a_temp, b_statuses, b_temps = state
    if status is None:
        # NULL status matches no DEFINE variable (three-valued logic), so
        # under MATCH_RECOGNIZE contiguity it kills any active candidate
        # and can anchor nothing — same contract as the batch operator's
        # zero-interior-nulls pair validity (operators/cep.py).
        return (None, None, [], []), None
    if status == error_value:
        if (
            a_time is not None
            and min_b <= len(b_statuses) <= max_b
            and t_us - a_time <= within_us
        ):
            # Null-measurement contract, mirroring the batch operator: the
            # Arrow float64 batch conflates null with NaN, so NaN here IS
            # the null measurement — min/max skip it, the avg fold keeps
            # the (rows + 2) denominator but sums only real B temps, and
            # goes null when A's or C's own temp is missing.
            b_real = [t for t in b_temps if not (t is None or math.isnan(t))]
            nn = [
                t for t in (a_temp, *b_real, temp) if not (t is None or math.isnan(t))
            ]
            factor = float(10**round_avg)
            if a_temp is None or math.isnan(a_temp) or temp is None or math.isnan(temp):
                avg = None
            else:
                acc = 0.0
                for t in (a_temp, *b_real, temp):
                    acc += t
                scaled = acc / (len(b_statuses) + 2)
                # ±Inf temps make the avg non-finite (inf, or inf - inf =
                # NaN): propagate, as batch does — math.floor would raise
                avg = (
                    scaled
                    if not math.isfinite(scaled)
                    else math.floor(scaled * factor + 0.5) / factor
                )
            match = {
                "a_time_us": a_time,
                "non_errors": len(b_statuses),
                "history": "-".join(b_statuses),
                "min_temperature": min(nn) if nn else None,
                # floor-based rounding, identical to the batch operator
                "avg_temperature": avg,
                "max_temperature": max(nn) if nn else None,
                # floor seconds, per Flink's integer division (notebook.txt:61)
                "elapsed": (t_us // 1000 - a_time // 1000) // 1000,
            }
            return (None, None, [], []), match  # skip past last row
        return (t_us, temp, [], []), None  # re-anchor A
    if a_time is not None:
        if len(b_statuses) >= max_b or t_us - a_time > within_us:
            return (None, None, [], []), None  # candidate can never complete
        return (a_time, a_temp, [*b_statuses, status], [*b_temps, temp]), None
    return state, None


def _advance_key(
    state_tuple: tuple | None,
    batches: Iterator[pd.DataFrame],
    time_col: str,
    status_col: str,
    value_col: str,
    error_value: str,
    min_b: int,
    max_b: int,
    within_us: int,
    round_avg: int,
    lateness_us: int | None,
    flush: bool = False,
) -> tuple[tuple, list[dict]]:
    """Feed one micro-batch's rows for one key through the NFA.

    Restores the candidate + reorder buffer from ``state_tuple``, applies
    the ordering policy (arrival-order sort vs event-time frontier release),
    steps the NFA, and returns the new state tuple plus emitted matches.

    ``flush=True`` (state-TTL eviction of a silent key) advances the
    event-time frontier to infinity: every buffered row feeds the NFA in
    event-time order so matches stranded in the reorder buffer are emitted
    rather than discarded with the state.
    """
    if state_tuple is not None:
        st = state_tuple
        current = (st[0], st[1], list(st[2]), list(st[3]))
        pending = list(zip(st[4], st[5], st[6]))
        max_seen = st[7]
    else:
        current = (None, None, [], [])
        pending, max_seen = [], None

    rows: list[tuple[int, str, float]] = []
    for pdf in batches:
        # a NULL event time is no event: pandas 2.x silently converts NaT
        # to INT64_MIN via .astype('int64'), which would feed the NFA an
        # impossibly old row (negative elapsed matches; in event-time mode
        # always below the frontier). The batch twin's window arithmetic
        # null-propagates such rows out — drop them here for parity.
        if pdf[time_col].isna().any():
            pdf = pdf[pdf[time_col].notna()]
        times_us = pdf[time_col].astype("datetime64[us]").astype("int64")
        rows += [
            # a null temp is NaN from a float64 Arrow batch, but an object
            # column (all-null batch) delivers None — normalize to NaN
            (int(t), s, float(v) if v is not None else float("nan"))
            for t, s, v in zip(times_us, pdf[status_col], pdf[value_col], strict=True)
        ]

    if flush:
        ready = sorted(pending + rows, key=_row_order)
        pending = []
    elif lateness_us is None:
        ready = sorted(rows, key=_row_order)
    else:
        pending.extend(rows)
        pending.sort(key=_row_order)
        if pending:
            # explicit None check: a stored frontier of exactly epoch 0 is
            # falsy and `or` would discard it, letting the frontier regress
            # on a batch of pre-1970 rows
            max_seen = (
                pending[-1][0]
                if max_seen is None
                else max(max_seen, pending[-1][0])
            )
        frontier = (max_seen - lateness_us) if max_seen is not None else None
        ready = [r for r in pending if r[0] <= frontier] if frontier is not None else []
        pending = (
            [r for r in pending if r[0] > frontier] if frontier is not None else pending
        )

    out: list[dict] = []
    for t_us, status, temp in ready:
        current, match = _nfa_step(
            current, t_us, status, temp, error_value, min_b, max_b, within_us, round_avg
        )
        if match is not None:
            out.append(match)

    new_state = (
        current[0],
        current[1],
        current[2],
        current[3],
        [r[0] for r in pending],
        [r[1] for r in pending],
        [r[2] for r in pending],
        max_seen,
    )
    return new_state, out


def _matches_frame(out: list[dict], key: str, key_value: Any) -> pd.DataFrame:
    result = pd.DataFrame(out)
    result.insert(0, key, key_value)
    result["event_time"] = pd.to_datetime(result.pop("a_time_us"), unit="us")
    return result[
        [
            key,
            "event_time",
            "non_errors",
            "history",
            "min_temperature",
            "avg_temperature",
            "max_temperature",
            "elapsed",
        ]
    ]


def match_error_pattern_stream(
    stream: DataFrame,
    key: str = "sensor_id",
    time_col: str = "time",
    status_col: str = "status",
    value_col: str = "temperature",
    error_value: str = "ERROR",
    min_b: int = 1,
    max_b: int = 5,
    within: str = "INTERVAL 1 MINUTE",
    round_avg: int = 2,
    allowed_lateness: str | None = None,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous ``(A B{min_b,max_b} C) WITHIN within`` over a keyed stream
    (T2-T5), emitting the CEP record shape in append mode (T6).

    By default rows are processed in arrival order (sorted per micro-batch)
    — the reference's processing-time semantics (``ORDER BY ptime``,
    `notebook.txt:52`), which are replay-sensitive. Passing
    ``allowed_lateness`` switches to event-time mode: each key keeps a
    reorder buffer, and rows only feed the NFA once the key's max seen
    event time has passed them by the lateness bound, in event-time order —
    deterministic under any arrival interleaving with bounded disorder.
    Rows later than the bound are processed best-effort on arrival (the
    open-retention-window behavior, T11). Buffer size is bounded by the
    lateness window, not stream length.

    ``state_ttl`` (an interval string, must be >= ``within`` +
    ``allowed_lateness``) evicts the state of keys that go SILENT for that
    long — without it, a churning key space (sensors coming and going)
    grows total state without bound, the one unbounded resource in this
    operator. Eviction is semantics-free for the candidate WHEN
    ``time_col`` is engine-assigned processing time (the reference's
    PROCTIME semantics): after ``state_ttl`` of wall-clock silence any
    future arrival-ordered row is past the WITHIN bound, so the candidate
    could never complete anyway. If rows carry timestamps stamped
    UPSTREAM of a backlog (consumer lag, outage recovery, backfill), a
    delayed completing row can still be inside WITHIN by its own clock —
    size ``state_ttl`` well above the worst expected lag, or use
    event-time mode, for those streams.
    In event-time mode the reorder buffer is FLUSHED through the NFA on
    eviction (frontier advances to infinity), so matches a silent key had
    stranded are emitted, not lost; if the key later resumes it restarts
    with a fresh frontier (resumed rows older than the flushed buffer
    would have been late/best-effort regardless).

    With ``state_ttl`` set, a ``Trigger.AvailableNow`` query does not stop
    on its own: once the backlog is consumed it keeps running empty
    (``numInputRows`` 0) micro-batches and ``awaitTermination`` never
    returns (observed on Spark 4.1.2). Callers must ``stop()`` it
    themselves once the source's end offset covers the backlog.

    Each key's candidate and reorder buffer are one state row holding a
    single JSON string, so steady-state micro-batches compile no code.
    Checkpoints written by the earlier array-typed state row are
    incompatible: Spark's state-schema check rejects them on restart, so
    such queries start on a new checkpoint.

    State lives in the session's state store. Keeping per-key state off
    the executor heap (state larger than executor memory) is a choice made
    when the session is built, e.g. ``get_spark(extra_conf={
    "spark.sql.streaming.stateStore.providerClass":
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"})``.
    """
    within_us = _interval_micros(within)
    lateness_us = _interval_micros(allowed_lateness) if allowed_lateness else None
    ttl_ms = _ttl_millis(state_ttl)
    _check_ttl(ttl_ms, within_us, lateness_us, state_ttl)

    nfa_args = (
        time_col,
        status_col,
        value_col,
        error_value,
        min_b,
        max_b,
        within_us,
        round_avg,
        lateness_us,
    )

    def process(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key_tuple
        st = json.loads(state.get[0]) if state.exists else None
        if ttl_ms is not None and state.hasTimedOut:
            # silent-key eviction: flush the reorder buffer (event-time
            # mode) so stranded matches emit, then drop the state row
            if st is not None and lateness_us is not None and st[4]:
                _, out = _advance_key(st, iter(()), *nfa_args, flush=True)
                if out:
                    yield _matches_frame(out, key, key_value)
            state.remove()
            return
        new_state, out = _advance_key(st, pdfs, *nfa_args)
        state.update((json.dumps(new_state, separators=(",", ":")),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield _matches_frame(out, key, key_value)

    return stream.groupBy(key).applyInPandasWithState(
        process,
        outputStructType=_keyed_output_schema(stream, key, CEP_OUTPUT_SCHEMA),
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )

