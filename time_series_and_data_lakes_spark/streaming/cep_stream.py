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
design, not by contract. The WITHIN bound also
acts as the state timeout: a candidate older than the bound can never
complete and is dropped on the next row (T3's timer semantics without
wall-clock timers, so replays stay deterministic).
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from time_series_and_data_lakes_spark.operators.timeseries import _interval_micros
from time_series_and_data_lakes_spark.streaming.analytics_stream import _keyed_output_schema  # noqa: E501
from time_series_and_data_lakes_spark.streaming.state_ttl import (
    check_ttl_covers_window as _check_ttl,
    timeout_conf as _timeout_conf,
    ttl_millis as _ttl_millis,
)

_LOG = logging.getLogger(__name__)

# First field is a placeholder: both bindings re-derive the key field's
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
# max event time seen (the per-key watermark frontier).
CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_time_us", T.LongType()),
        T.StructField("a_temp", T.DoubleType()),
        T.StructField("b_statuses", T.ArrayType(T.StringType())),
        T.StructField("b_temps", T.ArrayType(T.DoubleType())),
        T.StructField("pend_t_us", T.ArrayType(T.LongType())),
        T.StructField("pend_status", T.ArrayType(T.StringType())),
        T.StructField("pend_temp", T.ArrayType(T.DoubleType())),
        T.StructField("max_seen_us", T.LongType()),
    ]
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

    Shared by both stateful-API bindings (``applyInPandasWithState`` and
    ``transformWithStateInPandas``): restores the candidate + reorder buffer
    from ``state_tuple``, applies the ordering policy (arrival-order sort vs
    event-time frontier release), steps the NFA, and returns the new state
    tuple plus emitted matches.

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
    """
    within_us = _interval_micros(within)
    lateness_us = _interval_micros(allowed_lateness) if allowed_lateness else None
    ttl_ms = _ttl_millis(state_ttl)
    _check_ttl(ttl_ms, within_us, lateness_us, state_ttl)

    def process(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key_tuple
        if ttl_ms is not None and state.hasTimedOut:
            # silent-key eviction: flush the reorder buffer (event-time
            # mode) so stranded matches emit, then drop the state row
            st = state.get if state.exists else None
            if st is not None and lateness_us is not None and st[4]:
                _, out = _advance_key(
                    st,
                    iter(()),
                    time_col,
                    status_col,
                    value_col,
                    error_value,
                    min_b,
                    max_b,
                    within_us,
                    round_avg,
                    lateness_us,
                    flush=True,
                )
                if out:
                    yield _matches_frame(out, key, key_value)
            state.remove()
            return
        new_state, out = _advance_key(
            state.get if state.exists else None,
            pdfs,
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
        state.update(new_state)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield _matches_frame(out, key, key_value)

    return stream.groupBy(key).applyInPandasWithState(
        process,
        outputStructType=_keyed_output_schema(stream, key, CEP_OUTPUT_SCHEMA),
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=_timeout_conf(ttl_ms),
    )


class _ErrorPatternProcessor(StatefulProcessor):
    """``transformWithStateInPandas`` binding of the same NFA (T2-T5) —
    Spark 4's typed-state API (SURVEY §2.8's preferred mapping). The
    candidate + reorder buffer live in one ValueState row; emitted matches
    are append-mode rows. Without ``state_ttl`` timeMode stays "None" and
    the WITHIN bound expires candidates from the data clock, so replays
    are deterministic. ``state_ttl`` flips timeMode to ProcessingTime and
    engages one of two wall-clock eviction paths for SILENT keys (match
    emission itself stays data-clock-driven): native ValueState TTL in
    arrival-order mode, or — in event-time mode, where eviction must
    flush the reorder buffer — a per-key timer whose expiry callback
    (:meth:`handleExpiredTimer`) drains the buffer through the NFA before
    dropping state."""
    def __init__(
        self,
        key: str,
        time_col: str,
        status_col: str,
        value_col: str,
        error_value: str,
        min_b: int,
        max_b: int,
        within_us: int,
        round_avg: int,
        lateness_us: int | None,
        ttl_ms: int | None = None,
        use_timers: bool = False,
    ) -> None:
        self._args = (
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
        self._key = key
        self._ttl_ms = ttl_ms
        self._use_timers = use_timers

    def init(self, handle: StatefulProcessorHandle) -> None:
        # Two TTL modes: native ValueState ttlDurationMs (no eviction
        # callback — fine when there is no reorder buffer to strand), or
        # per-key processing-time timers (event-time mode: the expiry
        # callback flushes the buffer through the NFA before dropping
        # state). Both require timeMode ProcessingTime; None keeps the
        # data-clock-only mode.
        self._handle = handle
        self._state = handle.getValueState(
            "cep_candidate",
            CEP_STATE_SCHEMA,
            ttlDurationMs=None if self._use_timers else self._ttl_ms,
        )

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key
        new_state, out = _advance_key(self._state.get(), rows, *self._args)
        self._state.update(new_state)
        if self._use_timers:
            # silent-key eviction clock: one live timer per key, re-armed
            # to now + ttl on every batch that touches the key
            for expiry in list(self._handle.listTimers()):
                self._handle.deleteTimer(expiry)
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + self._ttl_ms
            )
        if out:
            yield _matches_frame(out, self._key, key_value)

    def handleExpiredTimer(
        self, key: Any, timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        # state_ttl expiry for a silent key: flush the reorder buffer
        # through the NFA in event-time order (frontier -> infinity) so
        # stranded matches emit, then drop the key's state — the timer
        # twin of match_error_pattern_stream's hasTimedOut branch.
        (key_value,) = key
        st = self._state.get()
        if st is not None:
            _, out = _advance_key(st, iter(()), *self._args, flush=True)
            if out:
                yield _matches_frame(out, self._key, key_value)
        self._state.clear()

    def close(self) -> None:
        pass


def match_error_pattern_tws(
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
    """:func:`match_error_pattern_stream` on the ``transformWithStateInPandas``
    API — identical semantics and output schema, state in the typed
    ValueState store (RocksDB-backed on a cluster, so per-key state scales
    past executor memory).

    ``state_ttl`` (and the ``timeMode`` flip to ProcessingTime it
    requires) evicts silent keys two ways. Arrival-order mode maps it to
    the API's NATIVE ValueState TTL — no callback needed, the store
    drops the candidate itself. Event-time mode (``allowed_lateness``
    set) cannot use native TTL: eviction would discard a stranded
    reorder buffer and the matches inside it, so it instead re-arms a
    per-key processing-time TIMER on every batch; the expiry callback
    (``handleExpiredTimer``) flushes the buffer through the NFA — the
    exact twin of :func:`match_error_pattern_stream`'s ``hasTimedOut``
    branch — then drops the state. Like there, ``state_ttl`` must be >=
    ``within`` + ``allowed_lateness`` so eviction only drops candidates
    that could never complete.

    With ``state_ttl`` set, a ``Trigger.AvailableNow`` query does not stop
    on its own: once the backlog is consumed it keeps running empty
    (``numInputRows`` 0) micro-batches and ``awaitTermination`` never
    returns (observed on Spark 4.1.2). Callers must ``stop()`` it
    themselves once the source's end offset covers the backlog.

    Requires ``protobuf`` at runtime (the API's state-server protocol);
    environments without it should use :func:`match_error_pattern_stream`,
    which shares the NFA code path exactly (``_advance_key``).

    transformWithState also requires a state-store provider with
    multiple-column-family support; the default HDFS-backed store rejects
    the operator outright, so IF the session still has the default
    provider, it is switched to the (bundled) RocksDB provider — the one a
    production deployment wants anyway (per-key state off-heap/on-disk,
    scales past executor memory). Any provider OTHER than the HDFS default
    is respected and never overridden (an explicitly-set HDFS provider is
    indistinguishable from the unset default and is upgraded too — it
    cannot run this operator either way). NOTE this conf is session-scoped and
    read at query START: queries checkpointed earlier under a different
    provider must not be restarted in the same session afterwards (Spark
    forbids changing the provider across restarts)."""
    within_us = _interval_micros(within)
    lateness_us = _interval_micros(allowed_lateness) if allowed_lateness else None
    ttl_ms = _ttl_millis(state_ttl)
    _check_ttl(ttl_ms, within_us, lateness_us, state_ttl)

    _PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
    _HDFS_DEFAULT = (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    )
    current = stream.sparkSession.conf.get(_PROVIDER_CONF, None)
    if current in (None, "", _HDFS_DEFAULT):
        _LOG.warning(
            "match_error_pattern_tws: switching session conf %s to the RocksDB "
            "provider (transformWithState needs multi-column-family support). "
            "This affects every streaming query STARTED later in this session; "
            "do not restart a query checkpointed under the HDFS provider "
            "afterwards — Spark forbids changing the provider across restarts. "
            "Set the conf explicitly at session build to silence this warning.",
            _PROVIDER_CONF,
        )
        stream.sparkSession.conf.set(
            _PROVIDER_CONF,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )

    processor = _ErrorPatternProcessor(
        key,
        time_col,
        status_col,
        value_col,
        error_value,
        min_b,
        max_b,
        within_us,
        round_avg,
        lateness_us,
        ttl_ms,
        use_timers=ttl_ms is not None and lateness_us is not None,
    )
    return stream.groupBy(key).transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=_keyed_output_schema(stream, key, CEP_OUTPUT_SCHEMA),
        outputMode="append",
        # the WITHIN bound expires candidates from the data clock (replay-
        # deterministic); ProcessingTime is engaged only for native TTL
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )
