"""Complex-event-processing operator: the reference's Flink MATCH_RECOGNIZE
query re-expressed Spark-first (SURVEY.md §2.8 T2-T5).

Reference semantics (`kinesis-studio-notebook/notebook.txt:47-68`):

    PARTITION BY sensor_id ORDER BY ptime
    PATTERN (A B{1,5} C) WITHIN INTERVAL '1' MINUTES
    DEFINE A AS status =  'ERROR',
           B AS status <> 'ERROR',
           C AS status =  'ERROR'
    AFTER MATCH SKIP PAST LAST ROW
    MEASURES A.event_time, COUNT(*)-2 AS non_errors,
             CONCAT_WS('-', FIRST(B.status,0..4)) AS history,
             MIN/ROUND(AVG(),2)/MAX(temperature),
             (C.event_time - A.event_time)/1000 AS elapsed

Why this is declarative, not an NFA
-----------------------------------
Because B excludes ERROR rows, every candidate match is a pair of
*consecutive* ERROR rows with 1..max_b non-error rows between them, within
the time bound. ``AFTER MATCH SKIP PAST LAST ROW`` then reduces to a greedy
alternating selection along runs of consecutively-valid pairs: a pair is
selected iff it is valid and the previous pair was not selected. Within each
maximal run of valid pairs that is simply "every other one, starting with the
first" — computable with a cumulative-invalid-count run id plus row_number
parity. The whole operator is therefore window functions + one aggregation:
one hash exchange on the key, no Python, no driver loop — it scales to any
number of keys and is the batch oracle for the streaming NFA
(:mod:`time_series_and_data_lakes_spark.streaming.cep_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.timeseries import _interval_micros


def match_error_pattern(
    df: DataFrame,
    key: str = "sensor_id",
    time_col: str = "time",
    status_col: str = "status",
    value_col: str = "temperature",
    error_value: str = "ERROR",
    min_b: int = 1,
    max_b: int = 5,
    within: str = "INTERVAL 1 MINUTE",
    round_avg: int = 2,
    tiebreak: str | None = None,
) -> DataFrame:
    """Detect ``(A B{min_b,max_b} C) WITHIN within`` per key, skip-past-last-row.

    Returns the CEP record shape (`notebook.txt:20-29`): one row per match
    with ``(key, event_time, non_errors, history, min_temperature,
    avg_temperature, max_temperature, elapsed)``. ``event_time`` is A's
    timestamp; ``elapsed`` is whole seconds C-A (matching the reference's
    ``ROUND((C.event_time - A.event_time)/1000)`` on epoch millis).

    Batch ordering is by ``time_col`` (event time). The reference orders by
    processing time (`notebook.txt:52`) — equivalent whenever the stream is
    replayed in event order; the streaming variant documents the divergence.
    ``tiebreak`` names a column that breaks equal-timestamp ties (ascending),
    making the per-key order — and therefore the match set — deterministic
    even if a fixture carries duplicate timestamps; without it, ties fall to
    Spark's arbitrary-but-stable sort.
    """

    within_us = _interval_micros(within)

    # NULL tiebreak ids sort LAST (engine null-id convention; DuckDB's ASC)
    order_cols = [F.col("__t")] + ([F.asc_nulls_last("__tb")] if tiebreak else [])
    w_key = Window.partitionBy(key).orderBy(*order_cols)
    sel = [
        key,
        F.col(time_col).alias("__t"),
        F.col(status_col).alias("__status"),
        F.col(value_col).alias("__v"),
    ]
    if tiebreak:
        sel.append(F.col(tiebreak).alias("__tb"))
    rows = df.select(*sel).withColumn(
        "__is_err", (F.col("__status") == error_value).cast("int")
    )
    # Running count of error rows, inclusive: for an error row this is its
    # 1-based error index k; non-error rows carry the index of the error
    # segment they follow. A NULL status matches NO pattern variable
    # (three-valued logic: both `status = 'ERROR'` and `status <> 'ERROR'`
    # are NULL), so under MATCH_RECOGNIZE contiguity such a row breaks any
    # match spanning it — tracked by a second running count so pair
    # validity can require zero interior null-status rows.
    w_run = w_key.rowsBetween(Window.unboundedPreceding, 0)
    rows = (
        rows.withColumn("__err_seq", F.sum("__is_err").over(w_run))
        .withColumn(
            "__null_seq",
            F.sum(F.col("__status").isNull().cast("int")).over(w_run),
        )
        .withColumn("__pos", F.row_number().over(w_key))
    )

    # B-segment aggregates: non-error rows between error k and error k+1
    # share __err_seq = k. History preserves arrival order via pos-sorted
    # collect; min/max/sum feed the full-match MEASURES.
    #
    # Bound per-segment state BEFORE aggregating: a segment with more than
    # max_b interior rows can never join a selected pair (n_b comes from
    # error positions, not this aggregation), yet its collect_list would
    # buffer the whole segment — a month of OK readings between two rare
    # errors. Rows past max_b positions after the opening error are dropped;
    # every VALID segment (no interior nulls, n_b <= max_b) keeps all rows,
    # so emitted measures are unchanged. The running last-error position
    # rides the same (key, order) sort — no new exchange — and the streaming
    # NFA applies the identical cap (cep_stream._nfa_step).
    rows = rows.withColumn(
        "__rel",
        F.col("__pos")
        - F.max(F.when(F.col("__is_err") == 1, F.col("__pos"))).over(w_run),
    )
    segs = (
        rows.filter(
            (F.col("__is_err") == 0)
            & (F.col("__err_seq") >= 1)
            & (F.col("__rel") <= max_b)
        )
        .groupBy(key, "__err_seq")
        .agg(
            F.count("*").alias("__b_count"),
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__status"))),
                    lambda x: x["__status"],
                ),
            ).alias("history"),
            F.min("__v").alias("__b_min"),
            F.max("__v").alias("__b_max"),
            # null B measurements ride inside the structs (collect_list only
            # skips null STRUCTS), so drop them here: the avg fold sums real
            # temps only, while its denominator stays b_count + 2 (rows) —
            # mirrored by the oracle's FILTER'd list(). A's/C's own null
            # temp still nulls the whole avg on both engines.
            F.filter(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__v"))),
                    lambda x: x["__v"],
                ),
                lambda v: v.isNotNull(),
            ).alias("__b_temps"),
        )
    )

    errs = rows.filter(F.col("__is_err") == 1).select(
        key,
        F.col("__err_seq").alias("__k"),
        F.col("__t").alias("__t_a"),
        F.col("__pos").alias("__pos_a"),
        F.col("__v").alias("__v_a"),
        F.col("__null_seq").alias("__ns_a"),
    )
    w_err = Window.partitionBy(key).orderBy("__k")
    pairs = (
        errs.withColumn("__t_c", F.lead("__t_a").over(w_err))
        .withColumn("__pos_c", F.lead("__pos_a").over(w_err))
        .withColumn("__v_c", F.lead("__v_a").over(w_err))
        .withColumn("__ns_c", F.lead("__ns_a").over(w_err))
        .filter(F.col("__t_c").isNotNull())
    )
    n_b = F.col("__pos_c") - F.col("__pos_a") - 1
    pairs = pairs.withColumn(
        "__valid",
        (
            (n_b >= min_b)
            & (n_b <= max_b)
            & ((F.unix_micros("__t_c") - F.unix_micros("__t_a")) <= within_us)
            # A and C have non-null status, so the inclusive running counts
            # differ by exactly the interior null-status rows — which match
            # no variable and therefore break contiguity.
            & (F.col("__ns_c") - F.col("__ns_a") == 0)
        ).cast("int"),
    )
    # SKIP PAST LAST ROW: run id = invalid pairs seen so far; within a run,
    # odd-ranked valid pairs are the greedy picks.
    pairs = pairs.withColumn(
        "__run",
        F.sum(F.lit(1) - F.col("__valid")).over(
            Window.partitionBy(key).orderBy("__k").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    selected = (
        pairs.filter(F.col("__valid") == 1)
        .withColumn("__rn", F.row_number().over(Window.partitionBy(key, "__run").orderBy("__k")))
        .filter(F.pmod(F.col("__rn"), F.lit(2)) == 1)
    )

    # min_b=0 admits matches with ZERO interior rows (adjacent errors) —
    # those have no segs row at all, so the join must be LEFT with empty-B
    # defaults or valid matches silently vanish. min_b >= 1 keeps the inner
    # join and the bare columns, bit-identical to the oracle-pinned plan.
    if min_b >= 1:
        how, b_count, history, b_temps = (
            "inner",
            F.col("__b_count"),
            F.col("history"),
            F.col("__b_temps"),
        )
    else:
        how = "left"
        b_count = F.coalesce(F.col("__b_count"), F.lit(0).cast("bigint"))
        history = F.coalesce(F.col("history"), F.lit(""))
        b_temps = F.coalesce(
            F.col("__b_temps"), F.array().cast("array<double>")
        )
    raw_avg = F.aggregate(
        F.concat(F.array(F.col("__v_a")), b_temps, F.array(F.col("__v_c"))),
        F.lit(0.0), lambda acc, x: acc + x,
    ) / (b_count + F.lit(2))
    # null-safe on the key: the windows above treat a null key as one
    # more partition, so its matches must find their own segments
    out = selected.join(
        segs,
        on=[selected[key].eqNullSafe(segs[key]), selected["__k"] == segs["__err_seq"]],
        how=how,
    ).select(
        selected[key].alias(key),
        selected["__t_a"].alias("event_time"),
        b_count.alias("non_errors"),
        history.alias("history"),
        F.least("__b_min", "__v_a", "__v_c").alias("min_temperature"),
        # Fold the match temps in row order (A, B..., C), round via explicit
        # floor(x*10^n + 0.5)/10^n — single IEEE expression trees, identical
        # across Spark / DuckDB / the Python NFA twins (engine round()s
        # disagree on boundary doubles). A non-finite avg bypasses rounding:
        # Spark's floor(double) is BIGINT, laundering NaN to 0 and ±Inf to
        # ±Long.MAX/10^n, where DuckDB's double floor propagates (r10 find).
        F.when(F.isnan(raw_avg) | (F.abs(raw_avg) == F.lit(float("inf"))), raw_avg)
        .otherwise(
            F.floor(raw_avg * F.lit(float(10**round_avg)) + F.lit(0.5))
            / F.lit(float(10**round_avg))
        ).alias("avg_temperature"),
        F.greatest("__b_max", "__v_a", "__v_c").alias("max_temperature"),
        # Flink's `/` on BIGINT is integer division, so the reference's
        # ROUND((C.event_time - A.event_time) / 1000) is floor seconds.
        F.floor(
            (F.unix_millis(selected["__t_c"]) - F.unix_millis(selected["__t_a"]))
            / F.lit(1000)
        )
        .cast("bigint")
        .alias("elapsed"),
    )
    return out

