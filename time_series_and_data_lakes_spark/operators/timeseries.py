"""Time-series operators: the signature capability of the engine.

Re-implements Timestream's gap-filling trio (SURVEY.md §2.5) Spark-first:

- ``CREATE_TIME_SERIES(time, value)``  → :func:`create_time_series`
  (`timestream-queries/queries.txt:5,8,25,28,37-38` in the reference)
- ``SEQUENCE(min(time), max(time), step)`` → :func:`sequence_grid`
  (`queries.txt:6,9,26,29`)
- ``INTERPOLATE_LINEAR`` / ``INTERPOLATE_LOCF`` → :func:`resample`
  (`queries.txt:4-9,24-29`)
- ``CROSS JOIN UNNEST(ts) AS t(time, value)`` → :func:`unnest_time_series`
  (`queries.txt:16-17`)
- ``bin(time, interval)`` → :func:`time_bin`
  (`grafana-dashboard/...json:121,392,518`)

Scale notes (100 TB posture)
----------------------------
:func:`resample` is the scale path: it is pure JVM (no Python UDFs), costs one
hash exchange on the series keys plus two window sorts (forward + backward
pass share the exchange), and never materializes a whole series on the driver.
Grid densification happens executor-side via ``explode(sequence(...))`` so a
1000-executor cluster densifies 10^9 series in parallel. The array-valued
``create_time_series`` form is for parity with Timestream's nested
``timeseries`` value and for per-window series that are small by construction
(the reference's are ≤ 15 min at 1 s cadence, `queries.txt:11`).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_and_data_lakes_spark.operators.dedup import let


def create_time_series(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "time",
    value_col: str = "value",
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Aggregate each key group into an ordered (time, value) array — the
    Spark mapping of Timestream's first-class ``timeseries`` value.

    Polymorphic in the value type (the reference builds it over double
    temperature *and* varchar status, `queries.txt:5,8`). Output column is
    named ``ts``; pass ``extra_aggs`` for companion aggregates (e.g. the
    min/max feeding a grid).
    """
    aggs = [
        F.array_sort(
            F.collect_list(F.struct(F.col(time_col).alias("time"), F.col(value_col).alias("value")))
        ).alias("ts")
    ]
    for name, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(name))
    return df.groupBy(*keys).agg(*aggs)


def unnest_time_series(
    df: DataFrame,
    ts_col: str = "ts",
    time_name: str = "time",
    value_name: str = "value",
) -> DataFrame:
    """``CROSS JOIN UNNEST(ts) AS t(time, value)`` — flatten a timeseries
    array back to rows (`queries.txt:16-17`)."""
    exploded = df.withColumn("__e", F.explode(F.col(ts_col))).drop(ts_col)
    return exploded.select(
        *[c for c in exploded.columns if c != "__e"],
        F.col("__e.time").alias(time_name),
        F.col("__e.value").alias(value_name),
    )


# Per-explode array cap for slot-range densification. One sequence() call
# materializes its whole array in a single row buffer, so a sparse series
# (one reading, then one a year later, on a 1-second grid) would otherwise
# build a multi-hundred-MB array and OOM the task. Two chunked levels bound
# the arrays at O(range/CHUNK + CHUNK) while the cross-product of the two
# generates still enumerates every slot exactly once, inside codegen.
_SLOT_CHUNK = 8192


def _explode_slot_range(df: DataFrame, out: str = "__k") -> DataFrame:
    """Explode the inclusive bigint range [``__ks``, ``__ke``] (empty when
    ``__ks > __ke`` or either bound is null) into one row per value ``out``,
    never materializing an array longer than ``_SLOT_CHUNK`` slots or the
    chunk count. Consumes/drops the ``__ks``/``__ke`` columns."""
    c = F.lit(_SLOT_CHUNK)
    chunks = F.when(
        F.col("__ks") <= F.col("__ke"),
        F.sequence(F.floor(F.col("__ks") / c), F.floor(F.col("__ke") / c)),
    ).otherwise(F.array().cast("array<bigint>"))
    chunked = df.select("*", F.explode(chunks).alias("__chunk"))
    lo = F.greatest(F.col("__ks"), F.col("__chunk") * c)
    hi = F.least(F.col("__ke"), (F.col("__chunk") + 1) * c - 1)
    return chunked.select("*", F.explode(F.sequence(lo, hi)).alias(out)).drop(
        "__ks", "__ke", "__chunk"
    )


def sequence_grid(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "time",
    step: str = "INTERVAL 1 SECOND",
) -> DataFrame:
    """Per-key dense timestamp grid ``SEQUENCE(min(time), max(time), step)``
    (`queries.txt:6,9`). Step granularity is the user knob — the reference
    suggests 1 s / 10 s / 60 s (`mwaa/datawrangler/airflow-query.py:30-33`).

    Returns one row per (key, grid timestamp). Densification happens in the
    executors after a single partial-agg (map-side combined) min/max
    shuffle, through the chunked slot explode — a key spanning years at a
    1-second step streams its grid out instead of materializing it as one
    array.
    """
    step_us = _interval_micros(step)
    bounds = df.groupBy(*keys).agg(
        F.unix_micros(F.min(time_col)).alias("__a"),
        F.unix_micros(F.max(time_col)).alias("__b"),
    )
    staged = bounds.select(
        *keys,
        "__a",
        F.lit(0).cast("bigint").alias("__ks"),
        F.floor((F.col("__b") - F.col("__a")) / F.lit(step_us))
        .cast("bigint")
        .alias("__ke"),
    )
    return _explode_slot_range(staged).select(
        *keys,
        F.timestamp_micros(F.col("__a") + F.col("__k") * F.lit(step_us)).alias(
            time_col
        ),
    )


def resample(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "time",
    step: str = "INTERVAL 1 SECOND",
    linear: dict[str, str] | None = None,
    locf: dict[str, str] | None = None,
    keep_observations: bool = False,
) -> DataFrame:
    """Resample per-key series onto a dense grid — the engine's
    ``INTERPOLATE_LINEAR`` + ``INTERPOLATE_LOCF`` in one fused pass.

    Implements `queries.txt:4-9`: per key, build the grid
    ``SEQUENCE(min(time), max(time), step)``, then for each output→input pair
    in ``linear`` emit the linearly interpolated value at every grid point,
    and for each pair in ``locf`` carry the last observation forward
    (works on varchar series — the reference LOCFs ``status``).

    The fusion is the plan a query author would hand-write: observations and
    grid points are unioned, a single forward window pass produces all
    last-observation state (LOCF values + lerp left endpoints), a single
    backward pass produces lerp right endpoints. One exchange on ``keys``,
    two sorts, zero Python. Rows before the first / after the last
    observation of a key cannot occur because the grid spans [min, max].

    With one ``linear`` column, rebuilding the same resample on a session
    generates the same code, so a rebuild compiles no new classes. With
    several, rebuilds may still recompile: Spark orders their ignore-nulls
    lead frames by expression ids.
    """
    linear = dict(linear or {})
    locf = dict(locf or {})
    if not linear and not locf:
        raise ValueError("resample needs at least one of linear= / locf=")
    value_cols = sorted({*linear.values(), *locf.values()})
    step_us = _interval_micros(step)

    # Interval-join densification. Each observation row owns the grid slots
    # in [t_i, t_{i+1}): slot indices k (relative to the key's min time, the
    # grid phase — Timestream's SEQUENCE starts at min(time)) are generated
    # per row. Compared to the union-the-grid-then-window formulation this
    # shuffles and sorts ONLY the observations (grid densification happens
    # after the window, inside codegen), which at scale cuts the exchanged
    # volume by the grid-to-observation ratio.
    #
    # Null semantics are PER COLUMN (Timestream-faithful — the semantics a
    # window IGNORE NULLS formulation gives): a row whose value is null for
    # one series is still an observation for its other series, and still
    # bounds the grid. So slot ownership uses ALL rows, while each column's
    # lerp endpoints / LOCF state come from running last IGNORE NULLS
    # (backward) and lead IGNORE NULLS (forward) over the same (keys, time)
    # sort — one sort, one exchange, same plan shape as before. The
    # forward endpoint MUST be lead-IGNORE-NULLS, never
    # first().over(rowsBetween(1, unboundedFollowing)): Spark evaluates an
    # UNBOUNDED FOLLOWING aggregate frame by rescanning the frame per row —
    # O(rows²) per key partition (measured 142 s for ONE 100k-row key vs
    # 0.35 s for the O(rows) frameless lead) — a hang, not a slowdown, on a
    # year-long sensor series. On null-free input every expression reduces
    # to the old row-local value / lead pair bit-exactly.
    w = Window.partitionBy(*keys).orderBy("__t")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # A NULL-time row is NOT an observation: Spark's NULLS-FIRST asc sort
    # would null first("__t") and every slot bound of the key (r10 find;
    # inert in the oracle's NULLS-LAST window formulation).
    obs = df.filter(F.col(time_col).isNotNull()).select(
        *keys,
        F.col(time_col).alias("__t"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    lin_vals = sorted(set(linear.values()))
    locf_vals = sorted(set(locf.values()))
    t_us = F.unix_micros("__t")

    def _nn_t(c: str):
        return F.when(F.col(f"__v_{c}").isNotNull(), t_us)

    def _q(col_name: str) -> str:
        return "`" + col_name.replace("`", "``") + "`"

    def _lead_nn(c: str) -> Column:
        # The next non-null observation's (value, time) as ONE ignore-nulls
        # lead (pyspark's F.lead doesn't expose ignoreNulls; the SQL form
        # does). On a row with a non-null value, the running __pv/__pt are
        # that row's own value and time. One struct instead of two leads
        # matters for code reuse: WindowExec groups ignore-nulls offset
        # functions into frames through a hash map keyed on their input
        # expressions, so two of them are ordered by each build's
        # expression ids and a rebuild compiles new classes.
        return F.expr(
            f"lead(CASE WHEN {_q(f'__v_{c}')} IS NOT NULL THEN named_struct("
            f"'v', {_q(f'__pv_{c}')}, 't', {_q(f'__pt_{c}')}) END, 1) ignore nulls"
        )

    staged = obs.select(
        *keys,
        "__t",
        t_us.alias("__t_us"),
        F.unix_micros(F.first("__t").over(w_run)).alias("__min_us"),
        F.unix_micros(F.lead("__t").over(w)).alias("__next_t_us"),
        *[F.col(f"__v_{c}") for c in value_cols],
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w_run).alias(f"__pv_{c}")
            for c in lin_vals
        ],
        *[
            F.last(_nn_t(c), ignorenulls=True).over(w_run).alias(f"__pt_{c}")
            for c in lin_vals
        ],
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w_run).alias(f"__locf_{c}")
            for c in locf_vals
        ],
    ).select(
        "*", *[_lead_nn(c).over(w).alias(f"__n_{c}") for c in lin_vals]
    )

    d = F.col("__t_us") - F.col("__min_us")
    k_start = F.floor((d + F.lit(step_us - 1)) / F.lit(step_us))  # ceil(d/step)
    # interior rows: slots strictly before the next observation; final row:
    # only its own timestamp, iff grid-aligned (floor(d/step) == ceil(d/step))
    k_end = F.when(
        F.col("__next_t_us").isNotNull(),
        F.floor((F.col("__next_t_us") - F.lit(1) - F.col("__min_us")) / F.lit(step_us)),
    ).otherwise(F.floor(d / F.lit(step_us)))
    dense = _explode_slot_range(
        staged.select(
            *keys,
            "__t_us",
            "__min_us",
            "__next_t_us",
            *[F.col(f"__pv_{c}") for c in lin_vals],
            *[F.col(f"__pt_{c}") for c in lin_vals],
            *[F.col(f"__n_{c}")["v"].alias(f"__nv_{c}") for c in lin_vals],
            *[F.col(f"__n_{c}")["t"].alias(f"__nt_{c}") for c in lin_vals],
            *[F.col(f"__locf_{c}") for c in locf_vals],
            k_start.cast("bigint").alias("__ks"),
            k_end.cast("bigint").alias("__ke"),
        )
    ).withColumn("__g_us", F.col("__min_us") + F.col("__k") * F.lit(step_us))

    out_cols: list[Column] = []
    for out_name, in_name in locf.items():
        out_cols.append(F.col(f"__locf_{in_name}").alias(out_name))
    for out_name, in_name in linear.items():
        # same IEEE expression tree as the oracle: lerp in epoch micros
        # between the column's nearest non-null neighbors; a slot exactly on
        # a non-null observation returns it verbatim (covers the final grid
        # point and single-observation keys). A slot owned by row i sees
        # non-null obs at t <= g as exactly rows 0..i (prev state) and at
        # t >= g as rows i+1.. (next state): g == t_i with a non-null value
        # is the verbatim branch, and with a null value row i contributes
        # to neither side — IGNORE NULLS semantics per column.
        pv, pt = F.col(f"__pv_{in_name}"), F.col(f"__pt_{in_name}")
        nv, nt = F.col(f"__nv_{in_name}"), F.col(f"__nt_{in_name}")
        frac = (F.col("__g_us") - pt) / (nt - pt)
        lerp = (
            F.when(pt == F.col("__g_us"), pv)
            .when(pt.isNull() | nt.isNull(), F.lit(None))
            .otherwise(pv + (nv - pv) * frac)
        )
        out_cols.append(lerp.alias(out_name))

    resampled = dense.select(
        *keys, F.timestamp_micros("__g_us").alias(time_col), *out_cols
    )
    if keep_observations:
        on_grid = F.pmod(F.col("__t_us") - F.col("__min_us"), F.lit(step_us)) == 0
        obs_rows = staged.filter(~on_grid).select(
            *keys,
            F.timestamp_micros("__t_us").alias(time_col),
            *[F.col(f"__v_{in_name}").alias(out) for out, in_name in locf.items()],
            *[F.col(f"__v_{in_name}").alias(out) for out, in_name in linear.items()],
        )
        resampled = resampled.unionByName(obs_rows)
    return resampled


def sequence_ts(tmin: Column, tmax: Column, step: str = "INTERVAL 1 SECOND") -> Column:
    """Timestream's ``SEQUENCE(min(time), max(time), step)`` as an array
    value (`queries.txt:6`), for use with the array-valued interpolators."""
    return F.sequence(tmin, tmax, F.expr(step))


def interpolate_linear_ts(ts: Column, grid: Column) -> Column:
    """Array-valued ``INTERPOLATE_LINEAR(timeseries, grid)`` — the exact
    Timestream call shape (`queries.txt:4-6`): input is a sorted
    array<struct<time,value>> (from :func:`create_time_series`), output is
    array<struct<time,value>> on the grid timestamps.

    Per grid point this scans the series array (O(|grid| x |ts|) per group),
    which is the right trade for the reference's per-window series (≤ ~900
    points); for unbounded series use :func:`resample`, the relational form.
    Same lerp expression tree as resample, so both agree bit-exactly.
    """

    def at(t: Column) -> Column:
        before = F.filter(ts, lambda o: o["time"] <= t)
        after = F.filter(ts, lambda o: o["time"] >= t)
        prev = F.element_at(before, -1)
        nxt = F.element_at(after, 1)
        frac = (F.unix_micros(t) - F.unix_micros(prev["time"])) / (
            F.unix_micros(nxt["time"]) - F.unix_micros(prev["time"])
        )
        return (
            F.when(prev["time"] == t, prev["value"])
            .when(prev.isNull() | nxt.isNull(), F.lit(None))
            .otherwise(prev["value"] + (nxt["value"] - prev["value"]) * frac)
        )

    return F.transform(grid, lambda t: F.struct(t.alias("time"), at(t).alias("value")))


def interpolate_locf_ts(ts: Column, grid: Column) -> Column:
    """Array-valued ``INTERPOLATE_LOCF(timeseries, grid)`` (`queries.txt:7-9`)
    — works on varchar series (the reference LOCFs status)."""

    def at(t: Column) -> Column:
        return F.element_at(F.filter(ts, lambda o: o["time"] <= t), -1)["value"]

    return F.transform(grid, lambda t: F.struct(t.alias("time"), at(t).alias("value")))


def align_series(
    interpolated: DataFrame,
    keys: Sequence[str],
    time_col: str = "time",
    agg: dict[str, Column] | None = None,
) -> DataFrame:
    """The flagship query's re-aggregation step (J1+A4, `queries.txt:14-19`):
    after two per-key series are aligned on the same grid, collapse duplicates
    with ``min(status)`` / ``avg(temp)`` per (key, time).

    The reference expresses alignment as two ``CROSS JOIN UNNEST`` + a
    ``t.time = s.time`` filter. Because both series share one ``SEQUENCE``
    grid, that join is a zip — :func:`resample` already produced the zipped
    shape, so all that remains is the duplicate-collapsing group-by (which is
    a no-op on unique grids but preserved for fidelity, including the
    lexicographic ``min`` on varchar status: 'ERROR' < 'OK' < 'WARNING').
    """
    agg = agg or {}
    return interpolated.groupBy(*keys, time_col).agg(
        *[expr.alias(name) for name, expr in agg.items()]
    )


def time_bin(col: Column | str, step: str = "30 seconds") -> Column:
    """Timestream's ``bin(time, interval)`` (`grafana…json:121,392,518`):
    floor a timestamp to a multiple of ``step`` since the Unix epoch.

    Implemented as epoch-microsecond floor arithmetic via ``pmod``, which
    floors toward -inf — the oracle twin is DuckDB
    ``make_timestamp(epoch_us(ts) - ((epoch_us(ts) % step + step) % step))``
    (plain ``%`` truncates toward zero and would diverge by a full bin on
    any pre-1970 timestamp). Exact cross-engine, stays inside whole-stage
    codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    step_us = F.lit(_interval_micros(step))
    us = F.unix_micros(c)
    return F.timestamp_micros(us - F.pmod(us, step_us))


def _interval_micros(step: str) -> int:
    """Parse '30 seconds' / '1 hour' / '5 minutes' / '1 day' to microseconds.
    Malformed strings raise a descriptive ValueError (every operator takes
    these straight from the user; a typo must not surface as KeyError or
    IndexError from the parsing internals)."""
    scale = {
        "microsecond": 1,
        "millisecond": 1_000,
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }
    parts = step.strip().lower().replace("interval", "").strip().split()
    if len(parts) != 2:
        raise ValueError(
            f"bad interval {step!r}: expected '<qty> <unit>' like '5 minutes'"
        )
    try:
        qty = float(parts[0].strip("'\""))
    except ValueError:
        raise ValueError(f"bad interval quantity {parts[0]!r} in {step!r}") from None
    if not math.isfinite(qty) or qty <= 0:
        # inf/nan float()-parse fine but overflow/garble the int()
        # conversion below; zero/negative steps divide-by-zero later in
        # time_bin — every interval this engine takes is a positive
        # duration, so reject here, descriptively
        raise ValueError(
            f"interval quantity must be a positive finite number, got "
            f"{parts[0]!r} in {step!r}"
        )
    unit = parts[1].rstrip("s")
    if unit not in scale:
        raise ValueError(
            f"bad interval unit {parts[1]!r} in {step!r}: expected one of "
            f"{sorted(scale)} (optionally plural)"
        )
    return int(qty * scale[unit])


def lttb_downsample(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    value_col: str,
    threshold: int,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013, the
    de-facto dashboard downsampler — what a Grafana panel should receive
    instead of a million raw points): per key, keep the first and last
    observation and, for each of ``threshold - 2`` equal buckets of the
    interior, the point forming the largest triangle with the previously
    selected point and the next bucket's average point. Preserves visual
    extremes that plain binned averaging flattens.

    The selection is a left-to-right recursion (each bucket's choice
    depends on the previous bucket's), so like EWMA it cannot be an
    OVER-clause window: it runs as ONE sequential fold per key over the
    sorted observation array, with a (prev, selected[]) struct
    accumulator. The fold body is a single lambda — plan size is constant
    in both the series length and the threshold.

    Scale shape: one hash exchange (the per-key collect), per-key memory
    bounded by the key's series (the same cardinality the reference's
    ``timeseries`` value materializes — A1), O(n) work per key. Series
    with <= threshold points pass through unchanged.

    Determinism contract: bucket boundaries are exact integer floors,
    triangle areas are one fixed-shape double expression, the in-bucket
    argmax folds left-to-right keeping the FIRST maximum, and ties cannot
    diverge because both engines evaluate bit-identical area values (the
    DuckDB oracle mirrors the fold token-for-token).
    """
    nb = threshold - 2
    if nb < 1:
        raise ValueError("threshold must be >= 3")

    pts = F.array_sort(
        F.collect_list(F.struct(F.col(time_col).alias("t"), F.col(value_col).alias("v")))
    )

    def x_of(p: Column) -> Column:
        return F.unix_micros(p["t"]).cast("double")

    def fold_sum(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    def lttb(pts: Column) -> Column:
        n = F.size(pts)
        mid = (n - 2).cast("bigint")
        last = F.element_at(pts, n)

        def bound(e: Column) -> Column:
            # exact integer floor(e / nb): e < 2^53 so the double divide is
            # exact after subtracting the remainder
            return ((e - F.pmod(e, F.lit(nb))) / F.lit(nb)).cast("bigint")

        def step(acc: Column, b: Column) -> Column:
            # HOF projections run interpreted with NO common-subexpression
            # elimination, so everything referenced per candidate (the
            # next-bucket averages ax/ay — each a fold — and the previous
            # point's coordinates) is let-bound ONCE per bucket, and the
            # candidate point itself once per j; without the bindings ax/ay
            # re-fold for every candidate (measured 3x on the sf0.1 bench).
            lo = bound(b * mid) + 2
            hi = bound((b + 1) * mid) + 1
            nlo = bound((b + 1) * mid) + 2
            nhi = bound((b + 2) * mid) + 1
            nxt = F.transform(
                F.sequence(nlo.cast("int"), nhi.cast("int")),
                lambda j: F.element_at(pts, j),
            )
            cnt = (nhi - nlo + 1).cast("double")
            is_last = b == F.lit(nb - 1)
            ax = F.when(is_last, x_of(last)).otherwise(
                fold_sum(F.transform(nxt, x_of)) / cnt
            )
            ay = F.when(is_last, last["v"]).otherwise(
                fold_sum(F.transform(nxt, lambda p: p["v"])) / cnt
            )
            px = x_of(acc["prev"])
            py = acc["prev"]["v"]
            params = F.struct(
                ax.alias("ax"), ay.alias("ay"), px.alias("px"), py.alias("py")
            )

            def with_params(p: Column) -> Column:
                def cand(j: Column) -> Column:
                    def with_pt(pt: Column) -> Column:
                        return F.struct(
                            F.abs(
                                (p["px"] - p["ax"]) * (pt["v"] - p["py"])
                                - (p["px"] - x_of(pt)) * (p["py"] - p["ay"])
                            ).alias("area"),
                            pt["t"].alias("t"),
                            pt["v"].alias("v"),
                        )

                    return let(F.element_at(pts, j), with_pt)

                return F.transform(F.sequence(lo.cast("int"), hi.cast("int")), cand)

            cands = let(params, with_params)

            def best_of(cands: Column) -> Column:
                return F.aggregate(
                    cands,
                    F.element_at(cands, 1),
                    lambda bst, c: F.when(c["area"] > bst["area"], c).otherwise(bst),
                )

            # continuation-style lets: best and the selected point are each
            # referenced more than once downstream — without binding, every
            # reference re-runs the whole candidate fold
            return let(
                let(cands, best_of),
                lambda best: let(
                    F.struct(best["t"].alias("t"), best["v"].alias("v")),
                    lambda sel: F.struct(
                        sel.alias("prev"),
                        F.concat(acc["sel"], F.array(sel)).alias("sel"),
                    ),
                ),
            )

        first = F.element_at(pts, 1)
        init = F.struct(
            first.alias("prev"), F.array(first).alias("sel")
        )
        folded = F.aggregate(
            F.sequence(F.lit(0), F.lit(nb - 1)),
            init,
            step,
        )
        return F.concat(folded["sel"], F.array(last))


    selected = F.when(F.size(pts) <= threshold, pts).otherwise(let(pts, lttb))
    out = df.groupBy(*keys).agg(selected.alias("__sel"))
    return out.select(
        *keys, F.explode("__sel").alias("__p")
    ).select(
        *keys,
        F.col("__p")["t"].alias(time_col),
        F.col("__p")["v"].alias(value_col),
    )
