"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full execution, no
driver-side collect). Headline set per BASELINE.md: the flagship
interpolation query, the binned-percentile query, and the enrichment join,
plus the relational coverage queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

from time_series_and_data_lakes_spark import get_spark
from time_series_and_data_lakes_spark import queries as Q
from time_series_and_data_lakes_spark.plans import partition_widths, plan_fingerprint

HEADLINE = [
    # headline set per BASELINE.md + every expensive plan family added
    # rounds 2-8 so round-over-round regressions stay visible per family
    "q1_flagship_interpolate", "g5_binned_percentiles", "g6_top_sensors_recent_max",
    "a1_enrichment_join", "tpch_q1_pricing_summary", "tpch_q3_top_orders",
    "tpch_q10_returned_revenue", "tpch_q18_large_orders", "melt_narrow",
    "f2_cep_match_recognize", "g2_measure_series", "dedup_minhash_lsh", "dedup_components",
    "dedup_ngram_jaccard", "dedup_simhash", "ann_cosine_topk", "ann_ivf_topk",
    "ann_lsh_dup_pairs", "rollup_pricing_totals", "multimodal_decode_stats",
    "pipe_decontaminate", "pipe_knn_label_vote", "tpch_q8_market_share",
    "tpch_q17_small_quantity_revenue", "tpch_q9_profit_by_nation",
    "tpch_q21_sole_late_suppliers", "ann_ivf_kmeans_topk", "pipe_token_budget",
    "tpch_q2_min_cost_supplier", "tpch_q20_excess_share_suppliers", "pipe_mix_weights",
    "pipe_quality_funnel", "multimodal_resize_pixels", "ann_pq_adc_topk", "text_bm25_topk",
    "pipe_semdedup", "text_repetition_stats", "analytics_ewma", "analytics_lttb_downsample",
    "f3_cep_event_time",
]

NOISE_NOTE = (
    "adjudication rule: timing moved but plan_hash unchanged vs prior round "
    "=> shared-host noise (re-measure standalone; precedents in the r4-r7 "
    "BENCH records — Python-worker queries swing 2-10x on this host); "
    "plan_hash changed => real plan change, audit it. Hashes compare "
    "BENCH-TO-BENCH (same procedure/session confs): HOF lambda counters are "
    "canonicalized (plans.py), but queries that execute jobs at construction "
    "can still hash differently under ad-hoc session confs. Round-8 real "
    "changes, both deliberate ADVICE/review fixes: ann_lsh_dup_pairs "
    "(explicit null-embedding pre-filter) and pipe_mix_weights (the "
    "mixture rate table is now a driver-materialized local relation so "
    "the availability cache can be unpersisted)."
)

# Per-query timing aggregation: this VM shares a host and random multi-second
# scheduler stalls land on individual runs; the min over N_RUNS is the
# reproducible steady-state cost of the query itself (VERDICT_r3 item 7 asks
# for the aggregation to be explicit in the output).
N_RUNS = 3
AGG = f"min-of-{N_RUNS}"


def main() -> None:
    if "--matched-pairs" in sys.argv[1:]:
        return matched_pairs_main(sys.argv[1:])
    commit_plans = "--commit-plans" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="tsdl-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths, the events scan (page cache + parquet
    # footer), and the Python UDF worker pool, so timings measure query
    # compute rather than cold start. The window/explode/agg codegen caches
    # are warmed by running the two heaviest query shapes against the tiny
    # sf0.001 fixture (different data, same compiled plans) — measured runs
    # at sf_dir still do all of their own data processing.
    Q.load(spark, sf_dir, "region").count()
    Q.load(spark, sf_dir, "events").count()
    from pyspark.sql import functions as F

    spark.range(1000).repartition(32).select(
        F.pandas_udf(lambda s: s + 1, "long")("id")
    ).write.format("noop").mode("overwrite").save()
    warm_dir = "/root/testdata/sf0.001"
    do_warm = os.path.isdir(warm_dir) and os.path.realpath(
        warm_dir
    ) != os.path.realpath(sf_dir)

    timings: dict[str, float] = {}
    plans: dict[str, str] = {}
    widths: dict[str, list[int]] = {}
    for name in HEADLINE:
        fn = Q.QUERIES[name]
        # Physical-plan fingerprint recorded NEXT TO the timing (round-5
        # verdict item 2): timing moved but hash unchanged => shared-host
        # noise (the recurring phantom-regression mode); hash changed =>
        # a real plan change to audit. Fingerprinted once, before the
        # measured runs, on the same (spark, sf_dir) the runs use. The
        # fingerprint blanks partition counts (they follow the core
        # count); the widths are recorded beside it. A query the catalog
        # memoizes (queries._memoized) builds here once: its measured runs
        # re-execute this plan.
        planned = fn(spark, sf_dir)
        plans[name] = plan_fingerprint(planned)
        widths[name] = partition_widths(planned)
        if do_warm:
            # Warm THIS query's shapes immediately before measuring it:
            # whole-stage codegen compilation + JIT happen once per
            # generated class and a cold first execution costs 3-8x steady
            # state — but Spark's generated-class cache holds only ~100
            # entries, so warming all 39 queries up front evicts the early
            # ones before they are measured (observed: the quality funnel
            # read 8 s in-bench vs 1.2 s standalone once the headline set
            # grew). Per-query warming keeps the classes hot regardless of
            # headline count; measured runs at sf_dir still do all their
            # own data processing.
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        best = float("inf")
        for _ in range(N_RUNS):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
            # Queries are independent; drop caches a query materialized for
            # its own multi-consumer stages (e.g. persisted minhash
            # signatures) so later queries aren't measured under another
            # query's heap pressure.
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    line, full, default_scale = format_records(timings, plans, sf, sf_dir)
    full.update(partition_widths=widths, cpus=spark.sparkContext.defaultParallelism)
    repo = os.path.dirname(os.path.abspath(__file__))
    target = os.path.join(repo, plans_target(default_scale, commit_plans))
    with open(target, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    committed = os.path.join(repo, "BENCH_PLANS.json")
    if target != committed and os.path.exists(committed):
        with open(committed) as f:
            old = json.load(f).get("plan_hashes", {})
        drift = sorted(n for n, h in plans.items() if old.get(n) not in (None, h))
        print(
            "bench: plan-hash drift vs committed BENCH_PLANS.json: "
            f"{drift if drift else 'none'}",
            file=sys.stderr,
        )
    print(line)
    spark.stop()


# The driver captures only the ~2 KB stdout TAIL: round 6's line carried
# plan_hashes + the full notes string (~3.5 KB), the front fell off, and the
# round's official timings were lost ("parsed": null). stdout now gets ONE
# compact line (timings only, ~1.3 KB); the full record — plan hashes + the
# adjudication note — goes to BENCH_PLANS.json at the repo root, committed
# each round so bench adjudication stays mechanical.
_LINE_BUDGET = 1900


def format_records(
    timings: dict[str, float],
    plans: dict[str, str],
    sf: str,
    sf_dir: str,
) -> tuple[str, dict, bool]:
    """Build the stdout line + the BENCH_PLANS.json record.

    Returns ``(line, full_record, default_scale)``. The line degrades
    LOUDLY, never truncates: if headline growth pushes it past the
    driver's tail-capture window it drops fields until it fits — notes
    first, then the per-query timings (both always live in the full
    record) — warning on stderr each step. ``default_scale`` is False
    for any non-default ``sf_dir``: BENCH_PLANS.json is the COMMITTED
    per-round adjudication record for the default bench scale, and a
    quick sanity run at another SF must not clobber it."""
    compact = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "agg": AGG,
        "queries": timings,
        "sf": sf,
        "notes": "plan hashes + adjudication note: BENCH_PLANS.json",
    }
    line = json.dumps(compact)
    for drop in ("notes", "queries"):
        if len(line) <= _LINE_BUDGET:
            break
        print(
            f"bench: stdout line {len(line)} B exceeds the ~2 KB driver "
            f"tail capture — dropping {drop!r} (full record in "
            "BENCH_PLANS.json)",
            file=sys.stderr,
        )
        compact.pop(drop, None)
        line = json.dumps(compact)
    full = dict(compact, queries=timings, plan_hashes=plans, notes=NOISE_NOTE)
    default_scale = os.path.realpath(sf_dir) == os.path.realpath(
        "/root/testdata/sf0.1"
    )
    if not default_scale:
        print(
            f"bench: sf_dir {sf_dir} is not the default bench scale — "
            "NOT rewriting the committed BENCH_PLANS.json",
            file=sys.stderr,
        )
    return line, full, default_scale


def parse_pair_spec(spec: str) -> list[tuple[str, str, str]]:
    """Parse ``key=valA|valB[;key2=...]`` into ``[(key, valA, valB), ...]``.

    Every key must be a ``spark.*`` runtime conf: the arms are applied with
    ``spark.conf.set`` on the one live session. The package reads no
    environment variable at plan-build time, so any other key would leave
    both arms identical; it is rejected by name, and so is a segment whose
    two values are equal.
    """
    out = []
    for part in spec.split(";"):
        part = part.strip()
        if not part:
            continue
        key, _, vals = part.partition("=")
        a, sep, b = vals.partition("|")
        if not key or not sep:
            raise SystemExit(
                f"--matched-pairs: bad spec segment {part!r} "
                "(expected key=valA|valB)"
            )
        key = key.strip()
        if not key.startswith("spark."):
            raise SystemExit(
                f"--matched-pairs: {key!r} is not a runtime conf; only "
                "spark.* keys can differ between arms of one session (e.g. "
                "spark.sql.adaptive.coalescePartitions.minPartitionSize="
                "64k|256k)"
            )
        a, b = a.strip(), b.strip()
        if a == b:
            raise SystemExit(
                f"--matched-pairs: {key!r} has the same value {a!r} in both "
                "arms; the run would compare two identical configurations"
            )
        out.append((key, a, b))
    if not out:
        raise SystemExit("--matched-pairs: empty spec")
    return out


def _arg_after(argv: list[str], flag: str, default: str | None = None) -> str | None:
    if flag in argv:
        i = argv.index(flag)
        if i + 1 >= len(argv):
            raise SystemExit(f"{flag} requires a value")
        return argv[i + 1]
    return default


def matched_pairs_main(argv: list[str]) -> None:
    """A/B adjudication mode (round-10 verdict item 7): alternate two
    configurations of the SAME session run-by-run so keep/revert calls are
    reproducible instead of judgment calls on a possibly-loaded host.

    ``--matched-pairs "key=valA|valB[;k2=...]"`` gives the two arms;
    ``--queries a,b,c`` restricts the query set (default: full HEADLINE);
    ``--pairs N`` sets the number of A/B pairs per query (default 4).
    Arms alternate A,B,A,B within each query, so host drift lands on both
    arms symmetrically; each arm gets one unmeasured warm run first.
    Additions-only: the default ``python3 bench.py`` path is untouched and
    this mode never writes BENCH_PLANS*.json. Prints ONE JSON line."""
    spec = _arg_after(argv, "--matched-pairs")
    pairs = int(_arg_after(argv, "--pairs", "4"))
    qarg = _arg_after(argv, "--queries")
    names = [q.strip() for q in qarg.split(",")] if qarg else list(HEADLINE)
    unknown = [n for n in names if n not in Q.QUERIES]
    if unknown:
        raise SystemExit(f"--queries: unknown query names {unknown}")
    arms = parse_pair_spec(spec)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="tsdl-bench-pairs")
    spark.sparkContext.setLogLevel("ERROR")

    def apply(arm: int) -> None:
        for key, a, b in arms:
            spark.conf.set(key, a if arm == 0 else b)

    def run(name: str, measured: bool) -> float:
        fn = Q.QUERIES[name]
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - start
        spark.catalog.clearCache()
        return round(elapsed, 3) if measured else elapsed

    results: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"pairs:{name}")
        for arm in (0, 1):  # one unmeasured warm run per arm
            apply(arm)
            run(name, measured=False)
        a_times: list[float] = []
        b_times: list[float] = []
        for _ in range(pairs):
            apply(0)
            a_times.append(run(name, measured=True))
            apply(1)
            b_times.append(run(name, measured=True))
        a_min, b_min = min(a_times), min(b_times)
        results[name] = {
            "a": a_times,
            "b": b_times,
            "a_min": a_min,
            "b_min": b_min,
            # per-pair sign votes: how many pairs arm B won outright
            "b_wins": sum(1 for x, y in zip(a_times, b_times) if y < x),
            "b_over_a_min": round(b_min / a_min, 3) if a_min else None,
        }
        spark.sparkContext.setJobDescription(None)

    line = json.dumps(
        {
            "metric": "matched_pairs_wall_time",
            "unit": "sec",
            "spec": spec,
            "pairs": pairs,
            "sf": sf,
            "queries": results,
        }
    )
    print(line)
    spark.stop()


def plans_target(default_scale: bool, commit_plans: bool) -> str:
    """BENCH_PLANS.json is the committed adjudication record (round-8
    verdict item 2): only an explicit ``--commit-plans`` run at the
    default bench scale rewrites it. Every other run — ad-hoc timing
    checks, the driver's per-round capture, non-default scales — writes
    the gitignored BENCH_PLANS.run.json sidecar, so a plain
    ``python3 bench.py`` leaves ``git status`` clean."""
    if default_scale and commit_plans:
        return "BENCH_PLANS.json"
    return "BENCH_PLANS.run.json"


if __name__ == "__main__":
    sys.exit(main())
