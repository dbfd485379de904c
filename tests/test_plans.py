"""Physical-plan quality gates: the properties that make these operators
survive a 100x scale-up, asserted on the actual plans so regressions in
pruning / broadcast / shuffle count fail loudly (SURVEY.md §4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from time_series_and_data_lakes_spark import queries as Q
from time_series_and_data_lakes_spark.operators import resample


# The helpers live in the package (time_series_and_data_lakes_spark.plans)
# so users can gate their own queries the same way; these aliases keep the
# assertions below terse.
from time_series_and_data_lakes_spark.plans import count_nodes as _nodes  # noqa: E402
from time_series_and_data_lakes_spark.plans import formatted_plan as _plan  # noqa: E402
from time_series_and_data_lakes_spark.plans import hash_exchange_keys as _hash_keys  # noqa: E402


def test_pushed_filters_brackets_exact_on_both_renderings():
    # round-8 ADVICE: the closing bracket is the first `]` at end-of-line
    # or before a `, Field:` label — an In() pushdown's inner brackets
    # must not truncate the capture, and a single-line scan rendering's
    # trailing bracketed field must not be absorbed into it.
    from time_series_and_data_lakes_spark.plans import pushed_filters

    formatted = (
        "(1) Scan parquet\n"
        "PushedFilters: [In(flag, [A,B]), IsNotNull(k), In(s, [x,y])]\n"
        "ReadSchema: struct<k:int>\n"
    )
    assert pushed_filters(formatted) == [
        "In(flag, [A,B]), IsNotNull(k), In(s, [x,y])"
    ]
    one_line = (
        "+- FileScan parquet [k#1] PushedFilters: [IsNotNull(k)], "
        "Bucketing: [enabled], ReadSchema: struct<k:int>\n"
    )
    assert pushed_filters(one_line) == ["IsNotNull(k)"]
    assert pushed_filters("(1) Scan parquet\nPushedFilters: []\n") == [""]


def test_enrichment_join_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(Q.a1_enrichment_join(spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") == 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_dim_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(Q.tpch_q3_top_orders(spark, sf_dir))
    # the BUILDING segment predicate must reach the customer parquet scan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_resample_costs_one_exchange_one_scan(spark, sf_dir):
    # interval-join densification: ONLY the observations are shuffled and
    # sorted; grid slots are generated after the window inside codegen. A
    # second exchange or a second scan of the input is a plan regression.
    obs = Q.sensor_obs(spark, sf_dir)
    out = resample(
        obs,
        ["sensor_id"],
        step="INTERVAL 1 HOUR",
        linear={"temperature": "temperature"},
        locf={"status": "status"},
    )
    plan = _plan(out)
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Scan parquet") == 1
    # ALL endpoint windows share one sort: the running-frame WindowExec
    # (first/last IGNORE NULLS) and, above it, the one frameless lead
    # IGNORE NULLS per linear column that reads the running outputs
    assert _nodes(plan, "Window") == 2
    assert _nodes(plan, "Sort") == 1
    # and none may be an UNBOUNDED FOLLOWING aggregate frame: Spark rescans
    # that frame per row — O(rows^2) per key partition (measured 142 s for
    # one 100k-row key vs 0.35 s for the frameless lead it replaced)
    assert "unboundedfollowing" not in plan.lower()


def test_flagship_reagg_reuses_partitioning(spark, sf_dir):
    # the final groupBy(sensor, time) must NOT add an exchange: hash
    # partitioning on sensor_id already co-locates every (sensor, time) group
    plan = _plan(Q.q1_flagship_interpolate(spark, sf_dir))
    assert _nodes(plan, "Exchange") == 1


def test_rollup_is_one_expand_one_exchange(spark, sf_dir):
    # ROLLUP expands grouping sets map-side (Expand) and aggregates through
    # ONE hash shuffle keyed by (gid, keys) — a per-level union/re-agg would
    # show extra hash exchanges and scans. spread_small's round-robin (r10:
    # parallelizes the Expand + decimal partials on under-partitioned scans,
    # skipped on properly-split scans at scale) is the one permitted
    # non-hash exchange, same as the ivf gate documents.
    plan = _plan(Q.rollup_pricing_totals(spark, sf_dir))
    assert _nodes(plan, "Expand") == 1
    assert len(_hash_keys(plan)) == 1
    assert _nodes(plan, "Exchange") <= 2
    # the permitted second exchange must BE spread_small's round-robin —
    # `<= 2` alone would also admit a rangepartitioning sort leak
    # (ADVICE r10)
    if _nodes(plan, "Exchange") == 2:
        assert "RoundRobinPartitioning" in plan
    assert "rangepartitioning" not in plan.lower()
    assert _nodes(plan, "Scan parquet") == 1


def test_ivf_assignment_is_shuffle_free(spark, sf_dir):
    # Corpus-to-centroid assignment must be a broadcast pass: the only HASH
    # exchange of real data is the final per-query rank window. The
    # remaining exchanges are scale-no-ops: spread_small's round-robin
    # (skipped on properly-sized scans) and the 16-row centroid collect's
    # SinglePartition agg. The probe join is broadcast, never sort-merge.
    plan = _plan(Q.QUERIES["ann_ivf_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "BroadcastHashJoin") == 1  # candidate ⋈ probes
    assert _hash_keys(plan) == [("query_id",)], _hash_keys(plan)


def test_store_partition_pruning(spark, tmp_path):
    # measure_name = '...' AND date filter must prune partitions, not scan
    df = spark.createDataFrame(
        [
            ("s1", dt.datetime(2024, 1, d, 12), "OK", m, 1.0)
            for d in (1, 2)
            for m in ("temperature", "elapsed")
        ],
        "sensor_id string, time timestamp, status string, measure_name string, measure_value_double double",
    )
    store = str(tmp_path / "store")
    df.withColumn("date", F.to_date("time")).write.partitionBy(
        "measure_name", "date"
    ).parquet(store)
    q = spark.read.parquet(store).filter(
        (F.col("measure_name") == "temperature") & (F.col("date") == "2024-01-02")
    )
    plan = _plan(q)
    assert "PartitionFilters" in plan
    # pruned to exactly one of the four partitions
    assert q.count() == 1
    assert "isnotnull(measure_name" in plan


def test_q4_semi_join_carries_keys_only(spark, sf_dir):
    # the EXISTS side must reach the scan as (key, pushed filter) — the
    # exchange then carries 8 bytes/row however big lineitem gets
    plan = _plan(Q.tpch_q4_priority_with_returns(spark, sf_dir))
    assert "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q10_date_range_pushed_to_orders_scan(spark, sf_dir):
    plan = _plan(Q.tpch_q10_returned_revenue(spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate," in plan
    assert "LessThan(o_orderdate," in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q18_having_is_partial_agg_single_scan(spark, sf_dir):
    # sum(qty) > 300 must evaluate as partial agg (map-side) + final agg
    # after ONE exchange over one lineitem scan — not a join back to a
    # second scan of lineitem
    plan = _plan(Q.tpch_q18_large_orders(spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 3  # lineitem, orders, customer
    assert "partial_sum" in plan


def test_rollup_cascade_two_exchanges_one_scan(spark, sf_dir):
    # raw -> hourly partials (exchange 1 on (key, hour-bin)) -> daily merge
    # (exchange 2 on (key, day-bin)); raw data is scanned exactly once and
    # each exchange carries partials, never raw rows twice
    plan = _plan(Q.rollup_cascade_stats(spark, sf_dir))
    assert _nodes(plan, "Exchange") <= 3  # 2 aggs + final sort
    assert _nodes(plan, "Scan parquet") == 1
    assert "partial_sum" in plan


def test_q22_threshold_is_broadcast_not_reshuffle(spark, sf_dir):
    # the 1-row average-balance aggregate must reach the filter via a
    # broadcast (nested-loop on a single row), never by re-shuffling the
    # customer scan; the anti-join build side carries the projected custkey
    # column only
    plan = _plan(Q.tpch_q22_idle_rich_customers(spark, sf_dir))
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 1
    assert "LeftAnti" in plan
    assert _nodes(plan, "Scan parquet") == 3  # customer x2 (agg + probe), orders
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp" in plan


def test_correlated_min_is_one_exchange_one_fact_scan(spark, sf_dir):
    # decorrelation via window MIN: lineitem is scanned once (3 columns) and
    # exchanged once on l_partkey, with the brand semi join applied BEFORE
    # the exchange; a groupBy+join-back shape would scan or shuffle twice
    plan = _plan(Q.correlated_min_price_lines(spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 2  # lineitem, part
    assert _nodes(plan, "Exchange") <= 2  # partkey hash + final sort
    assert _nodes(plan, "Window") == 1
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_extendedprice:double>" in plan


def test_gap_report_one_exchange(spark, sf_dir):
    # LAG gap detection: one hash exchange on the sensor key, filter applied
    # after the window without re-shuffling
    plan = _plan(Q.gap_report_sensors(spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Exchange") <= 2  # sensor hash + final sort
    assert _nodes(plan, "Window") == 1


def test_q19_disjunctive_envelopes_pushed_both_sides(spark, sf_dir):
    # the OR of brand/size/quantity bands references both join sides, so the
    # exact predicate stays a join residual — but the per-side disjunctive
    # envelopes must reach BOTH parquet scans as pushed filters
    plan = _plan(Q.QUERIES["tpch_q19_disjunctive_revenue"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # lineitem envelope
    assert "EqualTo(p_brand,Brand#12)" in plan  # part envelope
    assert _nodes(plan, "Scan parquet") == 2


def test_q21_double_exists_decorrelates_to_one_fact_pass(spark, sf_dir):
    # the EXISTS + NOT EXISTS pair must NOT become two correlated self-joins
    # (three lineitem scans); the engine folds both into a two-level exact
    # aggregation over the order key: one lineitem scan and NO
    # count-distinct Expand (RewriteDistinctAggregates would triple the
    # fact rows AND number its gid branches nondeterministically — the r10
    # plan-fingerprint flip)
    plan = _plan(Q.QUERIES["tpch_q21_sole_late_suppliers"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 3  # lineitem, orders, supplier
    assert _nodes(plan, "Expand") == 0
    assert "EqualTo(o_orderstatus,F)" in plan


def test_q13_outer_join_carries_preaggregated_counts(spark, sf_dir):
    # orders must pre-aggregate to one row per customer BEFORE the outer
    # join (the exchange carries |customers| rows, not |orders|), the
    # qualification predicate must reach the orders scan, and the join must
    # stay LeftOuter so zero-order customers survive
    plan = _plan(Q.QUERIES["tpch_q13_order_count_distribution"](spark, sf_dir))
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))" in plan
    # o_orderkey is in the scan because the count must skip NULL order keys
    # (oracle outer-join semantics) — still a three-column projection
    assert (
        "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,"
        "o_orderpriority:string>" in plan
    )
    assert "partial_count" in plan


def test_q15_window_max_scans_fact_once(spark, sf_dir):
    # the scalar-max-over-view shape must not recompute the view (two fact
    # scans); the window formulation scans lineitem exactly once
    plan = _plan(Q.QUERIES["tpch_q15_top_supplier_revenue"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 2  # lineitem, supplier
    assert _nodes(plan, "Window") == 1
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan


def test_q7_nation_broadcast_twice_no_extra_exchange(spark, sf_dir):
    # nation participates under two roles (supplier-side / customer-side)
    # and must be broadcast both times — dim resolution adds no shuffle
    plan = _plan(Q.QUERIES["tpch_q7_nation_volume"](spark, sf_dir))
    assert plan.count("nation.parquet") == 2  # one Location line per scan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan


def test_token_budget_scans_corpus_once(spark, sf_dir):
    # the grand total must come from a window over the per-source aggregate,
    # not a second aggregation lineage (= second corpus scan at 100 TB)
    plan = _plan(Q.QUERIES["pipe_token_budget"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Window") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_split_is_pure_projection(spark, sf_dir):
    # split assignment itself adds no shuffle: the only exchanges are the
    # small-file spread and the readout groupBy
    plan = _plan(Q.QUERIES["pipe_split_train_test"](spark, sf_dir))
    assert _nodes(plan, "Exchange") <= 2
    assert _nodes(plan, "Scan parquet") == 1


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    # the eval-shingle set must be the broadcast side — the corpus is never
    # shuffled on the shingle key
    plan = _plan(Q.QUERIES["pipe_decontaminate"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "SortMergeJoin") == 0


def test_knn_vote_has_no_cartesian(spark, sf_dir):
    # query side broadcast: corpus x queries scoring is a broadcast nested
    # loop over the tiny query set, never a CartesianProduct shuffle
    plan = _plan(Q.QUERIES["pipe_knn_label_vote"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0


def test_q8_part_filter_pushed_and_two_fact_exchanges(spark, sf_dir):
    plan = _plan(Q.QUERIES["tpch_q8_market_share"](spark, sf_dir))
    assert "EqualTo(p_type,PROMO)" in plan
    assert "GreaterThanOrEqual(o_orderdate,1995-01-01" in plan
    assert _nodes(plan, "Exchange") <= 2  # orderkey + custkey fact joins only


def test_q9_name_predicate_pushed_to_part_scan(spark, sf_dir):
    plan = _plan(Q.QUERIES["tpch_q9_profit_by_nation"](spark, sf_dir))
    assert "StringContains(p_name,widget)" in plan


def test_q17_one_partkey_exchange_no_division(spark, sf_dir):
    # the correlated avg decorrelates to window aggregates over ONE
    # l_partkey exchange; the 20%-of-avg compare is cross-multiplied so the
    # plan contains no division that could throw or drift
    plan = _plan(Q.QUERIES["tpch_q17_small_quantity_revenue"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 2  # lineitem, part
    assert _nodes(plan, "Window") == 1
    assert "EqualTo(p_brand,Brand#1)" in plan


def test_ngram_jaccard_stop_list_anti_join(spark, sf_dir):
    # max_df skew cap (VERDICT r2 item 2): the catalog query must prune
    # high-df shingles via a broadcast anti join BEFORE the posting-list
    # self-join — the df² bucket blowup never reaches the pair generator.
    plan = _plan(Q.QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "LeftAnti" in plan
    # the stop list is tiny (shingles with df > max_df): broadcast, no
    # shuffle of the posting list for the anti join
    assert _nodes(plan, "BroadcastHashJoin") >= 1


def test_corpus_queries_no_final_range_exchange(spark, sf_dir):
    # VERDICT r2 item 7 generalized: corpus-scale outputs must not end in
    # a global presentation sort — no range-partitioning exchange in the
    # final plans (the correctness hash is order-insensitive; writers that
    # need order sort within their own partitioning).
    for q in ("dedup_components", "text_winnow_fingerprint", "ann_quantize_int8",
              "dedup_containment", "dedup_edit_distance", "analytics_ewma",
              "analytics_lttb_downsample", "text_repetition_stats"):
        plan = _plan(Q.QUERIES[q](spark, sf_dir))
        assert "rangepartitioning" not in plan.lower(), q


def test_q2_min_cost_decorrelates_to_one_fact_scan(spark, sf_dir):
    # the correlated scalar-MIN-per-part selection must come from ONE
    # lineitem pass: pair aggregation + per-part window, all dims broadcast
    plan = _plan(Q.QUERIES["tpch_q2_min_cost_supplier"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 4  # lineitem, part, supplier, nation
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "BroadcastHashJoin") == 3
    assert _nodes(plan, "SortMergeJoin") == 0


def test_q11_global_share_is_window_not_rescan(spark, sf_dir):
    # the HAVING-vs-global-total scalar must come from an empty-partition
    # window over the per-part aggregate — a scalar subquery would reference
    # the aggregation twice and scan lineitem once per reference
    plan = _plan(Q.QUERIES["tpch_q11_important_parts"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 3  # lineitem, supplier, nation
    assert _nodes(plan, "Window") == 1


def test_mix_weights_broadcasts_rates_no_corpus_shuffle(spark, sf_dir):
    # the mixture filter must be a map-side probe against the broadcast
    # per-source rate table — the corpus side never hash-exchanges on the
    # (skewed) source key
    plan = _plan(Q.QUERIES["pipe_mix_weights"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "SortMergeJoin") == 0


def test_explode_hof_not_reevaluated_below_exchange(spark, sf_dir):
    # InferFiltersFromGenerate + pushdown can rewrite the explode's
    # non-empty predicate onto the text column and sink it below the
    # repartition exchange — re-running the shingle/winnow HOF on the
    # single-partition pre-shuffle side (measured 2.7-10x on these two
    # queries). explode_outer blocks the inference; assert no Filter
    # anywhere re-derives the array (the HOFs appear once, in the Project).
    for q in ("pipe_decontaminate", "text_winnow_fingerprint"):
        plan = _plan(Q.QUERIES[q](spark, sf_dir))
        filters = [
            seg for seg in plan.split("\n\n")
            if seg.lstrip().startswith("(") and ") Filter" in seg.split("\n")[0]
        ]
        for seg in filters:
            assert "array_distinct" not in seg and "transform(" not in seg, (
                q + ": HOF re-evaluated inside a Filter:\n" + seg[:400]
            )


def test_quality_funnel_single_scan(spark, sf_dir):
    # all four funnel stages must come from ONE corpus scan (conditional
    # aggregation), never one scan per stage
    plan = _plan(Q.QUERIES["pipe_quality_funnel"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1


def test_q12_date_band_pushed_and_single_agg(spark, sf_dir):
    plan = _plan(Q.QUERIES["tpch_q12_priority_by_status"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate,1995-01-01" in plan
    assert _nodes(plan, "Scan parquet") == 2  # lineitem, orders


def test_q20_one_fact_scan_semi_join(spark, sf_dir):
    plan = _plan(Q.QUERIES["tpch_q20_excess_share_suppliers"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 3  # lineitem, part, supplier
    assert _nodes(plan, "Window") == 1
    assert "LeftSemi" in plan


def test_anchored_queries_scan_events_once(spark, sf_dir):
    # VERDICT_r3 item 4: the ago() anchor comes from parquet footer
    # statistics (sources/stats.py), so the anchored queries touch the
    # events table exactly once — no aggregate pre-scan.
    for q in (Q.q3_timeseries_roundtrip, Q.g6_top_sensors_recent_max):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("events.parquet") == 1, q.__name__


def test_semdedup_assignment_broadcast_cluster_pair_join(spark, sf_dir):
    # SemDeDup's scale contract: centroid assignment is a broadcast
    # projection (corpus never shuffled to be assigned), the pair join is
    # keyed by cluster_id (or broadcast when a side is small enough), and
    # nothing sort-merges or ends in a presentation sort. The only hash
    # exchanges of real data are the cluster pair join and the final
    # per-vector rank window.
    plan = _plan(Q.QUERIES["pipe_semdedup"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    keysets = set(_hash_keys(plan))
    assert keysets <= {("vec_id",), ("cluster_id",)}, keysets


def test_repetition_stats_shuffles_only_by_doc(spark, sf_dir):
    # The top-bigram search is explode -> per-(doc, bigram) aggregation ->
    # per-doc rank: every hash exchange must be keyed by doc_id (partial
    # map-side combine collapses the bigram space before the wire); no
    # sort-merge join, no global sort.
    plan = _plan(Q.QUERIES["text_repetition_stats"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    # The full-key parser (round 5) shows the aggregation exchange is the
    # compound (doc_id, bigram) key — correct: that IS the group-by key,
    # and partial combine collapses the bigram space map-side. The rank
    # window then exchanges by doc_id alone. Nothing else may shuffle.
    keysets = set(_hash_keys(plan))
    assert keysets <= {("doc_id",), ("doc_id", "bigram")}, keysets


def test_sequential_fold_analytics_cost_one_key_exchange(spark, sf_dir):
    # EWMA and LTTB are per-key sequential folds: their whole plan must be
    # scan -> ONE hash exchange on the series key -> fold/explode. A second
    # exchange (or a sort-merge join / presentation sort) would mean the
    # recursion leaked out of the single per-key aggregation. Holt/CUSUM
    # share the fold shape, and the OHLC stat tile is the same
    # one-exchange-per-key claim without the fold.
    for q in ("analytics_ewma", "analytics_lttb_downsample",
              "analytics_holt", "analytics_cusum", "g9_ohlc_per_sensor"):
        plan = _plan(Q.QUERIES[q](spark, sf_dir))
        assert "SortMergeJoin" not in plan, q
        assert "rangepartitioning" not in plan.lower(), q
        assert _hash_keys(plan) == [("sensor_id",)], (q, _hash_keys(plan))


def test_cep_queries_cost_one_key_exchange(spark, sf_dir):
    # The CEP batch twins (proc-time f2 and event-time f3) are window
    # functions + one aggregation over the same key: the whole plan must
    # hash-exchange on sensor_id only — the segment aggregation and the
    # pair/selection windows all reuse that partitioning. A second
    # exchange would mean a window picked up a different ordering key.
    for q in ("f2_cep_match_recognize", "f3_cep_event_time"):
        plan = _plan(Q.QUERIES[q](spark, sf_dir))
        assert "SortMergeJoin" not in plan, q
        assert "rangepartitioning" not in plan.lower(), q
        keysets = set(_hash_keys(plan))
        assert keysets == {("sensor_id",)}, (q, keysets)


def test_dashboard_bin_aggs_single_exchange(spark, sf_dir):
    # g8 (2-D histogram) and g10 (error-rate ratio) are plain
    # partial-aggregated groupBys over epoch-floor arithmetic: one scan,
    # one hash exchange carrying partials, nothing else.
    for q in ("g8_heatmap_bins", "g10_error_rate_by_bin"):
        plan = _plan(Q.QUERIES[q](spark, sf_dir))
        assert _nodes(plan, "Scan parquet") == 1, q
        assert _nodes(plan, "Exchange") == 1, q
        assert "partial_count" in plan or "partial_sum" in plan, q


def test_top_tokens_is_takeordered_not_global_sort(spark, sf_dir):
    # Global top-K over the vocabulary: the distinct-doc count two-phases
    # over (token, doc_id), the totals aggregate by token, and the K-row
    # result comes from TakeOrderedAndProject — the vocabulary is never
    # range-partitioned into a global sort.
    plan = _plan(Q.QUERIES["text_top_tokens"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    keysets = set(_hash_keys(plan))
    assert keysets <= {("token",), ("token", "doc_id")}, keysets


def test_tfidf_exchanges_only_token_and_doc(spark, sf_dir):
    # tf/df build on token-keyed aggregation, the per-doc top-k ranks on a
    # doc-keyed window; no sort-merge join (the df vocabulary frame joins
    # broadcast) and no other shuffle key may appear.
    plan = _plan(Q.QUERIES["text_tfidf_keywords"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    keysets = set(_hash_keys(plan))
    assert keysets <= {("doc_id", "token"), ("token",), ("doc_id",)}, keysets


def test_pack_sequences_single_source_exchange(spark, sf_dir):
    # The packing report is one per-source cumulative-sum window feeding a
    # per-source aggregate: the only hash key in the plan is `source`.
    plan = _plan(Q.QUERIES["pipe_pack_sequences"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    keysets = set(_hash_keys(plan))
    assert keysets == {("source",)}, keysets


def test_rrf_fusion_runs_on_ranker_output_cardinality(spark, sf_dir):
    # The fusion join may sort-merge — BOTH its inputs are depth-row rank
    # lists by construction (full_outer prevents broadcast-hash), so the
    # plan property that matters is the absence of any corpus-wide global
    # sort and a TakeOrderedAndProject final top-k.
    plan = _plan(Q.QUERIES["text_rrf_hybrid_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_plan_fingerprint_stable_and_shape_sensitive(spark, sf_dir, tmp_path):
    # Round-6: bench.py records a plan_hash per query so the recurring
    # phantom-regression adjudication (timing moved, plan didn't) is a
    # field compare. Two properties make it fit for purpose:
    from time_series_and_data_lakes_spark.plans import plan_fingerprint

    # 1. Stable across recompilations of the same logical query — fresh
    #    DataFrame objects get fresh expression ids, which must cancel.
    #    (__wrapped__ is the build itself: a second memoized call would
    #    return the first build's plan, expression ids included.)
    a = plan_fingerprint(Q.a1_enrichment_join(spark, sf_dir))
    b = plan_fingerprint(Q.a1_enrichment_join.__wrapped__(spark, sf_dir))
    assert a == b
    assert len(a) == 12 and int(a, 16) >= 0

    # 2. Sensitive to real shape changes: an extra filter, a changed
    #    aggregation, a different query — all must move the hash.
    df = Q.a1_enrichment_join(spark, sf_dir)
    assert plan_fingerprint(df.filter(F.col(df.columns[0]).isNotNull())) != a
    assert plan_fingerprint(Q.g2_measure_series(spark, sf_dir)) != a

    # 3. INSENSITIVE to where the data lives: scan locations are data-
    #    directory text, not plan shape. A relocated/symlinked sf dir must
    #    not flag a phantom "plan change" for every query (the exact
    #    manual-audit cost the hash exists to remove).
    import os

    alias = str(tmp_path / "sf_alias")
    os.symlink(str(sf_dir).rstrip("/"), alias)
    assert plan_fingerprint(Q.a1_enrichment_join(spark, alias)) == a

    # 4. INSENSITIVE to run-varying RDD ids: a localCheckpoint'd frame
    #    (the connected-components iteration uses one) prints
    #    MapPartitionsRDD[<id>] in its scan — two checkpoints of the same
    #    frame must hash identically (found via a bench-twice compare:
    #    dedup_components was the one query whose hash moved run-to-run).
    ck1 = plan_fingerprint(df.localCheckpoint(eager=True))
    ck2 = plan_fingerprint(df.localCheckpoint(eager=True))
    assert ck1 == ck2

    # 5. INSENSITIVE to the session-global HOF lambda counter: lambda
    #    variables print as `lambda x_<N>#` where N keeps incrementing
    #    across the session, so a query fingerprinted after OTHER
    #    HOF-bearing queries compiled must hash the same as in a fresh
    #    session (found in round 7: ten unrelated bench hashes drifted
    #    together when an upstream query's lambda count changed).
    hof = Q.analytics_ewma(spark, sf_dir)
    h1 = plan_fingerprint(hof)
    # burn a few dozen lambda ids, then recompile the same query
    for _ in range(3):
        Q.analytics_ewma(spark, sf_dir).schema
    assert plan_fingerprint(Q.analytics_ewma(spark, sf_dir)) == h1


_FINGERPRINT_SCRIPT = """
import json, sys
from time_series_and_data_lakes_spark import get_spark
from time_series_and_data_lakes_spark import queries as Q
from time_series_and_data_lakes_spark.plans import partition_widths, plan_fingerprint
spark = get_spark(app_name="fingerprint-widths")
out = {}
for name in sys.argv[2:]:
    df = Q.QUERIES[name](spark, sys.argv[1])
    out[name] = [plan_fingerprint(df), partition_widths(df)]
print(json.dumps(out))
"""


def test_plan_fingerprint_is_host_independent(sf_dir):
    # Partition counts follow the core count (shuffle.partitions,
    # spread_small's round-robin): the same tree must hash the same at
    # SPARK_GRAFT_CPUS=4 and =32, with the counts reported beside the hash.
    # tpch_q1 carries hash, range and round-robin partitionings.
    import json
    import os
    import subprocess
    import sys

    names = ["q1_flagship_interpolate", "tpch_q1_pricing_summary"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs = {}
    for cpus in ("4", "32"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, TSDL_DRIVER_MEM="1g")
        done = subprocess.run(
            [sys.executable, "-c", _FINGERPRINT_SCRIPT, sf_dir, *names],
            env=env, cwd=repo, capture_output=True, text=True, timeout=600,
        )
        assert done.returncode == 0, done.stderr[-2000:]
        runs[cpus] = json.loads(done.stdout.strip().splitlines()[-1])
    for name in names:
        (h4, w4), (h32, w32) = runs["4"][name], runs["32"][name]
        assert h4 == h32, name
        assert 4 in w4 and 32 in w32 and len(w4) == len(w32), (name, w4, w32)


def test_partition_widths_parse_every_partitioning_kind():
    from time_series_and_data_lakes_spark.plans import partition_widths, plan_fingerprint

    plan = (
        "(1) Exchange\n"
        "Arguments: hashpartitioning(knownfloatingpointnormalized("
        "normalizenanandzero(v#5)), k#1, {a}), ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "(2) Exchange\n"
        "Arguments: rangepartitioning(t#2 DESC NULLS LAST, {b}), ENSURE_REQUIREMENTS\n"
        "(3) Exchange\n"
        "Arguments: RoundRobinPartitioning({c}), REPARTITION_BY_NUM, [plan_id=9]\n"
    )
    wide, narrow = plan.format(a=200, b=32, c=32), plan.format(a=4, b=4, c=3)
    assert partition_widths(wide) == [200, 32, 32]
    assert partition_widths(narrow) == [4, 4, 3]
    assert plan_fingerprint(wide) == plan_fingerprint(narrow)
    # a changed key is still a changed plan
    assert plan_fingerprint(wide.replace("k#1", "j#1")) != plan_fingerprint(wide)
