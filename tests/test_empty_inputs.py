"""Table-level degeneracy sweep: every catalog query over ZERO-ROW tables.

The row-level dirty-input contract (corrupt bytes, null text, degenerate
vectors) is covered by the codec-fuzz and operator tests; this module covers
the table-level case — a filter, partition prune, or upstream failure that
leaves an input EMPTY. That is routine at 100 TB (a time-window predicate
matching nothing, a tenant with no documents yet), so the contract is:

  * a query over empty tables returns an empty result (or the one-row
    global-aggregate frame SQL semantics demand) — it never crashes with a
    raw IndexError/KeyError from driver-side model-state collects; and
  * an operator whose MODEL genuinely cannot exist without data (PQ
    codebooks trained on an empty corpus) fails loudly with a descriptive
    ValueError at the training boundary, not a numpy shape error later.

The representative set below exercises every driver-side-state family the
round-5 verdict audited (footer-stats anchor, k-means/PQ collects,
freqItems sketch, iterative graph signature, fused Arrow dedup stages,
mapInPandas media paths). The FULL 108-query sweep is gated behind
TSDL_EMPTY_SWEEP=1 (costs ~2-3 min; the per-round driver pytest should not
pay it):

    TSDL_EMPTY_SWEEP=1 python -m pytest tests/test_empty_inputs.py -q
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row copies of every test table, schemas read from the smoke-SF
    parquet footers — so the sweep sees exactly the production schemas."""
    import pyarrow.parquet as pq

    dst = tmp_path_factory.mktemp("empty_sf")
    for name in sorted(os.listdir(SF_SMOKE)):
        if not name.endswith(".parquet"):
            continue
        src = os.path.join(SF_SMOKE, name)
        if os.path.isdir(src):
            part = next(
                p for p in sorted(os.listdir(src)) if p.endswith(".parquet")
            )
            schema = pq.ParquetFile(os.path.join(src, part)).schema_arrow
        else:
            schema = pq.ParquetFile(src).schema_arrow
        out = dst / name
        out.mkdir()
        pq.write_table(schema.empty_table(), str(out / "part-0.parquet"))
    return str(dst)


# query name -> expected row count over empty tables. 0 for everything
# except ungrouped aggregates, where SQL semantics give one all-null/zero
# row (the DuckDB oracle agrees).
REPRESENTATIVE = {
    "q1_flagship_interpolate": 0,  # resample/densify
    "g5_binned_percentiles": 0,  # percentile_approx over nothing
    "g6_top_sensors_recent_max": 0,  # footer-stats ago() anchor w/o stats
    "f2_cep_match_recognize": 0,  # batch CEP NFA
    "analytics_holt": 0,  # sequential fold
    "dedup_minhash_lsh": 0,  # fused Arrow signature stage
    "dedup_components": 0,  # iterative large/small-star + signature collect
    "ann_ivf_kmeans_topk": 0,  # Lloyd iterations with empty init
    "text_top_tokens": 0,  # freqItems sketch collect
    "pipe_quality_deciles": 0,  # ntile over nothing
    "multimodal_decode_stats": 0,  # mapInPandas media path
    "rollup_cascade_stats": 0,  # rollup re-aggregation
    "tpch_q17_small_quantity_revenue": 1,  # ungrouped aggregate
}


@pytest.mark.parametrize("name", sorted(REPRESENTATIVE))
def test_representative_queries_degrade_gracefully(spark, empty_sf, name):
    df = entry.queries()[name](spark, empty_sf)
    assert df.count() == REPRESENTATIVE[name]


def test_pq_query_raises_descriptively_on_empty_corpus(spark, empty_sf):
    # PQ is the one catalog entry whose model cannot exist without data:
    # the codebooks are built from corpus vectors. The contract is a loud
    # ValueError at the model boundary (previously a bare IndexError).
    with pytest.raises(ValueError, match="degenerate PQ codebooks"):
        entry.queries()["ann_pq_adc_topk"](spark, empty_sf)


def test_pq_encode_rejects_degenerate_codebooks(spark, sf_dir):
    from time_series_and_data_lakes_spark.operators.similarity import pq_encode

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    with pytest.raises(ValueError, match="degenerate PQ codebooks"):
        pq_encode(emb, [])
    with pytest.raises(ValueError, match="degenerate PQ codebooks"):
        pq_encode(emb, [[[1.0, 2.0]], []])


@pytest.mark.skipif(
    not os.environ.get("TSDL_EMPTY_SWEEP"),
    reason="set TSDL_EMPTY_SWEEP=1 for the full 108-query empty-table sweep",
)
def test_full_catalog_empty_sweep(spark, empty_sf):
    # Ungrouped aggregates legitimately produce rows from empty input —
    # one per aggregate leg (setops_priority_cohorts unions three). The cap
    # only needs to catch queries fabricating UNBOUNDED rows from nothing.
    max_literal_rows = 3
    failures = {}
    for name, fn in entry.queries().items():
        try:
            n = fn(spark, empty_sf).count()
            if n > max_literal_rows:
                failures[name] = f"returned {n} rows from empty tables"
        except (ValueError, NotImplementedError) as e:
            if not str(e):  # descriptive-message contract
                failures[name] = f"empty {type(e).__name__} message"
        except Exception as e:  # noqa: BLE001 — the sweep's whole point
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    assert not failures, failures
