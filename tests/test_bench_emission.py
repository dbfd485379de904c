"""bench.py emission contract (round-7 verdict item 1).

The driver records only the ~2 KB stdout TAIL of a bench run; round 6's
official timings were silently lost when the JSON line outgrew that
window. These tests pin the guarantees that prevent a recurrence: the
stdout line always fits the budget (degrading loudly, never truncating),
the full record keeps everything regardless, and a sanity run at a
non-default scale never clobbers the committed BENCH_PLANS.json.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _records(names, sf_dir: str = DEFAULT_SF_DIR):
    timings = {n: 1.234 for n in names}
    plans = {k: "abcdef123456" for k in timings}
    return bench.format_records(timings, plans, "0.1", sf_dir)


def test_stdout_line_fits_budget_at_current_headline_set(capsys):
    # the REAL headline names with worst-case-width timings: the full
    # per-query map must fit the driver's tail capture without degrading
    line, full, write_plans = _records(bench.HEADLINE)
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_query_wall_time"
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    assert "plan_hashes" not in parsed  # hashes live in BENCH_PLANS.json only
    assert write_plans
    assert capsys.readouterr().err == ""  # no degradation warnings


def test_oversized_headline_degrades_loudly_and_still_parses(capsys):
    # ~45 bytes/entry: 100 long-named queries overflow the budget decisively
    line, full, write_plans = _records(
        [f"very_long_benchmark_query_name_{i:03d}" for i in range(100)]
    )
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == round(100 * 1.234, 3)
    assert "queries" not in parsed  # dropped — but present in the record
    assert len(full["queries"]) == 100 and len(full["plan_hashes"]) == 100
    assert "dropping" in capsys.readouterr().err  # the loud part


def test_full_record_always_carries_everything():
    _line, full, _w = _records(bench.HEADLINE)
    assert set(full["plan_hashes"]) == set(full["queries"])
    assert full["notes"] == bench.NOISE_NOTE
    assert full["agg"] == bench.AGG


def test_non_default_sf_dir_never_rewrites_committed_plans(capsys):
    _line, _full, default_scale = _records(
        bench.HEADLINE[:5], sf_dir="/root/testdata/sf0.001"
    )
    assert not default_scale
    assert "NOT rewriting" in capsys.readouterr().err


def test_committed_plans_need_explicit_flag_and_default_scale():
    # Round-8 verdict item 2: a plain `python3 bench.py` must leave
    # `git status` clean — only --commit-plans at the default scale may
    # touch the committed BENCH_PLANS.json.
    assert bench.plans_target(True, True) == "BENCH_PLANS.json"
    assert bench.plans_target(True, False) == "BENCH_PLANS.run.json"
    assert bench.plans_target(False, True) == "BENCH_PLANS.run.json"
    assert bench.plans_target(False, False) == "BENCH_PLANS.run.json"


def test_matched_pairs_spec_parses_and_rejects_garbage():
    # r11 (round-10 verdict item 7): the A/B adjudication mode's spec
    # grammar — "key=valA|valB[;key2=...]" — additions-only, so the default
    # bench path (and the driver's capture) is untouched.
    assert bench.parse_pair_spec(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize=64k|1m"
    ) == [("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k", "1m")]
    assert bench.parse_pair_spec("spark.a=1|2; spark.b=x|y") == [
        ("spark.a", "1", "2"),
        ("spark.b", "x", "y"),
    ]
    import pytest

    # arms apply to one live session, so a non-runtime key would compare
    # two identical arms: refused by name, pointing at the spark.* form
    with pytest.raises(SystemExit, match=r"'TSDL_X'.*spark\.sql\.adaptive"):
        bench.parse_pair_spec("TSDL_X=0|2048; spark.a=1|2")
    # two equal values (after stripping) would also compare two identical
    # arms: refused naming the key, wherever the segment sits in the spec
    with pytest.raises(SystemExit, match=r"'spark\.x'.*same value '256k'"):
        bench.parse_pair_spec("spark.x=256k|256k")
    with pytest.raises(SystemExit, match=r"'spark\.b'"):
        bench.parse_pair_spec("spark.a=1|2; spark.b= y |y")
    with pytest.raises(SystemExit):
        bench.parse_pair_spec("no_pipe=1")
    with pytest.raises(SystemExit):
        bench.parse_pair_spec("")
