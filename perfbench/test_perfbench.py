"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at sf0.001 size (about half
a minute each) and check the traced split: the build/plan/export/exec spans
cover each op's wall time, and every stage row belongs to its op's job
group.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import metric_total  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ["dashboard", "lake_export", "stream_replay", "corpus"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(d) -> dict[str, bytes]:
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_backlog_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.write_backlog(a, 7, 0, 3)
    datagen.write_backlog(b, 7, 0, 3)
    datagen.write_backlog(c, 8, 0, 3)
    assert _files(a) == _files(b)
    assert all(_files(a)[n] != _files(c)[n] for n in _files(a))
    mtimes = [os.path.getmtime(os.path.join(a, n)) for n in sorted(os.listdir(a))]
    assert mtimes == sorted(set(mtimes))  # strictly increasing arrival order
    records = datagen.backlog_records(7, 0)
    assert 2500 < len(records) < 3500  # one shard-minute
    assert {r["status"] for r in records if r["temperature"] > 160} == {"ERROR"}


def test_lake_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    sizes = datagen.write_lake(a, 3, 0.01)
    datagen.write_lake(b, 3, 0.01)
    datagen.write_lake(c, 4, 0.01)
    assert _files(a) == _files(b)
    assert _files(a)["events.parquet"] != _files(c)["events.parquet"]
    assert sizes["events"] == 1000 and sizes["documents"] == 500


def test_declared_names_are_valid():
    # every declared metric is emitted: a run builds its result from these
    # lists and fails on a metric it computes but they lack
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names))
    for w in spec["workloads"]:
        assert w["name"] in WORKLOADS


def test_balanced_latency_weights_kinds_equally():
    ops = [{"kind": "a", "wall_s": 1.0}] * 3 + [{"kind": "b", "wall_s": 3.0}]
    p50, rate = run.balanced_latency(ops)
    assert p50 == 2.0  # half the weight on each kind: the midpoint
    assert rate == pytest.approx(2 / (1.0 + 3.0))
    assert run.weighted_median([1, 2, 3], [1, 1, 1]) == 2


def test_tree_cpu_counts_child_processes():
    before = run.tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert run.tree_cpu_s() - before >= 0.25


def test_metric_total_parses_spark_formats():
    assert metric_total("total (min, med, max (stageId: taskId))\n6.5 s (1.6 s, 1.8 s)") == 6500
    assert metric_total("831 ms") == 831
    assert metric_total("5,000") == 5000
    assert metric_total(None) == 0


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--scale", "0.01", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    trace_data = {}
    if trace:
        with open(json.loads(lines[-2])["detail"]["spans"]) as f:
            trace_data = json.load(f)
    return result, trace_data


def test_smoke_untraced_emits_end_to_end_metrics():
    result, _ = _run("lake_export", 0)
    assert set(result["metrics"]) == set(run.declared("end_to_end"))
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_split(workload):
    result, data = _run(workload, 1)
    assert set(result["metrics"]) == set(run.declared("per_layer"))
    assert result["metrics"]["jvm.heap_peak_mb"]["value"] > 0
    spans = data["spans"]
    ops = [s for s in spans if s["name"] == "op"]
    assert ops
    for op in ops:
        children = [s for s in spans if s["parent"] == op["id"]]
        covered = sum(s["end"] - s["start"] for s in children)
        assert covered >= 0.95 * (op["end"] - op["start"]), (op, children)
        assert {s["name"] for s in children} <= {"build", "plan", "export", "exec"}
    if workload == "stream_replay":
        assert result["metrics"]["streaming.cep.batch_ms"]["value"] > 0
        return
    for row in data["ops"]:
        assert row["jobs"], row["kind"]
        for job in row["jobs"]:
            assert job["group"] == row["group"] == f"bench:{workload}:{row['kind']}"
            assert job["stages"]
    m = result["metrics"]
    assert all(m[k]["value"] == 0 for k in m if k.startswith("streaming."))
    if workload == "lake_export":
        assert m["sources.files_written"]["value"] > 0
    else:
        assert m["sources.export_s"]["value"] == 0
