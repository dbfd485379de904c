"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the records ``run.py --out`` appends, one per run. For every
(workload, metric) the script prints each side's median and quartile
spread and the change of the medians, and flags an end-to-end metric whose
new median is worse than the base median by more than its bound in
``BENCHMARK.json``. Results measured with different core counts are not
comparable (plan shapes and timings depend on ``SPARK_GRAFT_CPUS``), so
such a comparison is refused with exit code 2. Exit code 1 means some
metric regressed beyond its bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def cpus(records: list[dict]) -> set[int]:
    return {r["detail"]["provenance"]["spark_graft_cpus"] for r in records}


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile, over the median."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def series(records: list[dict]) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for r in records:
        wl = r["detail"]["provenance"]["workload"]
        for name, m in r["result"]["metrics"].items():
            out.setdefault((wl, name), []).append(m["value"])
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cores = cpus(base) | cpus(new)
    if len(cores) > 1:
        print(f"refused: results come from different core counts {sorted(cores)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    a, b = series(base), series(new)
    worse = 0
    for key in sorted(a.keys() & b.keys()):
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        change = (mb - ma) / ma if ma else 0.0
        flag = ""
        if key[1] in bounds:
            bound, better = bounds[key[1]]
            if (change if better == "lower" else -change) > bound:
                flag = "  WORSE"
                worse += 1
        print(f"{key[0]:14s} {key[1]:34s} base {ma:12.4f} (spread {spread(a[key]):.3f}, "
              f"n={len(a[key])})  new {mb:12.4f} (spread {spread(b[key]):.3f}, "
              f"n={len(b[key])})  change {change:+.3f}{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
