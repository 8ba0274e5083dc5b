"""Summarise recorded benchmark runs.

    python3 perfbench/report.py [.perfbench_work/traces/runs.jsonl]

Every run appends its result line to ``runs.jsonl``.  For each workload this
prints the median and the quartile spread ((Q3 - Q1) / median, as
``statistics.quantiles(n=4)`` gives them) of every end-to-end metric over
the untraced runs, the median of every per-layer metric over the traced
runs, and the tracing overhead: median traced ``trace.run_s`` minus median
untraced ``run_s``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

DEFAULT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".perfbench_work", "traces", "runs.jsonl")


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else DEFAULT
    runs = defaultdict(lambda: {0: [], 1: []})
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            runs[r["workload"]][r["trace"]].append(r)
    for workload, by_trace in sorted(runs.items()):
        print(f"== {workload}")
        for trace, kind in ((0, "end-to-end"), (1, "per-layer")):
            rs = by_trace[trace]
            if not rs:
                continue
            failed = sum(r["failed"] for r in rs)
            attempted = sum(r["attempted"] for r in rs)
            print(f"  {kind}: {len(rs)} runs, {failed}/{attempted} calls "
                  "failed")
            names = sorted({k for r in rs for k in r["metrics"]})
            for name in names:
                vals = [r["metrics"][name]["value"] for r in rs
                        if name in r["metrics"]]
                unit = rs[0]["metrics"][name]["unit"]
                print(f"    {name:34s} {statistics.median(vals):14.4f} "
                      f"{unit:8s} spread {spread(vals):.3f}")
        untraced = [r["metrics"]["run_s"]["value"] for r in by_trace[0]]
        traced = [r["metrics"]["trace.run_s"]["value"] for r in by_trace[1]]
        if untraced and traced:
            overhead = statistics.median(traced) - statistics.median(untraced)
            print(f"  tracing overhead: {overhead:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
