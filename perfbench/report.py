"""Summarise the traced runs left in ``perfbench/.work``.

    python3 perfbench/report.py

For each workload: per-layer self time, call and job counts, summed over
its trace files and divided by the number of measured steps; the share
of the steps' wall time the spans leave uncovered; and the tracing
overhead, both as the tracer's own time and as the difference between
the median step of the traced and of the untraced runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from spans import layer_totals

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


def _steps(workload: str, trace: int) -> list[float]:
    out: list[float] = []
    for p in glob.glob(os.path.join(WORK, f"steps-{workload}-*-trace{trace}.json")):
        with open(p) as f:
            out += json.load(f)["steps"]
    return out


def report(workload: str) -> None:
    spans, overhead = [], 0.0
    for p in sorted(glob.glob(os.path.join(WORK, f"trace-{workload}-*.json"))):
        with open(p) as f:
            data = json.load(f)
        base = len(spans)
        for s in data["spans"]:  # renumber so spans of several files can be pooled
            s["id"] += base
            s["parent"] = None if s["parent"] is None else s["parent"] + base
        spans += data["spans"]
        overhead += data["overhead_s"]
    traced, untraced = _steps(workload, 1), _steps(workload, 0)
    n = len(traced)
    wall = sum(traced)
    top = layer_totals(spans)
    print(f"== {workload}: {n} traced steps, {wall / n:.2f} s per step")
    print(f"{'layer':44s} {'calls':>6s} {'self_s':>8s} {'share':>6s} {'jobs':>6s} {'exec_s':>7s} {'py_st':>6s}")
    for name, t in sorted(top.items(), key=lambda kv: -kv[1]["self_s"]):
        print(
            f"{name:44s} {t['calls'] / n:6.1f} {t['self_s'] / n:8.3f} {t['self_s'] / wall:6.1%} "
            f"{t['jobs'] / n:6.1f} {t['executor_run_s'] / n:7.2f} {t['python_stages'] / n:6.1f}"
        )
    uncovered = top.get("step", {}).get("self_s", 0.0)
    print(f"uncovered by layer spans: {uncovered / n:.3f} s per step ({uncovered / wall:.1%})")
    print(f"tracer's own time: {overhead / n:.3f} s per step ({overhead / wall:.1%})")
    if untraced:
        a, b = statistics.median(traced), statistics.median(untraced)
        print(f"median step traced {a:.2f} s vs untraced {b:.2f} s ({len(untraced)} steps): overhead {a - b:+.2f} s ({a / b - 1:+.1%})")


if __name__ == "__main__":
    names = sorted({os.path.basename(p).split("-")[1] for p in glob.glob(os.path.join(WORK, "trace-*.json"))})
    for w in names:
        report(w)
