"""Per-layer metrics of a traced run, averaged per measured step.

Metric names and units come from ``BENCHMARK.json`` at the checkout
root, so the file the runs are judged by is the one list. A layer a
workload does not call reports 0: that is the prediction "no change"
for a change to that layer.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import COUNTERS

_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
with open(_SPEC) as _f:
    _BENCH = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"] + _BENCH["per_layer"]}
PER_LAYER = [m["name"] for m in _BENCH["per_layer"]]

# span name -> metric holding its inclusive seconds
_LAYER_TIMES = {
    "sources.read": "sources.read_s",
    "validators.check": "validators.check_s",
    "sinks.write_raw": "sinks.write_raw_s",
    "sinks.write_legacy": "sinks.write_legacy_s",
    "sinks.read_legacy": "sinks.read_legacy_s",
    "marts.supplier_performance": "marts.supplier_performance_s",
    "marts.product_performance": "marts.product_performance_s",
    "marts.customer_sales_report": "marts.customer_sales_report_s",
    "reconcile.diff": "reconcile.diff_s",
}
_MART_TASKS = ("marts.supplier_performance", "marts.product_performance", "marts.customer_sales_report")
_MOVEMENT = (
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "exchanges",
    "executor_cpu_s",
    "gc_s",
    "python_stages",
    "python_stage_s",
    "input_bytes",
    "output_bytes",
    "ungrouped_jobs",
)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _inclusive(spans: list[dict]) -> dict[int, dict]:
    """Counters of each span plus all its descendants."""
    inc = {s["id"]: dict(s.get("self") or dict.fromkeys(COUNTERS, 0)) for s in spans}
    for s in reversed(spans):  # children always follow their parent
        if s["parent"] is not None:
            for k, v in inc[s["id"]].items():
                inc[s["parent"]][k] += v
    return inc


def per_layer(wl, tracer, steps: list[float], cores: int) -> dict[str, float]:
    spans = tracer.spans
    n = len(steps)
    inc = _inclusive(spans)
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + _dur(s)

    out = dict.fromkeys(PER_LAYER, 0.0)
    # phase spans never nest: each is a leaf call into one layer
    phase = {"build": "driver.build_s", "plan": "catalyst.plan_s", "action": "exec.action_s"}
    for s in spans:
        if s["kind"]:
            out[phase[s["kind"]]] += _dur(s)
            if s["kind"] == "build":
                out["driver.build_jobs"] += inc[s["id"]]["jobs"]
            elif s["kind"] == "action":
                for k in ("jobs", "stages", "tasks"):
                    out[f"exec.{k}"] += inc[s["id"]][k]
        for k in _MOVEMENT:
            out[f"exec.{k}"] += s["self"][k]
        out["exec.core_busy_ratio"] += s["self"]["executor_run_s"]
        name = s["name"]
        if name in _LAYER_TIMES:
            out[_LAYER_TIMES[name]] += _dur(s)
        if name in ("sinks.write_legacy", "sinks.read_legacy") and s.get("table") == "sales":
            out["sinks.sales_history_s"] += _dur(s)
        if name == "validators.check":
            out["validators.jobs"] += inc[s["id"]]["jobs"]
        elif name in _MART_TASKS:
            out["marts.input_bytes"] += inc[s["id"]]["input_bytes"]
        elif name == "core.run_pipeline":
            out["core.pipeline_overhead_s"] += _dur(s) - child_s.get(s["id"], 0.0)
        elif name == "step":
            out["trace.uncovered_s"] += _dur(s) - child_s.get(s["id"], 0.0)
        elif name.startswith("catalog.") and name.endswith(".build"):
            row = name[len("catalog."):-len(".build")]
            if f"catalog.{row}.build_s" in out:
                out[f"catalog.{row}.build_s"] += _dur(s)
                out[f"catalog.{row}.build_jobs"] += inc[s["id"]]["jobs"]
    out["exec.core_busy_ratio"] /= sum(steps) * cores
    for k, v in wl.extra.items():
        out[k] += v
    out["spark.persisted_rdds_leaked"] = wl.leaked
    out["trace.overhead_s"] = tracer.overhead_s
    values = {k: v / n for k, v in out.items()}
    values["exec.core_busy_ratio"] = out["exec.core_busy_ratio"]
    values["trace.step_s"] = statistics.median(steps)
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return values
