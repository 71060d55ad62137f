"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Generates the inputs
of ``NAME`` from ``N`` (reused on later runs with the same seed), starts
Spark on ``local[<cores>]``, times the set-up three times, runs the
workload's steps closed-loop for ``S`` seconds, checks the outputs and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
every call into a package layer is a span carrying Spark's job, stage
and task counters, the metrics are the per-layer ones, and the spans are
written to ``perfbench/.work/trace-<workload>-<seed>.json`` (summarise
with ``python3 perfbench/spans.py FILE``). Each run also writes its step
times to ``perfbench/.work/steps-<workload>-<seed>-trace<0|1>.json``;
``python3 perfbench/report.py`` compares traced with untraced runs.

Exits non-zero, without a result line, when the package cannot be
imported or the workload raises.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3


def _environment() -> int:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    make the package importable by Python workers."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        # every JVM, the spark-submit launcher included: temp files inside
        # WORK and no hsperfdata file under the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    )
    return cores


def _session():
    from sahithi_metamorph_etl_spark.core.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _warm(spark, paths: list[str]) -> None:
    for p in paths:
        spark.read.parquet(p).count()


def _start_python_workers(spark) -> None:
    """One Arrow stage per core, so the workload's first step does not pay
    the Python worker start-up."""
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores, numPartitions=cores).mapInPandas(lambda frames: frames, "id long").count()


def _stop_jvm(spark) -> int:
    """Stop Spark and its JVM, wait for it, and return the JVM's peak
    resident set in KiB (from the kernel's accounting of reaped
    children)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import sahithi_metamorph_etl_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    cores = _environment()
    import metrics
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)

    t0 = time.perf_counter()
    warm_paths = wl.prepare()
    gen_s = time.perf_counter() - t0

    setups = []
    spark = None
    try:
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = _session()
            _warm(spark, warm_paths)
            setups.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                spark.stop()
        _start_python_workers(spark)
        tracer = Tracer(spark, bool(args.trace))
        steps = wl.run(spark, tracer, args.seconds)
    except Exception:  # noqa: BLE001 — report, stop the JVM, exit non-zero
        traceback.print_exc()
        if spark is not None:
            _stop_jvm(spark)
        return 1
    jvm_rss_kb = _stop_jvm(spark)
    py_rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    tag = f"{args.workload}-{args.seed}"
    with open(os.path.join(WORK, f"steps-{tag}-trace{args.trace}.json"), "w") as f:
        json.dump({"steps": steps, "setups": setups, "gen_s": gen_s}, f)
    if args.trace:
        tracer.dump(os.path.join(WORK, f"trace-{tag}.json"))
        values = metrics.per_layer(wl, tracer, steps, cores)
        values["driver.peak_rss_mb"] = (jvm_rss_kb + py_rss_kb) / 1024
    else:
        values = {"setup_s": statistics.median(setups), "step_s": statistics.median(steps)}
    for f in wl.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed}: inputs {gen_s:.2f} s, set-ups {[round(s, 2) for s in setups]}, "
        f"{len(steps)} steps {[round(s, 2) for s in steps]}, checks {wl.check_s:.2f} s",
        file=sys.stderr,
    )
    units = metrics.UNITS
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
