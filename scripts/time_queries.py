#!/usr/bin/env python
"""Focused bench: time named catalog queries with bench.py's exact
methodology (warmup pass, best-of-2 timed noop saves, cache cleared per
invocation) plus the two canaries before/after, so numbers triangulate
against a bench.py run under machine-load normalization.

Usage: python scripts/time_queries.py q1 q2 ...
Prints one JSON line: {"queries": {...}, "canary_sec": [...], "canary2_sec": [...]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sahithi_metamorph_etl_spark.core.session import get_spark  # noqa: E402
from sahithi_metamorph_etl_spark.queries.catalog import all_queries  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="time_queries")
    qs = all_queries()

    from sahithi_metamorph_etl_spark.llm.clustering import kmeans_lloyd

    emb_c2 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        return el

    def canary() -> float:
        return run(qs["pricing_summary"])

    def canary2() -> float:
        t0 = time.perf_counter()
        kmeans_lloyd(emb_c2, k=16, n_iter=4).write.format("noop").mode("overwrite").save()
        el = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        return el

    # warmup
    for name in names:
        run(qs[name])
    canary2()

    c1, c2 = [canary()], [canary2()]
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in names:
            el = run(qs[name])
            timings[name] = min(timings.get(name, el), el)
        c1.append(canary())
        c2.append(canary2())

    print(json.dumps({"queries": timings, "canary_sec": c1, "canary2_sec": c2}))


if __name__ == "__main__":
    main()
