#!/usr/bin/env python
"""Dump explain('formatted') for named catalog queries to
plans/<suffix>/<query>.txt (suffix = argv[1], e.g. 'r23_before').

Usage: python scripts/dump_plans.py SUFFIX q1 q2 ...

Entries that localize a result (core.frames.localize) or run a stream
in fn() execute work at build time; their dumped plan is the RESULT's
plan, noted in the header — job-trace evidence for those comes from
scripts/profile_jobs.py instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sahithi_metamorph_etl_spark.core.session import get_spark  # noqa: E402
from sahithi_metamorph_etl_spark.queries.catalog import all_queries  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", suffix)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(f"-- {name} ({suffix}) explain('formatted') at {sf_dir}\n")
            f.write(plan)
        print(name, "ok")


if __name__ == "__main__":
    main()
