#!/usr/bin/env python
"""Per-query Spark JOB breakdown of catalog rows.

bench.py gives one wall-clock number per query; at sf0.1 the data is
tiny (11 MB lineitem, 5k docs/vectors), so a slow row is almost never
"compute" — it is the NUMBER of sequential driver actions (collect /
write / count jobs) times the per-job floor, plus Python worker spins.
This tool attributes each query's wall time to its individual Spark
jobs so the optimization target (guide §1.2 step 1: remove passes)
is visible per query.

Usage:
  python scripts/profile_jobs.py QUERY [QUERY...]   # profile named rows
  python scripts/profile_jobs.py --top              # the r20 top-20 rows

Prints, per query: total wall s, job count, and each job's
(duration, description) sorted by duration; plus the dead time not
inside any Spark job (pure driver/Python work: eventlog parse side).
One JSON line per query on stdout; human summary on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sahithi_metamorph_etl_spark.core.session import get_spark  # noqa: E402
from sahithi_metamorph_etl_spark.queries.catalog import all_queries  # noqa: E402

R20_TOP = [
    "doc_neardup_stream", "mart_customer_sales_report", "emb_sq8_ivf_topk",
    "emb_pq_ivf_topk", "emb_rp_rerank_topk", "doc_bpe_tokenize",
    "emb_ivf_kmeans_topk", "corpus_dedup_report", "doc_dedup_clusters",
    "doc_containment_pairs", "doc_neardup_incremental",
    "doc_minhash_lsh_pairs", "mart_supplier_performance",
    "doc_jaccard_pairs", "emb_kmeans_pp_init", "multimodal_gif_frames",
    "emb_sq8_topk", "doc_passage_dups", "orders_zorder_pruning",
    "emb_lsh_mp_topk",
]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    names = R20_TOP if "--top" in sys.argv else args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import tempfile

    evdir = tempfile.mkdtemp(prefix="spark_events_")
    spark = get_spark(
        app_name="profile_jobs",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    qs = all_queries()

    results = []
    for name in names:
        fn = qs[name]
        # warmup (bench methodology: codegen/python workers/page cache)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        # group id only, NO description: a set description would shadow
        # the per-action callsite in both job and SQLExecutionStart
        # events, which is exactly what we want to read
        sc.setLocalProperty("spark.jobGroup.id", name)
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        w1 = time.time() * 1000.0
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
        results.append((name, wall, w0, w1))

    # force the event log to flush by stopping the app
    app_id = sc.applicationId
    spark.stop()

    import glob

    cands = glob.glob(os.path.join(evdir, app_id)) or glob.glob(
        os.path.join(evdir, f"eventlog_v2_{app_id}", "events_*")
    )
    jobs = {}  # job_id -> dict
    execs = {}  # sql execution id -> description (call site)
    lines = []
    for evfile in cands:
        with open(evfile) as f:
            lines.extend(f)
    if True:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "desc": (props.get("spark.job.description") or "")[:120],
                    "exec_id": props.get("spark.sql.execution.id"),
                    "t0": ev["Submission Time"],
                    "n_stages": len(ev.get("Stage Infos", [])),
                }
            elif e and "SQLExecutionStart" in e:
                execs[str(ev.get("executionId"))] = (
                    ev.get("description") or ""
                ).replace("\n", " ")[:140]
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["t1"] = ev["Completion Time"]

    for name, wall, w0, w1 in results:
        # attribute by WALL WINDOW, not job group: streaming foreachBatch
        # jobs and some AQE broadcast jobs run on other threads and do
        # not inherit the group
        js = [
            (
                round((j["t1"] - j["t0"]) / 1000.0, 3),
                jid,
                j["n_stages"],
                execs.get(j.get("exec_id"), j["desc"]),
            )
            for jid, j in sorted(jobs.items())
            if "t1" in j and j["t0"] >= w0 - 50 and j["t0"] <= w1 + 50
        ]
        in_jobs = round(sum(d for d, *_ in js), 3)
        rec = {
            "query": name,
            "wall_sec": wall,
            "n_jobs": len(js),
            "sec_in_jobs": in_jobs,
            "sec_gaps": round(wall - in_jobs, 3),
            "jobs": [
                {"sec": d, "job": jid, "stages": ns, "desc": desc}
                for d, jid, ns, desc in sorted(js, reverse=True)
            ],
        }
        print(json.dumps(rec))
        print(
            f"{name}: wall={wall}s jobs={len(js)} in_jobs={in_jobs}s "
            f"gaps={rec['sec_gaps']}s "
            f"top_jobs={[d for d, *_ in sorted(js, reverse=True)[:8]]}",
            file=sys.stderr,
        )

    import shutil

    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
