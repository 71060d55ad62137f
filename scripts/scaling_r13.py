#!/usr/bin/env python
"""8x scale checks for the r13-born graded entries (SCALING.md
protocol):

- emb_sq8_ivf_topk (IVF x SQ8 composed search at the GRADED params:
  16 seed-centroid lists, n_probe=10, rerank=64): build + probed
  search wall and — the r12 verdict's ask — RECALL at 8x. The r13
  sweep showed recall is n_probe-limited (SQ8's 8-bit ADC orders
  nearly exactly; rerank 32 vs 128 identical), so the graded probe
  setting must hold its >= 0.8 floor as the corpus grows. Also
  records the rerank=None auto path (the PQ-style probed-corpus-
  scaled budget) to document the resolved budget and its recall.
- doc_neardup_stream (streaming near-dup ingest loop): the FULL
  3-batch stream (file source, pinned mtimes, maxFilesPerTrigger=1)
  over a 1x vs 8x corpus. Expectation: wall grows ~linearly with the
  corpus (batch signatures are linear, the collision join is
  candidate-bounded, per-batch caches release), never super-linearly.

Embeddings replicate by dimension-rolled copies (scaling_ann
protocol); documents by token-tagging (containment protocol: copies
cannot cross-collide, so each copy contributes exactly its own
within-copy near-dup pairs — pair output grows ~8x by construction,
the honest full-ingest shape). Warm + best-of-3 with cache cleared
per run for the embedding rows; the stream rows are single runs (a
checkpointed stream cannot re-run, and startup overhead is identical
on both sides). Usage: python scripts/scaling_r13.py [sf_dir]
(default sf0.1). Prints one JSON line for SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from sahithi_metamorph_etl_spark.core.session import get_spark  # noqa: E402
from sahithi_metamorph_etl_spark.llm.similarity import (  # noqa: E402
    ann_recall_summary,
    cosine_topk_bruteforce,
    pq_build_index,
    pq_search,
    sq8_build_index,
    sq8_search,
)
from sahithi_metamorph_etl_spark.queries.llm_q import _seed_unit_vectors  # noqa: E402
from sahithi_metamorph_etl_spark.streaming.neardup import (  # noqa: E402
    neardup_ingest_stream,
)
from scaling_ann import replicate_8x, tag_tokens  # noqa: E402

_SPARK = None
_WORK = None


def timed_best(fn, n=3):
    best = None
    for _ in range(n):
        _SPARK.catalog.clearCache()
        t0 = time.time()
        fn()
        el = round(time.time() - t0, 3)
        best = el if best is None else min(best, el)
    _SPARK.catalog.clearCache()
    return best


def sq8_ivf_surface(spark, emb, res: dict, tag: str) -> None:
    qf = F.col("vec_id") < 100
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)
    idx = os.path.join(_WORK, f"sq8_ivf_idx_{tag}")
    cents = _seed_unit_vectors(emb, 16)
    res[f"sq8_ivf_build_sec_{tag}"] = timed_best(
        lambda: sq8_build_index(emb, idx, n_lists=16, centroids=cents)
    )

    def probed():
        sq8_search(
            emb.sparkSession, idx, emb.filter(qf), emb,
            k=5, rerank=64, n_probe=10,
        ).write.format("noop").mode("overwrite").save()

    res[f"sq8_ivf_search_sec_{tag}"] = timed_best(probed)
    res[f"sq8_ivf_recall_{tag}"] = float(
        ann_recall_summary(
            exact,
            sq8_search(emb.sparkSession, idx, emb.filter(qf), emb,
                       k=5, rerank=64, n_probe=10),
            recall_floor=0.8,
        ).collect()[0]["recall"]
    )
    # the auto budget (rerank=None): resolved from the probed codes
    # count, recorded with its recall — documents that the corpus-scaled
    # budget composes with list pruning without changing the answer
    # quality on this corpus (the sweep's rerank-insensitivity finding)
    import math

    n_probed_est = spark.read.parquet(f"{idx}/codes").count()
    res[f"sq8_ivf_auto_budget_{tag}"] = max(
        64, min(math.ceil(n_probed_est / 16), 8192)
    )
    res[f"sq8_ivf_auto_recall_{tag}"] = float(
        ann_recall_summary(
            exact,
            sq8_search(emb.sparkSession, idx, emb.filter(qf), emb,
                       k=5, rerank=None, n_probe=10),
            recall_floor=0.8,
        ).collect()[0]["recall"]
    )

    # IVFPQ (r13 operator, graded entry budgeted for r14): m=8 bytes
    # per held vector, coarse-list partition pruning, rerank=None =
    # the corpus-scaled budget PQ genuinely needs
    import numpy as np

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(32).collect()
    u = np.array([r[1] for r in rows], dtype=np.float64)
    u = u / np.maximum(np.linalg.norm(u, axis=1, keepdims=True), 1e-12)
    books = np.stack([u[:, j * 8:(j + 1) * 8] for j in range(8)])
    pidx = os.path.join(_WORK, f"pq_ivf_idx_{tag}")
    res[f"pq_ivf_build_sec_{tag}"] = timed_best(
        lambda: pq_build_index(emb, pidx, m=8, ksub=32, books=books,
                               n_lists=16, centroids=cents)
    )

    def pq_probed():
        pq_search(
            emb.sparkSession, pidx, emb.filter(qf), emb,
            k=5, rerank=None, n_probe=10,
        ).write.format("noop").mode("overwrite").save()

    res[f"pq_ivf_search_sec_{tag}"] = timed_best(pq_probed)
    res[f"pq_ivf_recall_{tag}"] = float(
        ann_recall_summary(
            exact,
            pq_search(emb.sparkSession, pidx, emb.filter(qf), emb,
                      k=5, rerank=None, n_probe=10),
            recall_floor=0.0,
        ).collect()[0]["recall"]
    )


def stream_surface(spark, docs, res: dict, tag: str) -> None:
    work = os.path.join(_WORK, f"stream_{tag}")
    watch = os.path.join(work, "incoming")
    os.makedirs(watch)
    base = time.time() - 3600
    for b in range(3):
        stage = os.path.join(work, f"stage{b}")
        # batch on the ORIGINAL id (tag_tokens offsets ids by 1M per
        # copy and 1M % 3 = 1, which would rotate each copy's batch
        # split and change which twin of a near-dup pair is "later");
        # the %-1M unwrap keeps every copy's split identical so the 8x
        # drop count is exactly 8x the 1x count
        (
            docs.filter((F.col("doc_id") % 1_000_000) % 3 == b)
            .coalesce(1).write.mode("overwrite").parquet(stage)
        )
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(watch, f"batch{b}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (base + b * 60, base + b * 60))
    corpus = os.path.join(work, "corpus")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    t0 = time.time()
    q = neardup_ingest_stream(
        stream, corpus, os.path.join(work, "store"), os.path.join(work, "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    res[f"neardup_stream_sec_{tag}"] = round(time.time() - t0, 3)
    n_in = docs.count()
    n_kept = spark.read.parquet(corpus).count()
    res[f"neardup_stream_docs_{tag}"] = n_in
    res[f"neardup_stream_kept_{tag}"] = n_kept
    res[f"neardup_stream_dropped_{tag}"] = n_in - n_kept


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scaling_r13")
    global _SPARK, _WORK
    _SPARK = spark
    work = tempfile.mkdtemp(prefix="scaling_r13_")
    _WORK = work
    res: dict = {"sf_dir": sf_dir}
    try:
        emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path8 = replicate_8x(spark, sf_dir, work)
        emb8 = spark.read.parquet(path8)
        res["n_vectors_x1"] = emb1.count()
        res["n_vectors_x8"] = emb8.count()
        sq8_ivf_surface(spark, emb1, res, "warm")  # codegen/python warmup
        sq8_ivf_surface(spark, emb1, res, "x1")
        sq8_ivf_surface(spark, emb8, res, "x8")
        for k in [k for k in res if k.endswith("_warm")]:
            del res[k]

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        big = tag_tokens(docs, 0)
        for i in range(1, 8):
            big = big.unionByName(tag_tokens(docs, i))
        p1 = os.path.join(work, "docs_1x")
        p8 = os.path.join(work, "docs_8x")
        tag_tokens(docs, 0).repartition(8).write.mode("overwrite").parquet(p1)
        big.repartition(32).write.mode("overwrite").parquet(p8)
        stream_surface(spark, spark.read.parquet(p1), res, "x1")
        stream_surface(spark, spark.read.parquet(p8), res, "x8")
        # copies cannot cross-collide, so per-copy drops replicate: the
        # 8x drop count must be exactly 8x the 1x drop count
        assert (
            res["neardup_stream_dropped_x8"]
            == 8 * res["neardup_stream_dropped_x1"]
        ), res

        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
