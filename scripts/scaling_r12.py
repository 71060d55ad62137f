#!/usr/bin/env python
"""8x scale checks for the r12-born operators (SCALING.md protocol):

- sq8_topk: int8 scalar-quantized scan + exact re-rank. Expectation:
  ~linear scan wall (like PQ, what SQ8 buys is the 8x bandwidth cut,
  not sub-linear time) with recall HOLDING at 8x (8-bit reconstruction
  keeps the candidate ordering near-exact, so the fixed rerank=32
  budget does not decay the way PQ's coarse ADC did).
- kmeans_parallel_init: k-means|| seeding. Expectation: ~linear in the
  corpus (a fixed number of assign passes + tiny aggregates),
  INDEPENDENT of k — the whole point vs k sequential k-means++ passes.
- neardup_against_seen: steady-state incremental near-dup — a FIXED
  incoming batch against a 1x-vs-8x persisted band store. Expectation:
  sub-linear growth (the batch side — signatures and the exact verify
  — is constant driver work; the one store scan grows with the store,
  and the corpus lookup reads colliding docs only) with IDENTICAL
  verified pairs at both scales (the batch's twins live in copy 0;
  token-tagged copies can never cross-collide). The call returns a
  local frame, so the timed ``noop`` write measures the decision.

Embeddings replicate by dimension-rolled copies (scaling_ann protocol:
preserves within-copy similarity, decorrelates copies); documents by
token-tagging (containment protocol). Warm + best-of-3 with cache
cleared per run. Usage: python scripts/scaling_r12.py [sf_dir]
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

from pyspark.sql import functions as F  # noqa: E402

from sahithi_metamorph_etl_spark.core.session import get_spark  # noqa: E402
from sahithi_metamorph_etl_spark.llm.clustering import kmeans_parallel_init  # noqa: E402
from sahithi_metamorph_etl_spark.llm.dedup import (  # noqa: E402
    band_signature_store,
    neardup_against_seen,
)
from sahithi_metamorph_etl_spark.llm.similarity import (  # noqa: E402
    ann_recall_summary,
    cosine_topk_bruteforce,
    sq8_build_index,
    sq8_search,
    sq8_topk,
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


def emb_surface(spark, emb, res: dict, tag: str) -> None:
    qf = F.col("vec_id") < 100
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)

    def sq8():
        sq8_topk(emb, k=5, rerank=32, query_filter=qf).write.format(
            "noop"
        ).mode("overwrite").save()

    res[f"sq8_topk_sec_{tag}"] = timed_best(sq8)
    res[f"sq8_recall_{tag}"] = float(
        ann_recall_summary(
            exact, sq8_topk(emb, k=5, rerank=32, query_filter=qf),
            recall_floor=0.0,
        ).collect()[0]["recall"]
    )

    def kmpp():
        kmeans_parallel_init(emb, k=8, rounds=2, oversample=16, seed=42)

    res[f"kmeans_pp_init_sec_{tag}"] = timed_best(kmpp)

    # the physical layout: one-time encode vs per-query byte scan
    idx = os.path.join(_WORK, f"sq8_idx_{tag}")
    res[f"sq8_build_sec_{tag}"] = timed_best(lambda: sq8_build_index(emb, idx))

    def search():
        sq8_search(
            emb.sparkSession, idx, emb.filter(qf), emb, k=5, rerank=32
        ).write.format("noop").mode("overwrite").save()

    res[f"sq8_search_sec_{tag}"] = timed_best(search)

    # IVF x SQ8: probed search reads n_probe/n_lists of the files at
    # an eighth of the width — both pruning axes at once
    idx2 = os.path.join(_WORK, f"sq8_ivf_idx_{tag}")
    res[f"sq8_ivf_build_sec_{tag}"] = timed_best(
        lambda: sq8_build_index(emb, idx2, n_lists=32)
    )

    def probed():
        sq8_search(
            emb.sparkSession, idx2, emb.filter(qf), emb,
            k=5, rerank=32, n_probe=4,
        ).write.format("noop").mode("overwrite").save()

    res[f"sq8_ivf_search_sec_{tag}"] = timed_best(probed)
    res[f"sq8_ivf_recall_{tag}"] = float(
        ann_recall_summary(
            exact,
            sq8_search(emb.sparkSession, idx2, emb.filter(qf), emb,
                       k=5, rerank=32, n_probe=4),
            recall_floor=0.0,
        ).collect()[0]["recall"]
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scaling_r12")
    global _SPARK, _WORK
    _SPARK = spark
    work = tempfile.mkdtemp(prefix="scaling_r12_")
    _WORK = work
    res: dict = {"sf_dir": sf_dir}
    try:
        # --- embeddings: sq8 + kmeans|| ---------------------------------
        emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path8 = replicate_8x(spark, sf_dir, work)
        emb8 = spark.read.parquet(path8)
        res["n_vectors_x1"] = emb1.count()
        res["n_vectors_x8"] = emb8.count()
        emb_surface(spark, emb1, res, "warm")  # codegen/python warmup
        emb_surface(spark, emb1, res, "x1")
        emb_surface(spark, emb8, res, "x8")
        for k in [k for k in res if k.endswith("_warm")]:
            del res[k]

        # --- documents: steady-state incremental near-dup ----------------
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        big = tag_tokens(docs, 0)
        for i in range(1, 8):
            big = big.unionByName(tag_tokens(docs, i))
        p1 = os.path.join(work, "docs_1x")
        p8 = os.path.join(work, "docs_8x")
        tag_tokens(docs, 0).repartition(32).write.mode("overwrite").parquet(p1)
        big.repartition(32).write.mode("overwrite").parquet(p8)
        # fixed incoming batch: the first 250 copy-0 docs — their only
        # near-dup twins live in copy 0, so verified pairs are equal at
        # both scales and growth isolates store-side cost
        batch = tag_tokens(docs, 0).filter(F.col("doc_id") < 250)
        for tag, path in (("x1", p1), ("x8", p8)):
            old = spark.read.parquet(path)
            store_path = os.path.join(work, f"store_{tag}")
            band_signature_store(old).write.mode("overwrite").parquet(store_path)
            store = spark.read.parquet(store_path)

            def detect():
                neardup_against_seen(batch, store, old).write.format(
                    "noop"
                ).mode("overwrite").save()

            if tag == "x1":
                detect()  # warmup once on the small side
            res[f"neardup_incr_sec_{tag}"] = timed_best(detect)
            res[f"neardup_pairs_{tag}"] = neardup_against_seen(
                batch, store, old
            ).count()
        assert res["neardup_pairs_x1"] == res["neardup_pairs_x8"], res

        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
