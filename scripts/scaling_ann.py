#!/usr/bin/env python
"""8x scale-up check for the embedding/ANN surface (SCALING.md
protocol): replicate `embeddings` 8x with shifted vec_id, write as 32
parquet files, and compare wall time at 1x vs 8x for

- ivf_build_index (the partitioned physical layout write),
- ivf_search     (probe pruning should keep this NEAR-FLAT: the scan
                  opens only the probed list directories, and the
                  probed fraction of files, not the corpus size, is
                  what the search pays for),
- lsh_near_dup_pairs (banded hyperplane LSH: sub-quadratic, so wall
                  time may grow with pair density but never all-pairs).

Also records a files-READ check for ivf_search: the number of parquet
files under the probed list directories vs the total in the index —
the pruned scan can touch at most the former. Run AFTER any benchmark
finishes (a concurrent bench skews timings).

Usage: python scripts/scaling_ann.py [sf_dir]  (default sf0.1)
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sahithi_metamorph_etl_spark.core.session import get_spark  # noqa: E402
from sahithi_metamorph_etl_spark.llm.similarity import (  # noqa: E402
    ivf_build_index,
    ivf_search,
    lsh_near_dup_pairs,
    pq_topk,
)


def replicate_8x(spark, sf_dir: str, out_dir: str) -> str:
    """8 copies with per-copy DIMENSION ROTATION (roll by i): preserves
    every within-copy pairwise similarity (the workload shape) while
    decorrelating copies from each other — verbatim replication would
    plant an 8-clique of exact duplicates per vector and near-dup pair
    OUTPUT would grow ~64x, which is a duplicate-explosion artifact of
    the protocol, not a property of the operator (same reason the
    documents 8x run excludes near-dup ops)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    copies = []
    for i in range(8):
        rolled = (
            F.col("embedding")
            if i == 0
            else F.concat(
                F.slice(F.col("embedding"), i + 1, dim - i),
                F.slice(F.col("embedding"), 1, i),
            )
        )
        copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                rolled.alias("embedding"),
                "label",
            )
        )
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    path = os.path.join(out_dir, "embeddings_8x")
    big.repartition(32).write.mode("overwrite").parquet(path)
    print(f"replicated {n} -> {n * 8} vectors (dim-rolled copies), 32 files", file=sys.stderr)
    return path


def tag_tokens(docs, i: int):
    """Copy ``i`` of the documents for a token-tagged scale ladder
    (SCALING.md): every whitespace token is suffixed with ``@i`` and
    ids shift by ``i`` million, so within-copy shingles survive (pair
    output grows exactly k-fold) while cross-copy shingles never
    collide. JVM-only transform."""
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    tagged = F.array_join(
        F.transform(toks, lambda t: F.concat(t, F.lit(f"@{i}"))), " "
    )
    return docs.select(
        (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
        tagged.alias("text"),
    )


def timed(fn):
    t0 = time.time()
    out = fn()
    return out, round(time.time() - t0, 3)


def run_surface(spark, emb, tag: str, work: str) -> dict:
    res: dict = {}
    idx = os.path.join(work, f"ivf_{tag}")

    _, res["ivf_build_sec"] = timed(lambda: ivf_build_index(emb, idx, n_lists=32))

    # a small query batch over 32 lists: the probe union must stay a
    # FRACTION of the lists or there is nothing to prune
    queries = emb.filter(F.col("vec_id") < 10)
    total_files = len(glob.glob(f"{idx}/lists/list_id=*/*.parquet"))

    def search():
        out = ivf_search(spark, idx, queries, k=5, n_probe=2)
        out.write.format("noop").mode("overwrite").save()
        return out

    _, res["ivf_search_sec"] = timed(search)
    # files-read bound: the pruned scan can open at most the files under
    # the probed list dirs. Re-derive the probe union EXACTLY the way
    # ivf_search does (per-query top-n_probe centroid lists, unioned).
    # n_probe=2 matches the timed search call above.
    import numpy as np

    cent_rows = spark.read.parquet(f"{idx}/centroids").collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])))
    for r in cent_rows:
        cents[r["list_id"]] = r["centroid"]
    qm = np.array(
        [r["embedding"] for r in queries.select("embedding").collect()], dtype=np.float64
    )
    qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    probes = np.argsort(-(qm @ cents.T), axis=1)[:, :2]
    probed = sorted({int(p) for row in probes for p in row})
    probed_files = sum(
        len(glob.glob(f"{idx}/lists/list_id={p}/*.parquet")) for p in probed
    )
    res["ivf_files_total"] = total_files
    res["ivf_files_probed_max"] = probed_files

    def lsh():
        lsh_near_dup_pairs(emb, threshold=0.4).write.format("noop").mode("overwrite").save()

    _, res["lsh_near_dup_sec"] = timed(lsh)

    # production parameterization: high threshold + many planes/band
    # (buckets shrink ~2^-planes, so within-bucket exact scoring stays
    # sub-quadratic). The catalog default (t=0.4, 2 planes/band) keeps
    # buckets at n/4 BY DESIGN — recall at a low threshold demands it —
    # and grows quadratically with corpus size; that regime's cost is
    # the dense pair graph itself, not the algorithm.
    def lsh_prod():
        lsh_near_dup_pairs(
            emb, threshold=0.9, n_bands=32, band_planes=12
        ).write.format("noop").mode("overwrite").save()

    _, res["lsh_prod_sec"] = timed(lsh_prod)

    # PQ ADC: linear scan over 1-byte-per-subspace codes + bounded exact
    # re-rank — wall time should scale ~linearly with corpus size (it is
    # the memory footprint, 32x smaller, that PQ buys, not sub-linear
    # scan time; IVF provides that and composes with PQ in production)
    def pq():
        pq_topk(
            emb, k=5, ksub=32, rerank=128, query_filter=F.col("vec_id") < 10
        ).write.format("noop").mode("overwrite").save()

    _, res["pq_topk_sec"] = timed(pq)

    # --- hash-graded catalog paths (r10): the driver grades the SEEDED
    # variants (centroids= / books= from the lowest-id unit vectors) and
    # the multi-probe LSH parameter — measure exactly those, with recall
    # against brute force, so the scale evidence matches what is graded.
    from sahithi_metamorph_etl_spark.llm.similarity import (
        ann_recall_summary,
        cosine_topk_bruteforce,
        hyperplane_lsh_topk,
    )
    from sahithi_metamorph_etl_spark.queries.llm_q import _seed_unit_vectors

    qf = F.col("vec_id") < 100
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)

    def recall_of(ann) -> float:
        return float(
            ann_recall_summary(exact, ann, recall_floor=0.0).collect()[0]["recall"]
        )

    sidx = os.path.join(work, f"ivf_seed_{tag}")

    def seeded_build():
        ivf_build_index(emb, sidx, n_lists=16, centroids=_seed_unit_vectors(emb, 16))

    _, res["ivf_seeded_build_sec"] = timed(seeded_build)

    def seeded_search():
        out = ivf_search(spark, sidx, emb.filter(qf), k=5, n_probe=4)
        out.write.format("noop").mode("overwrite").save()

    _, res["ivf_seeded_search_sec"] = timed(seeded_search)
    res["ivf_seeded_recall"] = recall_of(
        ivf_search(spark, sidx, emb.filter(qf), k=5, n_probe=4)
    )

    u = _seed_unit_vectors(emb, 32)
    books = [u[:, j * 8:(j + 1) * 8] for j in range(8)]

    def seeded_pq():
        pq_topk(
            emb, k=5, ksub=32, rerank=128, query_filter=qf, books=books
        ).write.format("noop").mode("overwrite").save()

    _, res["pq_seeded_sec"] = timed(seeded_pq)
    res["pq_seeded_recall"] = recall_of(
        pq_topk(emb, k=5, ksub=32, rerank=128, query_filter=qf, books=books)
    )

    # r11: the auto-scaled default budget (rerank=None => max(128,
    # ceil(n/16))) — the fix for the r10 finding that a PINNED 128
    # lost recall 0.742 -> 0.502 at 8x. Expectation: recall holds at
    # 8x at near-flat wall (the ADC scan still dominates; the exact
    # re-rank stays 1/16 of the corpus per query).
    def auto_pq():
        pq_topk(
            emb, k=5, ksub=32, query_filter=qf, books=books
        ).write.format("noop").mode("overwrite").save()

    _, res["pq_auto_sec"] = timed(auto_pq)
    res["pq_auto_recall"] = recall_of(
        pq_topk(emb, k=5, ksub=32, query_filter=qf, books=books)
    )

    for n_probes in (1, 3):
        def mp():
            hyperplane_lsh_topk(
                emb, k=5, n_planes=4, query_filter=qf, n_probes=n_probes
            ).write.format("noop").mode("overwrite").save()

        _, res[f"lsh_topk_p{n_probes}_sec"] = timed(mp)
        res[f"lsh_topk_p{n_probes}_recall"] = recall_of(
            hyperplane_lsh_topk(
                emb, k=5, n_planes=4, query_filter=qf, n_probes=n_probes
            )
        )
    return res


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scaling_ann")
    work = tempfile.mkdtemp(prefix="scaling_ann_")
    try:
        emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path8 = replicate_8x(spark, sf_dir, work)
        emb8 = spark.read.parquet(path8)

        # warmup (codegen, python workers)
        run_surface(spark, emb1, "warm", work)
        spark.catalog.clearCache()

        r1 = run_surface(spark, emb1, "x1", work)
        spark.catalog.clearCache()
        r8 = run_surface(spark, emb8, "x8", work)

        print(json.dumps({"sf_dir": sf_dir, "x1": r1, "x8": r8}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
