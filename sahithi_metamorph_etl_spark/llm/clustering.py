"""Distributed seeded k-means (Lloyd) for embedding clustering —
the SemDeDup-style curation primitive (cluster the corpus, then prune
near-duplicates WITHIN each cluster so the expensive pairwise step
never crosses cluster boundaries).

Reference parity: the reference engine exposes no iterative clustering;
this is part of the demanded LLM-curation extension surface (SURVEY.md
§2 extras), completing the ANN stack (similarity.py) with an iterative
refinement step: IVF quantizes against FIXED centroids, k-means is the
operator that produces GOOD centroids.

Distributed shape per Lloyd iteration (canonical scale form — the
centroids are k x dim and live on the driver; the corpus never does):

1. E-step: one ``mapInPandas`` pass assigns each vector to the
   argmin-distance centroid (vectorized numpy against the closure's
   k x dim array — no shuffle, no join).
2. M-step: ``posexplode`` to (cluster, dim) and re-use
   :func:`..llm.embeddings.group_centroids_long`'s decimal-sum mean —
   ONE shuffle whose map-side partials collapse to k x dim rows per
   task, then a bounded k x dim driver collect for the next broadcast.

So n_iter iterations = n_iter+1 corpus scans, n_iter shuffles (each
reduced map-side to k x dim), zero corpus-sized driver traffic —
at 1000 executors the E-step is embarrassingly parallel and the
M-step's shuffle volume is tasks x k x dim, independent of corpus
size. 100 TB: yes.

Determinism (the r10 ANN hash-grade treatment): seeded init = the k
LOWEST-id vectors (ordered take, layout-independent); every distance
is rounded half-away-from-zero to ``decimals`` before compare with
ties to the lowest cluster id (so a BLAS-vs-SQL ulp cannot flip an
assignment); means go through exact decimal(38,12) sums (summation
order cannot flip a bit); empty clusters keep their previous centroid.
Every step is therefore replayable in DuckDB SQL — see
``queries.llm_q._kmeans_oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.frames import local_frame
from .embeddings import group_centroids_long
from .similarity import _nround


def _seed_centroids(emb: DataFrame, k: int, id_col: str, vec_col: str):
    """k lowest-id RAW vectors (float64) — deterministic, bounded,
    oracle-replayable (contrast similarity._seed_unit_vectors, which
    normalizes: Lloyd means are not unit vectors, so k-means runs in
    raw coordinate space throughout)."""
    import numpy as np

    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"kmeans_lloyd: need >= {k} vectors to seed, got {len(rows)}")
    return np.array([r[1] for r in rows], dtype=np.float64)


def kmeans_assign(
    emb: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 8,
    carry_vec: bool = False,
) -> DataFrame:
    """E-step: (vec_id, cluster_id, dist) — argmin rounded Euclidean
    distance to ``centroids`` (k x dim array-like), ties to the lowest
    cluster id. One Arrow-batched pass, no shuffle. ``carry_vec=True``
    also emits the vector so the M-step can explode without a join.

    Memory at large k: distances are computed per CENTROID CHUNK (256
    at a time) with a running (best_dist, best_cid), so peak extra
    memory is batch x 256 x dim instead of batch x k x dim — a
    SemDeDup-scale k (10^5 clusters) would otherwise need ~500 GB per
    10k-row Arrow batch. Chunks ascend by cid and the running best
    updates only on STRICT improvement, so the lowest-cid tie-break is
    identical to a full argmin."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    sk = decimals
    chunk = 256
    schema = f"`{id_col}` bigint, cluster_id int, dist double"
    if carry_vec:
        schema += f", `{vec_col}` array<double>"

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            best_d = np.full(len(m), np.inf)
            best_c = np.zeros(len(m), dtype=np.int64)
            for c0 in range(0, len(cents), chunk):
                cc = cents[c0 : c0 + chunk]
                # (n, |chunk|) rounded distances; within-chunk argmin
                # first-index = lowest cid of the chunk
                d = _nround(
                    np.sqrt(((m[:, None, :] - cc[None]) ** 2).sum(axis=2)), sk
                )
                ci = d.argmin(axis=1)
                dv = d[np.arange(len(m)), ci]
                upd = dv < best_d  # strict: earlier (lower) cid wins ties
                best_d[upd] = dv[upd]
                best_c[upd] = ci[upd] + c0
            out = {
                id_col: pdf[id_col].to_numpy(),
                "cluster_id": best_c.astype("int32"),
                "dist": best_d,
            }
            if carry_vec:
                out[vec_col] = list(pdf[vec_col])
            yield pd.DataFrame(out)

    return emb.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).mapInPandas(assign, schema=schema)


def kmeans_parallel_init(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    oversample: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 8,
    max_candidates: int = 4096,
    return_frame: bool = False,
):
    """k-means||-style seeded init (Bahmani et al. 2012) — the
    scale-correct alternative to both lowest-id seeding (ignores data
    geometry) and classic k-means++ (k SEQUENTIAL corpus passes: each
    pick needs the previous one). k-means|| oversamples in a FIXED
    number of rounds: each round every point enters the candidate set
    independently with probability ``l * d²(x) / Σd²`` (d = distance
    to the nearest current candidate), so far-out regions are found in
    O(rounds) passes; the final k seeds are the candidates that
    attract the most corpus points (this deterministic
    weight-ranked reduction replaces the paper's weighted recluster —
    same intent, SQL-replayable).

    Cost: ``rounds`` x (one assign pass + one exact-decimal Σd²
    aggregate + a bounded candidate collect) + one weighting pass —
    independent of k, vs k passes for sequential k-means++. The
    candidate set is ~1 + rounds*l vectors on the driver (l defaults
    to 2k), hard-capped by ``max_candidates`` with a clear error.

    Determinism (oracle hash-grade, the Lloyd treatment): the first
    candidate is the lowest-id vector; per-candidate distances round
    half-away at ``decimals`` before the min (an ulp can't flip it);
    d² re-rounds at ``decimals``; Σd² is an exact DECIMAL(38,12) sum
    (order-independent); the selection uniform derives from the
    bit-verified md5-int64 twin of ``"kmpp:{seed}:" + id`` exactly
    like DSIR's Gumbel draw, so the p-vs-u compare sees identical
    doubles in both engines; already-chosen candidates have d=0 and
    can never re-enter; candidate order is id-sorted so tie-breaks in
    the weighting pass are by candidate id. An external SQL oracle
    unrolls the rounds as CTEs.

    Returns the (k, dim) float64 seed array for ``kmeans_fit/
    kmeans_lloyd(centroids=...)``; with ``return_frame=True`` returns
    the (init_rank, vec_id, n_assigned) DataFrame instead (the graded
    catalog form).
    """
    import numpy as np

    from .dedup import _md5_64_le
    from ..functions.money import dround

    l = 2 * k if oversample is None else oversample
    first = emb.select(id_col, vec_col).orderBy(id_col).limit(1).collect()
    if not first:
        raise ValueError("kmeans_parallel_init: empty corpus")
    cand = {int(first[0][0]): np.asarray(first[0][1], dtype=np.float64)}

    u = (
        _md5_64_le(
            F.concat(F.lit(f"kmpp:{seed}:"), F.col(id_col).cast("string"))
        ).cast("double") / F.lit(18446744073709551616.0) + F.lit(0.5)
    )
    u = F.least(
        F.greatest(u, F.lit(5.421010862427522e-20)),
        F.lit(0.9999999999999999),
    )

    for _ in range(rounds):
        ids = sorted(cand)
        cents = np.array([cand[i] for i in ids], dtype=np.float64)
        assigned = kmeans_assign(
            emb, cents, id_col, vec_col, decimals, carry_vec=True
        ).withColumn("d2r", dround(F.col("dist") * F.col("dist"), decimals))
        # exact decimal sum -> one double: order-independent, so the
        # per-point threshold l*d2/total is the same double everywhere
        total = float(
            assigned.agg(
                F.sum(F.col("d2r").cast("decimal(38,12)")).cast("double")
            ).collect()[0][0]
            or 0.0
        )
        if total <= 0.0:
            # every point sits on a candidate (rounded d = 0): the set
            # already covers the corpus; selecting via u < l*0/0 would
            # be a NaN compare (which Spark orders ABOVE any double)
            break
        picked = (
            assigned.filter(u < F.lit(float(l)) * F.col("d2r") / F.lit(total))
            .select(id_col, vec_col)
            .limit(max_candidates + 1)
            .collect()
        )
        if len(cand) + len(picked) > max_candidates:
            raise ValueError(
                f"kmeans_parallel_init: candidate set would exceed "
                f"max_candidates={max_candidates}; lower oversample/rounds "
                "or raise the cap deliberately"
            )
        for r in picked:
            cand[int(r[0])] = np.asarray(r[1], dtype=np.float64)

    if len(cand) < k:
        raise ValueError(
            f"kmeans_parallel_init: only {len(cand)} candidates after "
            f"{rounds} rounds, need k={k}; raise oversample or rounds"
        )
    ids = sorted(cand)
    cents = np.array([cand[i] for i in ids], dtype=np.float64)
    weights = {
        r["cluster_id"]: r["n"]
        for r in kmeans_assign(emb, cents, id_col, vec_col, decimals)
        .groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    # zero-assignment candidates (possible when near-duplicate vectors
    # are picked in the same round) never enter the ranking: the oracle
    # ranks only candidates that appear in the assignment (kasg), so a
    # retained n_assigned=0 row would diverge row-count-wise in exactly
    # that degenerate case
    live = [ci for ci in range(len(ids)) if weights.get(ci, 0) >= 1]
    if len(live) < k:
        raise ValueError(
            f"kmeans_parallel_init: only {len(live)} candidates attract "
            f"any corpus point, need k={k}; raise oversample or rounds"
        )
    ranked = sorted(live, key=lambda ci: (-weights[ci], ids[ci]))[:k]
    if return_frame:
        rows = [
            (rank + 1, ids[ci], int(weights.get(ci, 0)))
            for rank, ci in enumerate(ranked)
        ]
        return local_frame(
            emb.sparkSession, rows, "init_rank int, vec_id bigint, n_assigned bigint"
        )
    return cents[ranked]


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 8,
    centroids=None,
):
    """Run ``n_iter`` Lloyd updates from the seeded init and return the
    final centroids as a (k, dim) float64 array. ``centroids`` overrides
    the seed init (e.g. to continue a previous fit)."""
    import numpy as np

    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _seed_centroids(emb, k, id_col, vec_col)
    )
    for _ in range(n_iter):
        assigned = kmeans_assign(
            emb, cents, id_col, vec_col, decimals, carry_vec=True
        )
        # decimal-sum means: (cluster_id, dim, mean_value, n_vectors) —
        # bounded k x dim collect feeds the next broadcast closure
        rows = group_centroids_long(
            assigned, "cluster_id", vec_col=vec_col, decimals=decimals
        ).collect()
        nxt = cents.copy()  # empty cluster: keep previous centroid
        for r in rows:
            nxt[r["cluster_id"]][r["dim"]] = r["mean_value"]
        cents = nxt
    return cents


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 8,
    centroids=None,
) -> DataFrame:
    """Seeded distributed k-means: ``n_iter`` Lloyd updates, then a
    final E-step. Returns (vec_id, cluster_id int, dist double) — the
    per-vector assignment against the refined centroids, ``dist``
    rounded to ``decimals``. Deterministic for any partition layout
    (see module docstring); an external SQL oracle can replay every
    iteration."""
    cents = kmeans_fit(emb, k, n_iter, id_col, vec_col, decimals, centroids)
    return kmeans_assign(emb, cents, id_col, vec_col, decimals)


def semdedup_prune(
    emb: DataFrame,
    threshold: float = 0.95,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 8,
    max_cluster_rows: int | None = 1_000_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cluster, then WITHIN each
    cluster drop every vector whose cosine similarity to a LOWER-id
    cluster-mate is >= ``threshold`` (the lowest id of each semantic
    group survives). Returns the surviving (vec_id,) frame.

    Scale shape: the pairwise step runs per cluster via
    ``applyInPandas`` — O(sum of cluster sizes squared), never corpus
    all-pairs; clusters bound the blocks exactly the way LSH bands do,
    but with learned (data-adaptive) boundaries. The similarity matrix
    is computed in 1024-row strips (peak extra memory 1024 x n doubles,
    not n x n), and ``max_cluster_rows`` fails fast with a clear error
    if any single cluster exceeds it — the fix is a finer k (or a
    per-cluster LSH pass), not a bigger executor.
    """
    assigned = kmeans_assign(
        emb, kmeans_fit(emb, k, n_iter, id_col, vec_col, decimals),
        id_col, vec_col, decimals, carry_vec=True,
    )

    def prune(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if max_cluster_rows is not None and n > max_cluster_rows:
            raise ValueError(
                f"semdedup_prune: cluster of {n} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; the within-cluster "
                "pairwise step is quadratic — rerun with a larger k "
                "(finer clusters) or pre-split oversized clusters."
            )
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        dup = np.zeros(n, dtype=bool)
        # strict lower triangle in 1024-row strips: row r is a dup if
        # sim to any LOWER-sorted (lower-id) row >= threshold
        strip = 1024
        for i0 in range(0, n, strip):
            i1 = min(i0 + strip, n)
            sims = _nround(m[i0:i1] @ m[:i1].T, decimals)
            below = np.arange(i1)[None, :] < np.arange(i0, i1)[:, None]
            dup[i0:i1] = ((sims >= threshold) & below).any(axis=1)
        return pd.DataFrame({id_col: pdf[id_col].to_numpy()[~dup]})

    return assigned.groupBy("cluster_id").applyInPandas(
        prune, schema=f"`{id_col}` bigint"
    )
