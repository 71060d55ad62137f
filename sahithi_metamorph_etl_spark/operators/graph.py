"""Distributed connected components (hash-min label propagation).

The missing last step of every near-dup pipeline: pair lists
(`jaccard_pairs`, `minhash_lsh_pairs`, `simhash_pairs`,
`lsh_near_dup_pairs`) say "a duplicates b", but deduplication needs
GROUPS — transitively closed clusters with one keeper each (a~b, b~c
⇒ keep one of {a,b,c}). The reference has no graph surface; this is a
capability extension in the spirit of its exact-dedup Q1 gate.

Algorithm: hash-min label propagation (the standard MapReduce CC — see
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14, whose small-star/large-star variant this simplifies). Every
vertex starts labeled with itself; each round every vertex takes the
min label among itself and its neighbors; converged when no label
changes. Rounds = graph diameter — near-dup clusters are shallow
(dozens of docs, diameter ≤ ~3), so 3-5 rounds in practice.

Scale shape per round: one join (edges ⋈ labels, shuffle on vertex
id) + one min-aggregate — both on |edges| and |vertices| of the PAIR
graph, which is tiny relative to the corpus (only docs that have a
near-dup at all). The convergence check is one count action per round
— driver-controlled iteration is inherent to iterative algorithms on
Spark (same structure GraphX/Pregel uses); each round's labels are
persisted and the previous round's unpersisted, so lineage stays one
round deep instead of growing unboundedly.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.frames import local_frame


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(vertex, component) for every vertex in ``pairs``; component id =
    the minimum vertex id reachable from it. Raises if not converged
    within ``max_iter`` rounds (diameter > max_iter — raise it for
    pathological chain graphs).

    Adaptive strategy (the broadcast-join move, applied to graphs): the
    pair graph is usually TINY relative to the corpus — only docs with
    a near-dup at all — so when it has <= ``local_threshold`` PAIRS it
    is collected (bounded by the threshold, ~16 bytes/pair) and solved
    with a driver-side union-find in one pass, avoiding per-round
    join+action overhead. Larger graphs run the distributed hash-min
    loop. ``local_threshold=0`` forces the distributed path.

    The local probe collects the RAW pair list (union-find is
    undirected by construction, so the doubled/distinct edge frame —
    and its shuffle — is built only if the distributed loop actually
    runs; same for the edge persist, which would otherwise write cache
    blocks just to be dropped after one collect)."""
    a = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))

    # single bounded action: collect at most threshold+1 pairs. If the
    # cap row shows up the graph is "large" and we fall through to the
    # distributed loop; otherwise the rows in hand ARE the whole pair
    # list — no second collect pass.
    rows = a.limit(local_threshold + 1).collect() if local_threshold else None
    if rows is not None and len(rows) <= local_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in rows:
            parent.setdefault(r.src, r.src)
            parent.setdefault(r.dst, r.dst)
            ra, rb = find(r.src), find(r.dst)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for v in parent:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        out = [(v, comp_min[find(v)]) for v in parent]
        schema = pairs.select(
            F.col(src_col).alias("vertex"), F.col(src_col).alias("component")
        ).schema
        return local_frame(pairs.sparkSession, out, schema)

    # distributed path: undirected edge frame (each edge both ways),
    # deduped and persisted — consumed once per hash-min round
    edges = a.unionByName(
        a.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)

    labels = (
        edges.select(F.col("src").alias("vertex")).distinct()
        .withColumn("component", F.col("vertex"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    for _ in range(max_iter):
        # neighbor-min pass: vertex <- min(own label, neighbors' labels)
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.vertex, "inner")
            .select(F.col("src").alias("vertex"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vertex")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds max_iter; raise it"
    )


def dedup_clusters(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Near-dup pair list → (doc_id, cluster_id, keeper) where
    cluster_id is the minimum doc id in the transitive cluster and
    keeper marks the one row per cluster to retain (the policy the
    reference's exact-dedup keeper rule uses: keep min id)."""
    cc = connected_components(pairs, src_col, dst_col)
    return cc.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("vertex") == F.col("component")).alias("keeper"),
    )


def prune_near_dups(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply near-dup cluster labels to the FULL corpus: every document
    gets (id, cluster_id, kept) — clustered docs keep only their
    cluster's keeper, documents in no near-dup pair keep themselves
    (cluster_id = own id, kept = true). ``docs.filter(kept)`` is the
    deduplicated corpus.

    Scale: ``clusters`` holds only documents that appear in >= 1
    near-dup pair — usually a small fraction of the corpus — so the
    left join is corpus ⋈ (pair-graph-sized) on the id key; AQE
    broadcasts it when it fits, otherwise it is the one id-keyed
    shuffle the semantics require."""
    labels = clusters.select(
        F.col("doc_id").alias(id_col), "cluster_id", "keeper"
    )
    return docs.select(id_col).join(labels, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        F.coalesce(F.col("keeper"), F.lit(True)).alias("kept"),
    )
