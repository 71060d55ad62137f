"""Johnson–Lindenstrauss random projection for embedding columns.

Dimensionality reduction is the standard pre-step for billion-vector
dedup/ANN pipelines (shrink 1024-d to 64-d, then cluster or index the
cheap column). The projection matrix is a DETERMINISTIC Rademacher
(+-1/sqrt(d')) matrix derived from md5 — Achlioptas (2001) shows the
sign matrix satisfies the JL lemma with the same distortion bound as
Gaussian entries, and a hash-derived matrix lets an external SQL
oracle regenerate it bit-for-bit (same ``md5_number_upper`` twin the
SimHash oracle uses, `queries/llm_q.py`).

Reference parity: the reference (Metamorph-ETL) has no embedding
surface at all; this extends the training-data family per SURVEY §2.

Scale design: the matrix is tiny (in_dim x out_dim doubles) and baked
into the plan as literals — ZERO shuffle, zero Python, zero broadcast;
each output dim is a deterministic left-to-right ``F.aggregate`` fold
over ``zip_with(vec, signs)``, all inside whole-stage codegen. On a
100 TB corpus the op is a pure map over the scan with only the
embedding column read (column pruning holds — verified in tests).
Multiplying by +-1 is IEEE-exact, so engine parity never rides on
float multiply order; the fold order is pinned sequential on both
sides (Spark ``aggregate`` == DuckDB ``list_reduce``).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.frames import local_frame


def _md5_low_bit(tag: str) -> int:
    """Low bit of the little-endian int64 of md5's first 8 bytes — the
    Python twin of DuckDB ``md5_number_upper(tag) & 1`` (same identity
    the SimHash signatures are bit-verified on)."""
    return hashlib.md5(tag.encode()).digest()[0] & 1


def rademacher_signs(in_dim: int, out_dim: int, seed_tag: str = "rp") -> list[list[float]]:
    """out_dim lists of in_dim +-1.0 signs; entry (i, j) is +1 iff
    ``md5(f"{seed_tag}{i}_{j}")``'s low bit is set."""
    return [
        [1.0 if _md5_low_bit(f"{seed_tag}{i}_{j}") else -1.0 for i in range(in_dim)]
        for j in range(out_dim)
    ]


def jl_random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int | None = None,
    seed_tag: str = "rp",
    decimals: int = 8,
    out_col: str = "rp",
) -> DataFrame:
    """(id, rp array<double>) — ``vec @ R / sqrt(out_dim)`` with the
    deterministic Rademacher matrix, each coordinate rounded
    half-away-from-zero to ``decimals``. ``in_dim`` is inferred from
    one row when not given (pass it explicitly in pipelines to keep
    the plan action-free)."""
    if in_dim is None:
        # skip NULL vectors: F.size(NULL) is NULL and int(None) would
        # crash; inference is layout-dependent on mixed-dim corpora —
        # pass in_dim explicitly in pipelines (also keeps this
        # plan-construction action-free)
        row = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .limit(1)
            .collect()
        )
        if not row:
            return local_frame(
                df.sparkSession, [], f"`{id_col}` bigint, `{out_col}` array<double>"
            )
        in_dim = int(row[0][0])
    signs = rademacher_signs(in_dim, out_dim, seed_tag)
    scale = math.sqrt(float(out_dim))
    # ONE parsed SQL expression instead of a Python-built literal
    # forest (r21): the old form issued ~in_dim x out_dim F.lit py4j
    # calls (2048 at 64->32 — measured ~2 s of pure driver time per
    # invocation); a single expr() string parses JVM-side in
    # milliseconds. Shape is value-identical: the inner transform
    # materializes each out-dim fold ONCE (aggregate over
    # zip_with(vec, signs_row), left-to-right adds, divide by
    # sqrt(out_dim)), the outer transform applies dround's exact IEEE
    # op sequence per element — same two-step evaluation the Column
    # form used, so no fold is inlined into the sign/abs branches.
    # repr() on a float is shortest-round-trip, so every literal
    # parses back to the identical double.
    signs_sql = "array(" + ",".join(
        "array(" + ",".join(repr(s) + "D" for s in row) + ")" for row in signs
    ) + ")"
    vq = "`" + vec_col.replace("`", "``") + "`"
    rf = float(10**decimals)
    rounded = F.expr(
        f"transform(transform({signs_sql}, "
        f"s -> aggregate(zip_with(cast({vq} as array<double>), s, "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x) / {scale!r}D), "
        f"v -> signum(v) * floor(abs(v) * {rf!r}D + 0.5D) / {rf!r}D)"
    )
    return df.select(F.col(id_col), rounded.alias(out_col))


def rp_rerank_topk(
    emb: DataFrame,
    k: int = 5,
    out_dim: int = 16,
    oversample: int = 4,
    query_filter=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int | None = None,
    decimals: int = 8,
    max_queries: int | None = None,
    seed_tag: str = "rp",
) -> DataFrame:
    """Two-stage retrieval: JL-project the corpus, take cosine
    top-``k*oversample`` CANDIDATES in the cheap ``out_dim`` space,
    then exact-rerank only those candidates in the original space.
    Returns (vec_id, rank, neighbor_id, cos_sim) — same shape as
    :func:`..similarity.cosine_topk_bruteforce`.

    Scale shape: the candidate stage is still a linear scan, but over a
    ``out_dim/in_dim``-sized column (4x fewer flops and 4x less memory
    bandwidth at 64->16 — the same accelerator idea as PQ's ADC, not
    sublinear like IVF; compose with IVF list-pruning for that). The
    rerank touches only |queries| x k x oversample rows: the corpus
    joins a BROADCAST candidate list, so full-width vectors are read
    for ~0.01% of rows and the corpus never shuffles. Candidate and
    rerank scores both round (half-away) to ``decimals`` with a
    neighbor-id tie-break, so an external oracle can replay both
    stages exactly."""
    from ..operators.windows import top_k_per_group
    from .similarity import _dot, _dround_once, _norm, cosine_topk_bruteforce

    proj = jl_random_projection(
        emb, out_dim=out_dim, id_col=id_col, vec_col=vec_col, in_dim=in_dim,
        decimals=decimals, seed_tag=seed_tag,
    )
    cand = cosine_topk_bruteforce(
        proj,
        k=k * oversample,
        query_filter=query_filter,
        id_col=id_col,
        vec_col="rp",
        round_scale=decimals,
        max_queries=max_queries,
    ).select("vec_id", "neighbor_id")

    # Bound the broadcast query side by the CANDIDATE stage's query ids
    # (a left-semi against the |queries|-sized distinct cand keys):
    # with query_filter=None the old path broadcast the ENTIRE
    # full-width corpus, contradicting the "full-width vectors read for
    # ~0.01% of rows" contract and risking OOM at scale. The filter is
    # kept too so predicate pushdown still prunes the scan.
    q = emb
    if query_filter is not None:
        q = q.filter(query_filter)
    q = (
        q.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__qv"))
        .join(F.broadcast(cand.select("vec_id").distinct()), "vec_id", "left_semi")
    )
    nbr = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    scored = (
        nbr.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "vec_id")
        .select(
            "vec_id",
            "neighbor_id",
            _dround_once(
                _dot(F.col("__qv"), F.col("__nv"))
                / (_norm(F.col("__qv")) * _norm(F.col("__nv"))),
                decimals,
            ).alias("cos_sim"),
        )
    )
    return top_k_per_group(
        scored,
        partition_by=["vec_id"],
        order_by=[F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(
        "vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cos_sim"
    )
