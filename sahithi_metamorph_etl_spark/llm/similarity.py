"""Embedding similarity search.

Every top-k method here is one skeleton with a pluggable codec:

1. **Bounded queries.** The query set is collected once with an
   explicit bound (:func:`_bounded_query_rows`) and shipped to the
   executors inside the scoring closure; the corpus never leaves its
   partitions.
2. **Probe.** On an IVF (inverted-file) layout each query probes its
   ``n_probe`` nearest coarse lists (:func:`_probe_lists`: rounded dot,
   lowest list id on ties); the probe union is a partition filter, so
   non-probed list directories are never opened, and a per-row
   ``list_id`` mask keeps each query to its own lists.
3. **Codec scan.** A codec turns one Arrow batch into a (queries x
   rows) score matrix, rounded before any compare: float cosine
   (:func:`cosine_topk_bruteforce`, :func:`hard_negative_topk`,
   :func:`ivf_search`), SQ8 dequantized dot (:func:`sq8_topk`,
   :func:`sq8_search`) or PQ ADC table lookup (:func:`pq_topk`,
   :func:`pq_search`). The flat ``*_topk`` forms encode in-scan with
   the same encode function ``*_build_index`` writes to disk; the
   ``*_search`` forms read the written codes.
4. **Heap scan.** :func:`_topk_scorer` — the one per-partition heap —
   keeps the best (score desc, neighbor id asc) candidates per query,
   so the shuffle carries only ``partitions x |queries| x keep`` rows.
5. **Final cut.** Float scores are exact, so a global top-k window
   ranks them. Quantized scores only choose candidates: a global
   top-(k+rerank) cut feeds :func:`_adc_exact_rerank`, which re-scores
   the survivors with the JVM fold, so reported similarities are
   always exact.

All ordering keys round half-away-from-zero (:func:`_nround`, the
``functions.money.dround`` twin) with id tie-breaks, so results are
partition-independent and replayable by an external oracle.

The LSH paths (:func:`hyperplane_lsh_topk`, :func:`lsh_near_dup_pairs`)
and the all-pairs :func:`cosine_near_dup_pairs` bucket or pair the
corpus instead of probing it and keep their own shapes.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.frames import local_frame
from ..functions.money import dround
from ..operators.windows import top_k_per_group

_TOPK_SCHEMA = "vec_id bigint, rank int, neighbor_id bigint, cos_sim double"


def _dot(a: Column, b: Column) -> Column:
    # double-precision left-to-right fold; deterministic given the arrays
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    # clamped so zero vectors score 0, not NaN (0/eps = 0)
    return F.greatest(F.sqrt(_dot(a, a)), F.lit(1e-12))


def _dround_once(c: Column, scale: int = 8) -> Column:
    """``dround`` with its argument evaluated ONCE: binds ``c`` as a
    transform lambda variable. dround's sign() and abs() branches
    otherwise inline the child twice, and higher-order functions are
    CodegenFallback where per-expression CSE does not apply — for a
    fold-heavy child (``_dot``/``_norm``) that doubles the row cost.
    Same IEEE op sequence, bit-identical values."""
    rf = float(10**scale)
    return F.element_at(
        F.transform(
            F.array(c),
            lambda x: F.signum(x) * F.floor(F.abs(x) * F.lit(rf) + F.lit(0.5)) / F.lit(rf),
        ),
        1,
    )


def _nround(t, scale: int = 8):
    """numpy twin of functions.money.dround (half-away-from-zero via
    sign/abs/floor — bit-identical in any engine evaluating the same
    double). Every ANN ordering key — cos_sim, ADC, and since r10 the
    IVF assignment/probe argmax, PQ encode argmin and LSH sign bit —
    rounds through this before compare, so oracle determinism never
    rides on bit-identical unrounded accumulation (BLAS vs DuckDB
    list_dot_product can differ by an ulp on near-ties)."""
    f = float(10**scale)
    return np.sign(t) * np.floor(np.abs(t) * f + 0.5) / f


def _unit_rows(m):
    """Rows of a (rows, dim) float64 matrix scaled to unit length;
    zero rows clamp to 0 (0/eps) like ``_norm``."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _batch_matrix(cells):
    """(rows, dim) float64 matrix of an iterable of vectors (an Arrow
    batch column or collected row values)."""
    return np.array(list(cells), dtype=np.float64)


def _local_sidecar_path(path: str) -> str:
    """Enforce the index-path sidecar contract: the pyarrow sidecar
    fast path does driver-local POSIX I/O, while the data files
    (codes/lists) in the SAME ``index_path`` go through Spark's Hadoop
    FS layer. A plain path passes through; ``file:/p``, ``file:///p``
    and ``file://localhost/p`` map to ``/p`` so both layers resolve to
    the same files. Any other scheme — or a ``file:`` URI naming
    another host — would silently split the index across storage
    systems, so it fails fast instead."""
    from urllib.parse import urlparse

    u = urlparse(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    raise ValueError(
        f"index sidecars use driver-local pyarrow I/O, but index_path "
        f"{path!r} is not a local path: build the index on a "
        "driver-local path (or mount), then publish it to the remote "
        "filesystem as a unit — a remote index_path would silently "
        "write sidecars locally while the codes go to the remote FS"
    )


def _sidecar_write(path: str, columns: dict, schema) -> None:
    """Write a TINY index sidecar (centroids / minmax / codebooks —
    metadata-sized, driver-resident by construction) as one parquet
    file directly with pyarrow, replacing the former
    ``createDataFrame(...).repartition(1).write.parquet`` round-trip
    (r21: one Spark job + commit protocol per sidecar was pure
    overhead at any scale — these tables are k x dim doubles the
    driver already holds). Same overwrite semantics as the Spark
    writer (the directory is replaced); the file is plain parquet,
    readable by ``spark.read.parquet`` or any engine. Driver-local
    paths only (:func:`_local_sidecar_path`)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _local_sidecar_path(path)
    shutil.rmtree(path, ignore_errors=True)
    import os

    os.makedirs(path, exist_ok=True)
    table = pa.table(columns, schema=schema)
    pq.write_table(table, f"{path}/part-00000.parquet")


def _sidecar_rows(path: str) -> list[dict]:
    """Read a sidecar directory back as a list of dict rows via
    pyarrow — the driver-side twin of ``spark.read.parquet(...).
    collect()`` for metadata-sized tables (no Spark job). Reads every
    ``*.parquet`` part file, so sidecars written by either the pyarrow
    or the Spark writer load identically. Driver-local paths only
    (:func:`_local_sidecar_path`)."""
    import glob as _glob

    import pyarrow.parquet as pq

    parts = sorted(_glob.glob(f"{_local_sidecar_path(path)}/*.parquet"))
    if not parts:
        raise FileNotFoundError(f"no parquet sidecar files under {path!r}")
    rows: list[dict] = []
    for p in parts:
        rows.extend(pq.read_table(p).to_pylist())
    return rows


def _bounded_query_rows(
    embeddings, id_col, vec_col, query_filter, max_queries, op_name,
    extra_cols=(),
):
    """Collect the query set with an explicit bound — an unbounded
    ``collect()`` of the whole corpus is a driver OOM at scale, so it is
    a usage error, not a silent default."""
    q = embeddings.select(
        F.col(id_col), F.col(vec_col), *[F.col(c) for c in extra_cols]
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    elif max_queries is None:
        raise ValueError(
            f"{op_name}: pass query_filter to bound the query set, or set "
            "max_queries explicitly — collecting the full corpus as queries "
            "is O(N x N) and a driver OOM at scale"
        )
    if max_queries is not None:
        rows = q.limit(max_queries + 1).collect()
        if len(rows) > max_queries:
            raise ValueError(
                f"{op_name}: query set exceeds max_queries={max_queries}; "
                "tighten query_filter or raise the cap deliberately"
            )
        return rows
    return q.collect()


def _probe_lists(qm, cents, n_probe):
    """(queries x lists) boolean probe mask: each unit query's
    ``n_probe`` nearest coarse lists by ROUNDED dot, stable sort so
    ties go to the lowest list id (the oracle's (dot DESC, list_id)
    window)."""
    order = np.argsort(-_nround(qm @ cents.T), axis=1, kind="stable")[:, :n_probe]
    mask = np.zeros((len(qm), len(cents)), dtype=bool)
    np.put_along_axis(mask, order, True, axis=1)
    return mask


def _list_ids(raw, cents):
    """IVF list assignment of raw vectors: argmax of the ROUNDED dot of
    the unit vector with each centroid, first index (lowest list id)
    on ties."""
    return _nround(_unit_rows(raw) @ cents.T).argmax(axis=1).astype("int32")


def _topk_scorer(q_ids, score, keep, score_col="cos_sim", exclude_self=True,
                 q_labels=None, probes=None):
    """The ONE per-partition heap scan of every top-k method: a
    ``mapInPandas`` function keeping, per query, the best ``keep``
    (score desc, neighbor id asc) candidates of its partition.

    ``score(pdf)`` is the codec: one Arrow batch of the corpus frame
    (``neighbor_id`` + payload) -> rounded (queries x rows) scores.
    Only rows that can beat (or tie) the worst kept candidate enter
    the Python loop; the masks are vectorized: the self row
    (``exclude_self``), same-label rows (``q_labels``: the frame also
    carries ``nl`` and the label rides through to ``neighbor_label``)
    and rows outside the query's probed lists (``probes``, a
    (queries x lists) boolean mask against the frame's ``list_id``)."""

    def score_partition(batches):
        import heapq

        import pandas as pd

        heaps = {int(qid): [] for qid in q_ids}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = score(pdf)
            nids = pdf["neighbor_id"].to_numpy()
            nlabels = None if q_labels is None else pdf["nl"].to_numpy()
            lids = None if probes is None else pdf["list_id"].to_numpy()
            for qi, qid in enumerate(q_ids):
                heap = heaps[int(qid)]
                s = sims[qi]
                if len(heap) >= keep:
                    elig = s >= heap[0][0]
                else:
                    elig = np.ones(len(s), dtype=bool)
                if nlabels is not None:
                    elig &= nlabels != q_labels[qi]
                if lids is not None:
                    elig &= probes[qi][lids]
                if exclude_self:
                    elig &= nids != qid
                for ci in np.nonzero(elig)[0]:
                    # min-heap keyed (score asc, neighbor desc): root is
                    # the WORST kept candidate under (score desc,
                    # neighbor asc); nid is unique so a trailing label
                    # never compares
                    item = (float(s[ci]), -int(nids[ci]))
                    if nlabels is not None:
                        item += (int(nlabels[ci]),)
                    if len(heap) < keep:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
        types = {"vec_id": "int64", "neighbor_id": "int64"}
        if q_labels is not None:
            types["neighbor_label"] = "int32"
        types[score_col] = "float64"
        out = [(qid, -it[1], *it[2:], it[0]) for qid, heap in heaps.items() for it in heap]
        yield pd.DataFrame(out, columns=list(types)).astype(types)

    return score_partition


def _ann_search(corpus, qrows, score, k, *, rerank=None, float_corpus=None,
                id_col="vec_id", vec_col="embedding", round_scale=8,
                probes=None, exclude_self=True, q_labels=None):
    """The search skeleton shared by every top-k method: the heap scan
    of ``corpus`` under codec ``score``, then the final cut.

    ``rerank=None`` means the codec scores are final (float cosine):
    a global top-k window ranks them. An int means they are quantized:
    the heaps keep ``k + rerank`` candidates, a global top-(k+rerank)
    ADC cut follows — every partition heap holds a superset of its
    share of that list, so the cut is partition-independent — and the
    survivors re-rank exactly against ``float_corpus``
    (:func:`_adc_exact_rerank`)."""
    keep = k if rerank is None else k + rerank
    score_col = "cos_sim" if rerank is None else "adc"
    label = [] if q_labels is None else ["neighbor_label"]
    candidates = corpus.mapInPandas(
        _topk_scorer(
            np.array([r[0] for r in qrows], dtype=np.int64), score, keep,
            score_col, exclude_self, q_labels, probes,
        ),
        schema="vec_id bigint, neighbor_id bigint, "
        + ("" if q_labels is None else "neighbor_label int, ")
        + f"{score_col} double",
    )
    order = [F.col(score_col).desc(), F.col("neighbor_id").asc()]
    if rerank is None:
        return top_k_per_group(
            candidates, partition_by=["vec_id"], order_by=order, k=k,
            rank_col="rank", keep_rank=True,
        ).select(
            "vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id",
            *label, "cos_sim",
        )
    cut = top_k_per_group(candidates, partition_by=["vec_id"], order_by=order, k=keep)
    return _adc_exact_rerank(
        corpus.sparkSession, cut, qrows, float_corpus, id_col, vec_col, k,
        round_scale, cand_bound=len(qrows) * keep,
    )


def _float_corpus(embeddings, id_col, vec_col, *extra):
    """The flat scan's corpus frame: (neighbor_id, *extra, cv)."""
    return embeddings.select(
        F.col(id_col).alias("neighbor_id"), *extra, F.col(vec_col).alias("cv")
    )


def _cosine_codec(qm, round_scale):
    """Float codec: rounded cosine of the unit query matrix ``qm``
    against the batch's ``cv`` vectors — one BLAS matmul per batch."""

    def score(pdf):
        return _nround(qm @ _unit_rows(_batch_matrix(pdf["cv"])).T, round_scale)

    return score


def _codes_of(pdf, encode, *args):
    """A batch's uint8 code matrix: the ``codes`` binary cells
    of a materialized index (one ``np.frombuffer`` over the batch), or
    — in the flat scan — the ``cv`` float vectors run through
    ``encode(raw, *args)``, the same function the index build wrote
    them with."""
    if "codes" in pdf:
        return np.frombuffer(b"".join(pdf["codes"]), dtype=np.uint8).reshape(len(pdf), -1)
    return encode(_batch_matrix(pdf["cv"]), *args)


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int | None = None,
    queries: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (vec_id, rank, neighbor_id, cos_sim).

    ``queries`` turns this into a cross-frame KNN JOIN: the (bounded)
    query set comes from another frame carrying the same ``id_col`` /
    ``vec_col`` names (alias first) with NUMERIC ids — e.g. per-label
    centroids asking "which corpus vectors sit nearest each class
    center". Pass ``exclude_self=False`` there: the id namespaces
    differ, so dropping a corpus row that merely shares a query's id
    number would be wrong.

    Scale design: the skeleton with the float codec and no probe — the
    bounded query set ships to executors as a unit-normalized float64
    matrix, each corpus partition streams Arrow batches through one
    BLAS matmul (``Q @ C.T``) into the per-partition heaps, and only
    ``partitions x |queries| x k`` candidates reach the final global
    window. Brute force stays exact at any corpus size; only the query
    set must fit on the driver (it must be small for O(Q x N) to make
    sense at all).

    ``cos_sim`` is rounded (default 8dp) BEFORE ranking with a
    neighbor-id tie-break, so ordering is reproducible across engines.
    """
    qrows = _bounded_query_rows(
        queries if queries is not None else embeddings,
        id_col, vec_col, query_filter, max_queries, "cosine_topk_bruteforce",
    )
    if not qrows:
        return local_frame(embeddings.sparkSession, [], _TOPK_SCHEMA)
    qm = _unit_rows(_batch_matrix(r[1] for r in qrows))
    return _ann_search(
        _float_corpus(embeddings, id_col, vec_col), qrows,
        _cosine_codec(qm, round_scale), k, exclude_self=exclude_self,
    )


def hard_negative_topk(
    embeddings: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_scale: int = 8,
    max_queries: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each (bounded)
    query vector, the exact top-k most-cosine-similar corpus vectors
    whose ``label_col`` DIFFERS from the query's — the classic
    "hardest negatives" batch-construction step for embedding-model
    training. Returns (vec_id, rank, neighbor_id, neighbor_label,
    cos_sim); reference parity: the reference has no ANN surface, this
    extends the training-data family per SURVEY §2.

    Scale design: :func:`cosine_topk_bruteforce`'s skeleton plus a
    query label vector — the heap scan masks same-label columns out
    vectorized, so the self row is excluded for free (it always shares
    the query's label).

    Label contract: ``label_col`` must be an INTEGRAL column
    (byte/short/int/long) with no nulls among the queries — the output
    schema pins ``neighbor_label int`` and the mask compares int64
    vectors. A non-integer label column raises ``ValueError`` up front
    (map string labels through a dictionary join first); a null query
    label raises ``ValueError`` at plan construction.

    ``cos_sim`` is rounded (default 8dp) BEFORE ranking with a
    neighbor-id tie-break, so ordering is reproducible across engines.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ltype = embeddings.schema[label_col].dataType
    if not isinstance(ltype, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"hard_negative_topk: label column {label_col!r} must be an "
            f"integral type (byte/short/int/long), got {ltype.simpleString()} "
            "— join string labels through a dictionary table first"
        )
    qrows = _bounded_query_rows(
        embeddings, id_col, vec_col, query_filter, max_queries,
        "hard_negative_topk", extra_cols=(label_col,),
    )
    if not qrows:
        return local_frame(
            embeddings.sparkSession, [],
            "vec_id bigint, rank int, neighbor_id bigint, neighbor_label int, cos_sim double",
        )
    if any(r[2] is None for r in qrows):
        raise ValueError(
            f"hard_negative_topk: null {label_col!r} among query rows — "
            "the different-label mask is undefined for null labels; "
            "filter or impute them first"
        )
    qm = _unit_rows(_batch_matrix(r[1] for r in qrows))
    return _ann_search(
        _float_corpus(embeddings, id_col, vec_col, F.col(label_col).alias("nl")),
        qrows, _cosine_codec(qm, round_scale), k, exclude_self=False,
        q_labels=[int(r[2]) for r in qrows],
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_corpus_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cos_sim)
    for every a < b with cosine >= threshold — the exact O(N^2)
    correctness baseline for embedding dedup, bounded by
    ``max_corpus_rows`` (it broadcasts one full side by closure). The
    production-scale path is :func:`lsh_near_dup_pairs`, which never
    collects and scores only within LSH buckets.

    Scale design: one side of the N x N comparison is shipped to
    executors as a unit-normalized float64 matrix; the other side
    streams through its partitions, each Arrow batch scored by the
    float codec (one BLAS matmul) and mask-filtered to >= threshold
    before anything is materialized. Exact all-pairs is inherently
    O(N^2) — this keeps the constant BLAS-sized; at open-corpus scale
    run the same scoring within LSH buckets instead.
    """
    rows = embeddings.select(F.col(id_col), F.col(vec_col)).limit(max_corpus_rows + 1).collect()
    if len(rows) > max_corpus_rows:
        raise ValueError(
            f"cosine_near_dup_pairs: corpus exceeds max_corpus_rows={max_corpus_rows}; "
            "this exact all-pairs baseline broadcasts one full side — use "
            "lsh_near_dup_pairs for open-ended corpora"
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    score = _cosine_codec(_unit_rows(_batch_matrix(r[1] for r in rows)), round_scale)
    corpus = embeddings.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("cv"))

    def score_partition(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = score(pdf)
            bids = pdf["vec_b"].to_numpy()
            # a < b keeps each unordered pair exactly once (the a-side
            # runs over the full matrix, the b-side over this batch)
            ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {"vec_a": ids[ai], "vec_b": bids[bi], "cos_sim": sims[ai, bi]}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    return corpus.mapInPandas(score_partition, schema="vec_a bigint, vec_b bigint, cos_sim double")


def lsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_bands: int = 24,
    band_planes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded hyperplane LSH —
    the fully distributed scale path (nothing is ever collected to the
    driver; contrast :func:`cosine_near_dup_pairs`, the bounded exact
    oracle twin).

    Shape: (1) one ``mapInPandas`` pass signs each vector against
    ``n_bands x band_planes`` seeded hyperplanes and emits one
    (band, bucket) row per band — zero shuffle; (2) ``applyInPandas``
    per (band, bucket) group runs the exact BLAS all-pairs scoring
    WITHIN the bucket only and keeps pairs >= threshold; (3) one
    ``dropDuplicates`` merges pairs that collided in several bands
    (scores are identically rounded, so the merge is exact). Two
    shuffles total, both keyed finer than the data (band x bucket).

    A pair at exactly the threshold collides in a band with
    p = (1 - acos(t)/pi)^band_planes; missing all bands is
    (1-p)^n_bands — ~5e-6 at t=0.4 with the defaults, and the planes
    are seeded, so results are deterministic. At production thresholds
    (~0.95) raise ``band_planes`` to 8-16 so buckets shrink ~2^-planes
    and within-bucket work stays sub-quadratic.

    SCALE WARNING (loud, r10 SCALING.md evidence): few planes per band
    put essentially EVERY pair in a shared bucket — an unrelated
    (orthogonal) pair collides per band with ~2^-band_planes, so with
    the defaults (24 bands x 2 planes) ~99.9% of ALL pairs reach the
    exact within-bucket scorer and cost grows quadratically with the
    corpus (measured 26x work for 8x rows at t=0.4/2-planes, vs 1.8x
    at t=0.9/12-planes). That is inherent to recall at low thresholds,
    not a bug — but it must be a choice, so this function emits a
    ``RuntimeWarning`` when the expected random-pair collision
    fraction 1-(1-2^-band_planes)^n_bands exceeds 5%. Alternatives at
    scale: raise the threshold + band_planes, use multi-probe
    :func:`hyperplane_lsh_topk` (recall from probes instead of coarse
    buckets), or text-side :func:`~..llm.dedup.jaccard_pairs` whose
    prefix filter is exact and sub-quadratic at high thresholds.
    """
    p_random = 0.5**band_planes
    random_pair_frac = 1.0 - (1.0 - p_random) ** n_bands
    if random_pair_frac > 0.05:
        import warnings

        warnings.warn(
            f"lsh_near_dup_pairs(threshold={threshold}, n_bands={n_bands}, "
            f"band_planes={band_planes}): ~{random_pair_frac:.0%} of ALL "
            "pairs share a bucket, so exact scoring is effectively "
            "all-pairs and cost grows QUADRATICALLY with the corpus "
            "(SCALING.md 'LSH regimes at a glance': 31x wall for 8x "
            "rows in this regime vs 1.4x at t=0.9/12-planes). Raise "
            "band_planes (with a higher threshold), or use multi-probe "
            "hyperplane_lsh_topk / prefix-filtered jaccard_pairs for "
            "sub-quadratic near-dup at scale.",
            RuntimeWarning,
            stacklevel=2,
        )

    # one bounded driver probe for the vector dim (the array<> schema does
    # not carry it); empty/all-null input short-circuits to an empty pair
    # frame instead of a TypeError deep in plane construction
    row = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None:
        return local_frame(
            embeddings.sparkSession, [], "vec_a bigint, vec_b bigint, cos_sim double"
        )
    dim = len(row[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * band_planes, dim))
    nb, bp = n_bands, band_planes

    src = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))

    def assign_buckets(batches):
        import pandas as pd

        weights = (2 ** np.arange(bp)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _batch_matrix(pdf["v"])
            bits = (m @ planes.T >= 0).astype(np.int64)  # (n, nb*bp)
            buckets = bits.reshape(len(m), nb, bp) @ weights  # (n, nb)
            ids = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "band": np.repeat(np.arange(nb, dtype=np.int32), len(m)),
                    "bucket": buckets.T.reshape(-1),
                    "vec_id": np.tile(ids, nb),
                    "v": list(pdf["v"]) * nb,
                }
            )
            yield out

    banded = src.mapInPandas(
        assign_buckets, schema=f"band int, bucket bigint, vec_id bigint, v {src.schema['v'].dataType.simpleString()}"
    )

    def score_bucket(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        m = _unit_rows(_batch_matrix(pdf["v"]))
        sims = _nround(m @ m.T, round_scale)
        ids = pdf["vec_id"].to_numpy()
        ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"vec_a": ids[ai], "vec_b": ids[bi], "cos_sim": sims[ai, bi]}
        ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    pairs = banded.groupBy("band", "bucket").applyInPandas(
        score_bucket, schema="vec_a bigint, vec_b bigint, cos_sim double"
    )
    return pairs.dropDuplicates(["vec_a", "vec_b"])


def _write_centroid_sidecar(path: str, cents) -> None:
    """(list_id, centroid) sidecar via :func:`_sidecar_write`."""
    import pyarrow as pa

    _sidecar_write(
        path,
        {
            "list_id": list(range(len(cents))),
            "centroid": [[float(v) for v in row] for row in cents],
        },
        pa.schema(
            [("list_id", pa.int32()), ("centroid", pa.list_(pa.float64()))]
        ),
    )


def _read_centroid_sidecar(path: str):
    """centroid matrix (np float64, indexed by list_id) from the
    sidecar — driver-side, no Spark job."""
    rows = _sidecar_rows(path)
    cents = np.zeros((len(rows), len(rows[0]["centroid"])))
    for r in rows:
        cents[r["list_id"]] = r["centroid"]
    return cents


def _ordered_sample(embeddings, id_col, vec_col, n):
    """The ``n`` LOWEST-id vectors, unit-normalized — an ordered take
    (TakeOrderedAndProject, bounded cost), so a quantizer trained on it
    never depends on partition layout the way an un-ordered ``limit``
    would."""
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(n)
        .select(F.col(vec_col))
        .collect()
    )
    return _unit_rows(_batch_matrix(r[0] for r in rows))


def _train_centroids(embeddings, id_col, vec_col, n_lists, seed, train_sample):
    """Seeded k-means coarse quantizer: a few Lloyd iterations on cosine
    (unit vectors -> dot argmax) over the ``train_sample`` lowest-id
    vectors (:func:`_ordered_sample`). Returns a unit-normalized
    (n_lists, dim) ndarray — small enough to ship into closures by
    value."""
    rng = np.random.default_rng(seed)
    xs = _ordered_sample(embeddings, id_col, vec_col, train_sample)
    cents = xs[rng.choice(len(xs), size=min(n_lists, len(xs)), replace=False)]
    for _ in range(5):
        assign = (xs @ cents.T).argmax(axis=1)
        for j in range(len(cents)):
            members = xs[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


def _coarse_centroids(embeddings, index_path, id_col, vec_col, n_lists, seed,
                      train_sample, centroids):
    """The IVF coarse quantizer of an index build — ``centroids`` if
    given, else :func:`_train_centroids` — written to the
    ``{index_path}/centroids`` sidecar and returned."""
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        cents = _train_centroids(embeddings, id_col, vec_col, n_lists, seed, train_sample)
    _write_centroid_sidecar(f"{index_path}/centroids", cents)
    return cents


def _write_index(embeddings, id_col, vec_col, path, cents, encode=None, *args):
    """One Arrow pass writing an index's data files to ``path`` as
    (vec_id, payload[, list_id]), PARTITIONED BY ``list_id`` when
    coarse centroids ``cents`` are given (:func:`_list_ids`). The
    payload is the float vector as ``embedding`` (IVF lists) or, with
    ``encode``, its ``encode(raw, *args)`` uint8 row stored as one
    ``codes`` binary cell — ``dim`` (SQ8) or ``m`` (PQ) bytes."""

    def write_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = _batch_matrix(pdf["embedding"])
            out = {"vec_id": pdf["vec_id"]}
            if encode is None:
                out["embedding"] = pdf["embedding"]
            else:
                out["codes"] = [row.tobytes() for row in encode(raw, *args)]
            if cents is not None:
                out["list_id"] = _list_ids(raw, cents)
            yield pd.DataFrame(out)

    payload = "embedding array<double>" if encode is None else "codes binary"
    writer = (
        embeddings.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )
        .mapInPandas(
            write_batches,
            schema=f"vec_id bigint, {payload}" + ("" if cents is None else ", list_id int"),
        )
        .write.mode("overwrite")
    )
    (writer if cents is None else writer.partitionBy("list_id")).parquet(path)


def _open_index(spark, index_path, data, qm, n_probe, op_name):
    """``{index_path}/{data}`` as the skeleton's corpus frame
    (``neighbor_id``, ``cv`` or ``codes``[, ``list_id``]) plus the
    probe mask. On a list-partitioned layout the unit queries ``qm``
    probe their ``n_probe`` (default 4) nearest lists and the probe
    UNION is pushed into the scan as a partition filter — non-probed
    list directories never open. ``n_probe`` on an un-listed index
    raises, as does a ``codes`` column that is not binary."""
    from pyspark.sql.types import BinaryType

    corpus = (
        spark.read.parquet(f"{index_path}/{data}")
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("embedding", "cv")
    )
    if "codes" in corpus.columns and not isinstance(
        corpus.schema["codes"].dataType, BinaryType
    ):
        raise ValueError(
            f"{op_name}: {index_path}/codes holds "
            f"{corpus.schema['codes'].dataType.simpleString()} codes, but the "
            "scan reads one binary cell per vector — rebuild the "
            "index with the current build function"
        )
    if "list_id" not in corpus.columns:
        if n_probe is not None:
            raise ValueError(
                f"{op_name}: n_probe given but the index has no list_id "
                f"partitions — rebuild with "
                f"{op_name.replace('search', 'build_index')}(n_lists=...)"
            )
        return corpus, None
    probes = _probe_lists(
        qm, _read_centroid_sidecar(f"{index_path}/centroids"),
        4 if n_probe is None else n_probe,
    )
    union = np.flatnonzero(probes.any(axis=0)).tolist()
    return corpus.filter(F.col("list_id").isin(union)), probes


def ivf_build_index(
    embeddings: DataFrame,
    index_path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 2048,
    centroids=None,
):
    """Materialize the IVF physical layout: the corpus written to
    ``{index_path}/lists`` PARTITIONED BY ``list_id`` (one directory
    per inverted list), centroids to ``{index_path}/centroids``.

    This is what makes IVF pay at scale: :func:`ivf_search` pushes
    ``list_id IN (probes)`` into the scan as a partition filter, so a
    probe reads ``n_probe/n_lists`` of the FILES — the non-probed lists
    are never opened, not scanned-then-discarded. Assignment is an
    Arrow-batched argmax over the (tiny) centroid matrix shipped by
    value — partition-parallel, no shuffle beyond the partitioned
    write. Returns the centroid matrix for convenience.

    Train: k-means (a few seeded Lloyd iterations on the
    ``train_sample`` lowest-id vectors). ``centroids`` (an (n_lists,
    dim) array-like) skips training and quantizes against the given
    coarse centroids — e.g. seed vectors chosen by a rule an external
    oracle can replay exactly (the catalog's hash-checked IVF entry
    passes the unit-normalized lowest-id corpus vectors)."""
    cents = _coarse_centroids(
        embeddings, index_path, id_col, vec_col, n_lists, seed, train_sample, centroids
    )
    _write_index(embeddings, id_col, vec_col, f"{index_path}/lists", cents)
    return cents


def ivf_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int = 10_000,
) -> DataFrame:
    """Search a materialized IVF index (:func:`ivf_build_index`): the
    skeleton with the float codec over the probed lists. The scan is
    FILTERED to the union of every query's ``n_probe`` nearest lists —
    ``list_id IN (...)`` is a partition filter, so non-probed list
    directories are never read (plan-asserted in tests). Each query
    then keeps scores only from its own probed lists (the row's stored
    ``list_id`` — no re-assignment at search time). Probing every list
    equals :func:`cosine_topk_bruteforce`.

    ``queries`` is a bounded DataFrame of (id_col, vec_col);
    ``max_queries`` guards the driver collect the same way the other
    similarity operators do."""
    qrows = _bounded_query_rows(queries, id_col, vec_col, None, max_queries, "ivf_search")
    if not qrows:
        return local_frame(spark, [], _TOPK_SCHEMA)
    qm = _unit_rows(_batch_matrix(r[1] for r in qrows))
    corpus, probes = _open_index(spark, index_path, "lists", qm, n_probe, "ivf_search")
    return _ann_search(corpus, qrows, _cosine_codec(qm, round_scale), k, probes=probes)


def ann_recall_summary(
    exact_topk: DataFrame, ann_topk: DataFrame, recall_floor: float
) -> DataFrame:
    """One self-verifying row comparing an ANN top-k result to its
    exact brute-force twin: (n_queries, n_exact, n_ann, n_hits, recall,
    floor_ok). Everything is deterministic (seeded planes/centroids), so
    the row is reproducible run-to-run; ``floor_ok`` makes a recall
    regression visible as a value change, not just a silent drift."""
    # ONE full-outer join + ONE aggregate (r21): the former
    # three-1-row-aggregate crossJoin form executed the exact
    # brute-force pipeline AND the ANN pipeline twice each (their own
    # count + the hits join), as 4-5 separate jobs per composed-index
    # query. (vec_id, neighbor_id) is unique within each top-k list, so
    # per joined row the presence markers recover exactly the old
    # counts: n_exact/n_ann = marker counts, n_hits = both-present,
    # n_queries = distinct vec_id among exact rows.
    ex = exact_topk.select("vec_id", "neighbor_id", F.lit(1).alias("__e"))
    an = ann_topk.select("vec_id", "neighbor_id", F.lit(1).alias("__a"))
    both = ex.join(an, ["vec_id", "neighbor_id"], "full_outer")
    return (
        both.agg(
            F.count_distinct(
                F.when(F.col("__e").isNotNull(), F.col("vec_id"))
            ).alias("n_queries"),
            F.count("__e").alias("n_exact"),
            F.count("__a").alias("n_ann"),
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1)).alias(
                "n_hits"
            ),
        )
        .select(
            "n_queries",
            "n_exact",
            "n_ann",
            "n_hits",
            # n_exact = 0 (empty query set / k=0) would make both NULL and a
            # gate reading floor_ok would see neither true nor false — pin
            # recall to 0.0 and floor_ok to false so no-data reads as a
            # failing gate, not a silent one
            F.coalesce(dround(F.col("n_hits") / F.col("n_exact"), 4), F.lit(0.0)).alias("recall"),
            F.coalesce(
                F.col("n_hits") / F.col("n_exact") >= recall_floor, F.lit(False)
            ).alias("floor_ok"),
        )
    )


def _planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: bucket by sign bits against seeded
    random hyperplanes, then exact scoring within the bucket only.
    2^n_planes buckets => corpus scanned per query shrinks ~2^-n_planes
    (at some recall cost).

    ``n_probes`` enables MULTI-PROBE: each query additionally scans the
    ``n_probes - 1`` flip-one-bit neighbor buckets whose planes it is
    CLOSEST to (smallest |rounded dot| margin — those are the buckets a
    true near neighbor most likely fell into), so candidate volume
    grows ~linearly in ``n_probes`` while recall climbs much faster
    than lowering ``n_planes`` would allow (measured at sf0.01,
    n_planes=4: recall 0.134 at n_probes=1 → 0.244 at 2 → 0.340 at 3 →
    0.414 at 4 → 0.462 at 5).
    Each corpus vector lives in exactly ONE bucket and probe signatures
    are distinct, so no candidate pair is scored twice. Default 1 keeps
    the single-bucket behavior (the hash-graded catalog oracle replays
    that path).

    ``dim`` is inferred from the data when not given — a mismatched dim
    would null-pad the dot products and silently collapse every vector
    into one bucket (a full cross join)."""
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(f"n_probes must be in [1, n_planes + 1], got {n_probes}")
    if dim is None:
        first = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if first is None:  # empty/all-null input: no buckets, no neighbors
            return local_frame(
                embeddings.sparkSession, [],
                "vec_id bigint, rank int, neighbor_id bigint, cos_sim double",
            )
        dim = len(first[0])
    planes = _planes(n_planes, dim)
    # one parsed literal instead of n_planes x dim F.lit py4j calls
    # (r21 driver-cost fix; repr() round-trips every double exactly)
    plane_arr = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(repr(v) + "D" for v in row) + ")"
            for row in planes
        ) + ")"
    )
    # sign bit on the ROUNDED dot (8dp dround, oracle twin o_round):
    # an ulp of accumulation skew at the 0 boundary must not flip a
    # bucket between engines
    dots = F.transform(plane_arr, lambda p: _dround_once(_dot(F.col(vec_col), p), 8))
    sig_from = lambda d: F.concat_ws(  # noqa: E731
        "", F.transform(d, lambda x: F.when(x >= 0, "1").otherwise("0"))
    )
    bucketed = embeddings.select(
        F.col(id_col), F.col(vec_col), dots.alias("__dots"), sig_from(dots).alias("bucket")
    )
    q = bucketed.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"), "__dots", "bucket"
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    if n_probes > 1:
        # flip the (n_probes - 1) closest-margin bits: sort plane
        # indices by (|dot|, idx) and rebuild the signature with each
        # chosen bit inverted — all in-plan, no Python
        margins = F.sort_array(
            F.transform(
                F.col("__dots"),
                lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("idx")),
            )
        )
        flips = F.slice(F.transform(margins, lambda s: s["idx"]), 1, n_probes - 1)
        probe_sigs = F.array_union(
            F.array(F.col("bucket")),
            F.transform(
                flips,
                lambda fi: F.concat_ws(
                    "",
                    F.transform(
                        F.col("__dots"),
                        lambda d, i: F.when(
                            i == fi,
                            F.when(d >= 0, "0").otherwise("1"),
                        ).otherwise(F.when(d >= 0, "1").otherwise("0")),
                    ),
                ),
            ),
        )
        q = q.select(
            "vec_id", "qv", F.explode(probe_sigs).alias("bucket")
        )
    else:
        q = q.select("vec_id", "qv", "bucket")
    c = bucketed.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket")
    pairs = q.join(c, "bucket").filter(F.col("vec_id") != F.col("neighbor_id"))
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = pairs.select("vec_id", "neighbor_id", _dround_once(cos, 8).alias("cos_sim"))
    return top_k_per_group(
        scored,
        partition_by=["vec_id"],
        order_by=[F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select("vec_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cos_sim")


def _train_pq_codebooks(embeddings, id_col, vec_col, m, ksub, seed, train_sample):
    """Seeded per-subspace k-means codebooks (product quantization): the
    vector space splits into ``m`` contiguous subspaces; each gets its
    own ``ksub``-centroid L2 codebook trained with a few Lloyd
    iterations on the ``train_sample`` lowest-id UNIT vectors
    (:func:`_ordered_sample`, layout-independent). Returns (m, ksub,
    dim // m) float64 — a few KB, shipped into closures by value like
    the IVF centroids."""
    rng = np.random.default_rng(seed)
    xs = _ordered_sample(embeddings, id_col, vec_col, train_sample)
    dim = xs.shape[1]
    if dim % m != 0:
        raise ValueError(f"PQ: dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = xs[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(ksub, len(sub)), replace=False)]
        for _ in range(8):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j, : len(cents)] = cents
    return books


def _pq_books(embeddings, id_col, vec_col, m, ksub, seed, train_sample, books):
    """The PQ codebooks of a flat scan or index build: ``books`` checked
    against (m, ksub), else trained (:func:`_train_pq_codebooks`).
    Codes are one byte per subspace, so ``ksub`` is capped at 256."""
    if ksub > 256:
        raise ValueError(f"PQ: ksub={ksub} exceeds 256 — codes are one byte per subspace")
    if books is None:
        return _train_pq_codebooks(embeddings, id_col, vec_col, m, ksub, seed, train_sample)
    books = np.asarray(books, dtype=np.float64)
    if books.shape[0] != m or books.shape[1] != ksub:
        raise ValueError(f"books shape {books.shape} != (m={m}, ksub={ksub}, dsub)")
    return books


def _pq_encode(raw, books):
    """PQ encode: unit-normalize, then per subspace the nearest codebook
    entry by ROUNDED Euclidean distance (8dp, mirroring the oracle's
    o_round(list_distance) key, so a near-tie can't flip a code between
    engines); first-index ties = lowest cid, matching the oracle's
    (dist, cid) window. (rows, m) uint8."""
    m, _, dsub = books.shape
    sub = _unit_rows(raw).reshape(len(raw), m, dsub)
    codes = np.empty((len(raw), m), dtype=np.uint8)
    for j in range(m):
        d2 = ((sub[:, j, None, :] - books[None, j]) ** 2).sum(axis=2)
        codes[:, j] = _nround(np.sqrt(d2)).argmin(axis=1)
    return codes


def _pq_codec(qm, books):
    """PQ ADC codec: per query an (m x ksub) table of query-subvector
    dots with every codebook entry, built once on the driver; a row's
    score is the sum of its ``m`` code lookups, ROUNDED at 6dp so the
    heap and cut ordering survive any accumulation order."""
    m, _, dsub = books.shape
    tables = np.einsum("qjd,jkd->qjk", qm.reshape(len(qm), m, dsub), books)
    js = np.arange(m)

    def score(pdf):
        codes = _codes_of(pdf, _pq_encode, books).astype(np.int64)
        return _nround(np.stack([t[js, codes].sum(axis=1) for t in tables]), 6)

    return score


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int | None = None,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    seed: int = 42,
    train_sample: int = 2048,
    max_queries: int | None = None,
    books=None,
) -> DataFrame:
    """Product-quantization approximate top-k with exact re-rank —
    the MEMORY-scale ANN path (IVF prunes what is READ, LSH prunes what
    is COMPARED; PQ shrinks what is HELD: ``m`` uint8 codes per vector
    instead of ``dim`` floats, 32x at the defaults for dim=64).

    The flat form of :func:`pq_search`: the skeleton with the PQ ADC
    codec over the float corpus, each Arrow batch encoded in-scan by
    the very function :func:`pq_build_index` writes (so the two match
    row for row). The global top ``k + rerank`` ADC candidates are
    then re-scored EXACTLY by :func:`_adc_exact_rerank` — PQ error
    affects only which candidates survive, never the reported
    similarity of survivors.

    Determinism: the codebooks are layout-independent (seeded k-means
    on the ``train_sample`` LOWEST ids — an ordered take, not an
    un-ordered limit; or caller-supplied via ``books``), every per-row
    step breaks ties deterministically, and the candidate cut is
    partition-independent, so an external oracle can replay the whole
    pipeline.

    ``books`` (an (m, ksub, dim//m) array-like) skips k-means training
    and encodes against the given codebooks — e.g. subvectors of the
    lowest-id corpus vectors, which a SQL oracle can reconstruct.
    ``ksub`` is at most 256 (one byte per code).

    ``rerank=None`` (the default) SCALES the exact-rerank budget with
    the corpus: :func:`_auto_rerank_budget` with the PQ floor of 128
    (``max(128, ceil(n/16))``, capped at 8192), costing one cheap
    ``count()`` of the corpus frame. A FIXED budget silently loses
    recall as the corpus grows — the r10 SCALING.md re-measure saw
    recall 0.742 → 0.502 at 8x corpus under a pinned ``rerank=128``,
    while n/16 held 0.742. The cap bounds per-query heap memory and the
    candidate shuffle; past it, compose with IVF (``pq_build_index(
    n_lists=...)`` + ``pq_search``) so the per-probe pool, and hence a
    fixed budget, stays bounded. Pass an explicit int to pin the
    budget and stay action-free (the graded catalog entry pins 128 so
    its oracle hash is scale-stable).
    """
    if rerank is None:
        rerank = _auto_rerank_budget(embeddings.count(), floor=128)
    qrows = _bounded_query_rows(
        embeddings, id_col, vec_col, query_filter, max_queries, "pq_topk"
    )
    if not qrows:
        # also covers the empty-corpus case (queries come from the same
        # frame), so codebook training below always has sample vectors
        return local_frame(embeddings.sparkSession, [], _TOPK_SCHEMA)
    books = _pq_books(embeddings, id_col, vec_col, m, ksub, seed, train_sample, books)
    qm = _unit_rows(_batch_matrix(r[1] for r in qrows))
    return _ann_search(
        _float_corpus(embeddings, id_col, vec_col), qrows, _pq_codec(qm, books), k,
        rerank=rerank, float_corpus=embeddings, id_col=id_col, vec_col=vec_col,
        round_scale=round_scale,
    )


def pq_build_index(
    embeddings: DataFrame,
    index_path: str,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books=None,
    seed: int = 42,
    train_sample: int = 2048,
    n_lists: int | None = None,
    centroids=None,
) -> None:
    """Materialize the PQ physical layout — the classic IVFPQ index
    when composed with ``n_lists`` (Jégou et al. 2011, the canonical
    billion-scale ANN layout): the corpus encoded to
    ``{index_path}/codes`` as (vec_id, codes binary) — ``m`` BYTES per
    vector, a ``dim*8/m``-fold shrink over float64 (64x at the
    defaults for dim=64) — plus the ``{index_path}/books`` codebook
    sidecar (m*ksub rows). SQ8's codes cut scan BANDWIDTH 8x keeping
    every dimension; PQ's codes shrink what is HELD far harder at the
    price of a coarse ADC, which is why :func:`pq_search` defaults to
    the corpus-scaled exact-rerank budget.

    Encoding is ONE Arrow pass of the same encode function
    :func:`pq_topk` runs in-scan, so a physical search equals the flat
    scan row for row at the same parameters.

    ``n_lists`` composes the two pruning axes exactly as in
    ``sq8_build_index``: codes additionally carry the coarse-list
    assignment (argmax rounded dot, lowest-list ties; centroids to
    ``{index_path}/centroids``) and write PARTITIONED BY ``list_id``,
    so a probed :func:`pq_search` opens ``n_probe/n_lists`` of the
    FILES and reads ``m`` bytes per held vector — IVF prunes what is
    read, PQ shrinks what is held.

    ``books`` (an (m, ksub, dim//m) array-like) skips the seeded
    k-means trainer, e.g. the lowest-id-subvector books a SQL oracle
    can reconstruct (the ``emb_pq_topk`` treatment).
    """
    import pyarrow as pa

    books = _pq_books(embeddings, id_col, vec_col, m, ksub, seed, train_sample, books)
    _sidecar_write(
        f"{index_path}/books",
        {
            "j": [j for j in range(m) for _ in range(ksub)],
            "cid": [c for _ in range(m) for c in range(ksub)],
            "bv": [[float(v) for v in books[j, c]] for j in range(m) for c in range(ksub)],
        },
        pa.schema(
            [("j", pa.int32()), ("cid", pa.int32()), ("bv", pa.list_(pa.float64()))]
        ),
    )
    cents = None if n_lists is None else _coarse_centroids(
        embeddings, index_path, id_col, vec_col, n_lists, seed, train_sample, centroids
    )
    _write_index(embeddings, id_col, vec_col, f"{index_path}/codes", cents, _pq_encode, books)


def pq_search(
    spark,
    index_path: str,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int = 10_000,
    n_probe: int | None = None,
) -> DataFrame:
    """Search a materialized PQ index (:func:`pq_build_index`) — IVFPQ
    when the index is list-partitioned: the skeleton with the PQ ADC
    codec over the codes files, which hold ONLY (vec_id, codes) at
    ``m`` bytes per vector; survivors re-rank exactly through
    :func:`_adc_exact_rerank` (the float table is touched only via
    broadcast joins on the candidate ids). One Python stage: the byte
    scan, exactly like :func:`sq8_search`.

    On a list-partitioned index the probe set prunes both axes:
    ``list_id IN (probes)`` is a partition filter (non-probed
    directories never open) and what IS read is ``m`` bytes per
    vector. ``n_probe`` defaults to 4 there; probing every list
    reproduces the flat answer exactly.

    ``rerank=None`` (the DEFAULT here, unlike ``sq8_search``) applies
    the corpus-scaled budget (:func:`_auto_rerank_budget` with the PQ
    floor of 128, over the probed codes count): PQ's coarse 8-code ADC
    genuinely needs the budget to track the candidate pool, where
    SQ8's near-exact ADC does not. Composing with IVF keeps the pool —
    and hence the budget — bounded by the probed fraction.

    Matches :func:`pq_topk` row for row at the same parameters — the
    same encode, codec and skeleton — INCLUDING ``rerank=None`` on a
    flat index, where both resolve the budget through the same helper
    at the same floor.

    CONTRACT: ``embeddings`` must be the SAME corpus the index was
    built from (the rerank joins survivors back by id), exactly as
    with ``sq8_search``/``ivf_search``.
    """
    book_rows = _sidecar_rows(f"{index_path}/books")
    m = max(r["j"] for r in book_rows) + 1
    ksub = max(r["cid"] for r in book_rows) + 1
    books = np.zeros((m, ksub, len(book_rows[0]["bv"])), dtype=np.float64)
    for r in book_rows:
        books[r["j"], r["cid"]] = r["bv"]

    qrows = _bounded_query_rows(queries, id_col, vec_col, None, max_queries, "pq_search")
    if not qrows:
        return local_frame(spark, [], _TOPK_SCHEMA)
    qm = _unit_rows(_batch_matrix(r[1] for r in qrows))
    corpus, probes = _open_index(spark, index_path, "codes", qm, n_probe, "pq_search")
    if rerank is None:
        # PQ floor (128): same helper + same floor as pq_topk, so the
        # two paths resolve identical budgets at the same scanned count
        rerank = _auto_rerank_budget(corpus.count(), floor=128)
    return _ann_search(
        corpus, qrows, _pq_codec(qm, books), k, rerank=rerank,
        float_corpus=embeddings, id_col=id_col, vec_col=vec_col,
        round_scale=round_scale, probes=probes,
    )


def _np_unit_rounded(m):
    """The 8dp-rounded unit vectors of a (rows, dim) float64 matrix,
    accumulating the norm STRICTLY left-to-right via ``np.cumsum`` —
    the exact IEEE op sequence of both the JVM ``F.aggregate`` fold
    (`_dot`) and DuckDB's ``list_dot_product``, so every downstream
    SQ8 code is bit-identical across engines (a plain ``.sum()`` would
    pairwise-accumulate and could differ by an ulp on the 8dp
    boundary; equality with the JVM fold is pinned in tests). Zero
    vectors clamp like ``_norm``."""
    n2 = np.cumsum(m * m, axis=1)[:, -1]
    norm = np.maximum(np.sqrt(n2), 1e-12)
    return _nround(m / norm[:, None])


def _sq8_dim_stats(df: DataFrame, id_col: str, vec_col: str):
    """Per-dimension (mn, mx) float64 arrays over the corpus's rounded
    unit values — the SQ8 training pass. One Arrow scan emitting
    dim-count rows per PARTITION (partial min/max inside the batch
    loop), then a dim-row final aggregate: the shuffle carries
    partitions x dim rows, never data."""
    def partial(batches):
        import pandas as pd

        lo = hi = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            un = _np_unit_rounded(np.array(list(pdf[vec_col]), dtype=np.float64))
            bl, bh = un.min(axis=0), un.max(axis=0)
            lo = bl if lo is None else np.minimum(lo, bl)
            hi = bh if hi is None else np.maximum(hi, bh)
        if lo is not None:
            yield pd.DataFrame(
                {"pos": np.arange(len(lo), dtype="int32"), "mn": lo, "mx": hi}
            )

    stats = (
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(partial, schema="pos int, mn double, mx double")
        .groupBy("pos")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .collect()
    )
    dim = max(r["pos"] for r in stats) + 1
    mn = np.zeros(dim, dtype=np.float64)
    mx = np.zeros(dim, dtype=np.float64)
    for r in stats:
        mn[r["pos"]] = r["mn"]
        mx[r["pos"]] = r["mx"]
    return mn, mx


# Above this many candidate rows (|queries| x (k+rerank)), the
# survivor list stops being broadcast-sized: skip the explicit hint
# and let AQE pick the join strategy from the measured size instead.
# ~24 bytes/row puts the hinted ceiling around tens of MB, far from
# driver memory pressure; the documented caps (max_queries=10000 x
# auto-rerank cap 8192) would otherwise hint an ~80M-row broadcast.
_BROADCAST_CAND_ROWS = 1_000_000


def _adc_exact_rerank(
    spark,
    cand_cut: DataFrame,
    qrows,
    float_corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_scale: int,
    cand_bound: int | None = None,
) -> DataFrame:
    """The SHARED exact re-rank stage of the quantized scans
    (:func:`pq_topk`, :func:`pq_search`, :func:`sq8_topk`,
    :func:`sq8_search`): join the ADC-survivor list
    (at most |queries| x (k+rerank) ids) against the float table,
    broadcast the collected query vectors, and score with the JVM
    codegen ``_dot``/``_norm`` fold — the same left-to-right IEEE op
    sequence DuckDB's ``list_dot_product`` uses, so the
    ``round_scale``-rounded cosine is identical across engines by
    construction (an accumulation-order ulp on the rounding boundary
    cannot occur; the callers share this code, so their row-for-row
    parity is structural). Full-width vectors are read for candidates
    only, never the corpus.

    ``cand_bound`` is the caller's upper bound on the survivor-list
    rows (|queries| x (k+rerank)). The broadcast hint on the survivor
    join applies only when that bound is known and under
    ``_BROADCAST_CAND_ROWS`` — at the documented caps the list is
    ~80M rows, well past sensible broadcast size, so larger (or
    unknown) bounds leave the strategy to AQE's measured sizes."""
    qdf = local_frame(
        spark,
        [(int(r[0]), [float(v) for v in r[1]]) for r in qrows],
        "vec_id bigint, qv array<double>",
    )
    cv = float_corpus.select(
        F.col(id_col).cast("bigint").alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    cos = _dround_once(
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))),
        round_scale,
    )
    cand = (
        F.broadcast(cand_cut)
        if cand_bound is not None and cand_bound <= _BROADCAST_CAND_ROWS
        else cand_cut
    )
    scored = (
        cv.join(cand, "neighbor_id")
        .join(F.broadcast(qdf), "vec_id")
        .select("vec_id", "neighbor_id", cos.alias("cos_sim"))
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


def _sq8_encode(raw, mn, mx):
    """SQ8 encode: per-dimension affine quantization of the
    fold-order-exact rounded unit values (:func:`_np_unit_rounded`) —
    ``code_d = floor((u_d - mn_d) / (mx_d - mn_d) * 255 + 0.5)``, 0 on a
    constant dimension. (rows, dim) uint8, bit-identical to the
    oracle's codes."""
    span = mx - mn
    nz = span > 0
    um = _np_unit_rounded(raw)
    codes = np.zeros_like(um)
    codes[:, nz] = np.floor((um[:, nz] - mn[nz]) / span[nz] * 255.0 + 0.5)
    return codes.astype(np.uint8)


def _sq8_codec(qn, mn, mx):
    """SQ8 codec: the dot of the rounded unit queries ``qn`` with each
    row's DEQUANTIZED vector ``mn + code * (mx - mn) / 255``, ROUNDED at
    6dp."""
    scale = (mx - mn) / 255.0

    def score(pdf):
        return _nround(qn @ (mn + _codes_of(pdf, _sq8_encode, mn, mx) * scale).T, 6)

    return score


def sq8_topk(
    embeddings: DataFrame,
    k: int = 5,
    rerank: int = 32,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int | None = None,
) -> DataFrame:
    """Int8 scalar-quantized approximate top-k with exact re-rank — the
    MEMORY-BANDWIDTH path of the ANN family (IVF prunes what is READ,
    LSH prunes what is COMPARED, PQ shrinks what is HELD to ``m``
    codes; SQ8 keeps EVERY dimension but at 1 byte instead of 8:
    per-dimension affine min/max quantization of the unit-normalized
    corpus, so a 100 TB float64 index scans as ~12.5 TB of codes).

    The flat form of :func:`sq8_search`. Training is ONE Arrow scan
    with per-partition partial min/max over the ROUNDED unit values
    (:func:`_sq8_dim_stats`: the shuffle carries dim-count rows per
    partition, not data). Then the skeleton runs the SQ8 codec over
    the float corpus, each Arrow batch encoded in-scan by the very
    function :func:`sq8_build_index` writes; the top ``k + rerank``
    candidates re-rank EXACTLY, so quantization error affects only
    which candidates survive, never reported similarities.

    Determinism (oracle-replayable end to end): the quantization
    INPUT is :func:`_np_unit_rounded` — the norm accumulates strictly
    left-to-right (``np.cumsum``), the exact IEEE op sequence of both
    the JVM ``F.aggregate`` fold and DuckDB's ``list_dot_product``
    twin (pinned equal in tests) — so codes are BIT-IDENTICAL across
    engines, and the per-dim min/max are selections of those shared
    values (no accumulation). The ADC analog rounds at 6dp, the exact
    cosine at ``round_scale``, every ordering breaks ties by id, the
    candidate cut is partition-independent, and the exact re-rank runs
    JVM-side with the same op sequence as the oracle.

    Unlike ``pq_topk`` the default ``rerank`` is a small FIXED 32:
    8-bit-per-dim reconstruction error is tiny (the ADC ordering is
    nearly exact), so the budget does not need to scale with the
    corpus the way PQ's coarse 8-code ADC does.
    """
    qrows = _bounded_query_rows(
        embeddings, id_col, vec_col, query_filter, max_queries, "sq8_topk"
    )
    if not qrows:
        return local_frame(embeddings.sparkSession, [], _TOPK_SCHEMA)
    mn, mx = _sq8_dim_stats(embeddings, id_col, vec_col)
    qn = _np_unit_rounded(_batch_matrix(r[1] for r in qrows))
    return _ann_search(
        _float_corpus(embeddings, id_col, vec_col), qrows, _sq8_codec(qn, mn, mx), k,
        rerank=rerank, float_corpus=embeddings, id_col=id_col, vec_col=vec_col,
        round_scale=round_scale,
    )


def sq8_build_index(
    embeddings: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    centroids=None,
    seed: int = 42,
    train_sample: int = 2048,
):
    """Materialize the SQ8 physical layout: the corpus encoded to
    ``{index_path}/codes`` as (vec_id, codes binary) — each vector's
    0..255 codes stored in ONE binary cell of exactly ``dim`` bytes — plus
    the per-dimension ``{index_path}/minmax`` sidecar (dim rows). This
    is where the bandwidth claim becomes physical: :func:`sq8_search`
    scans ONLY the codes files (the float column never appears in its
    candidate stage) and decodes each Arrow batch with a single
    ``np.frombuffer``. Encoding is one Arrow pass of the same encode
    function :func:`sq8_topk` runs in-scan, after the one
    partial-aggregate min/max training scan. Returns (mn, mx).

    ``n_lists`` COMPOSES the two pruning axes: the codes additionally
    carry an IVF coarse-list assignment and write PARTITIONED BY
    ``list_id`` (centroids to ``{index_path}/centroids`` as in
    :func:`ivf_build_index`), so a probed :func:`sq8_search` reads
    ``n_probe/n_lists`` of the FILES and an eighth of the BYTES —
    IVF prunes what is read, SQ8 shrinks what is scanned.
    ``centroids`` overrides the seeded k-means trainer exactly as in
    ``ivf_build_index``.
    """
    import pyarrow as pa

    mn, mx = _sq8_dim_stats(embeddings, id_col, vec_col)
    _sidecar_write(
        f"{index_path}/minmax",
        {
            "pos": list(range(len(mn))),
            "mn": [float(v) for v in mn],
            "mx": [float(v) for v in mx],
        },
        pa.schema([("pos", pa.int32()), ("mn", pa.float64()), ("mx", pa.float64())]),
    )
    cents = None if n_lists is None else _coarse_centroids(
        embeddings, index_path, id_col, vec_col, n_lists, seed, train_sample, centroids
    )
    _write_index(embeddings, id_col, vec_col, f"{index_path}/codes", cents, _sq8_encode, mn, mx)
    return mn, mx


def _auto_rerank_budget(n_scanned: int, floor: int = 64) -> int:
    """The SHARED corpus-scaled exact-rerank budget of every quantized
    scan, parameterized by what the caller actually SCANS:
    ``max(floor, ceil(n/16))`` capped at 8192 (the executor-memory
    bound). The floor is quantizer-specific: the PQ paths —
    ``pq_topk`` AND ``pq_search`` — pass 128 because the coarse m-code
    ADC genuinely needs the wider exact window (the r10 recall
    regression), so the two resolve IDENTICAL budgets at the same
    scanned count and their row-for-row parity holds at
    ``rerank=None`` too; the SQ8 paths keep the 64 default (their
    near-exact 8-bit ADC is budget-insensitive — the r13 sweep).
    ``pq_search``/``sq8_search`` pass the PROBED codes count, so
    composing with IVF keeps the budget bounded by the probed pool,
    not the corpus."""
    import math

    return max(floor, min(math.ceil(n_scanned / 16), 8192))


def sq8_search(
    spark,
    index_path: str,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    rerank: int | None = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 8,
    max_queries: int = 10_000,
    n_probe: int | None = None,
) -> DataFrame:
    """Search a materialized SQ8 index (:func:`sq8_build_index`): the
    skeleton with the SQ8 codec over the codes files — 8x less
    bandwidth than the float64 corpus — dequantizing per Arrow batch
    against the minmax sidecar. Survivors then re-rank EXACTLY against
    ``embeddings`` (the float table), which is touched only via a
    BROADCAST join on the |queries| x (k+rerank) candidate ids. The
    exact re-rank runs JVM-side, so the whole search has exactly one
    Python stage: the byte scan. An index whose ``codes`` column is
    not ``binary`` raises ``ValueError``.

    On an IVF-composed index (``sq8_build_index(n_lists=...)``) the
    probe set prunes BOTH axes: ``list_id IN (probes)`` is a partition
    filter (non-probed directories never open, as in ``ivf_search``)
    and what IS read is bytes — ``n_probe/n_lists`` of the files at an
    eighth of the width. ``n_probe`` defaults to 4 there; probing
    every list reproduces the flat-index answer exactly.

    ``rerank=None`` applies the PQ-style corpus-scaled budget
    (:func:`_auto_rerank_budget`, floor 64) over the row count of the
    PROBED codes frame (the partition-pruned scan — one cheap count of
    a codes-only read). The scan is pruned to the probe UNION across
    all queries, so a large diverse query batch can union every list;
    the budget follows what is READ, which upper-bounds every query's
    own candidate pool. Measured (r13 sweep, SCALING.md): on this
    corpus SQ8's 8-bit ADC orders nearly exactly, so recall is
    INSENSITIVE to the budget — the recall knob for the composed
    search is ``n_probe`` (4/16 -> 0.54, 8/16 -> 0.77, 12/16 -> 0.94).
    The auto budget is a guard rail for corpora with wider per-dim
    dynamic range; a pinned int keeps the call action-free and the
    oracle scale-stable.

    Matches :func:`sq8_topk` row for row at the same parameters — the
    same encode, codec, skeleton and exact re-rank.

    CONTRACT: ``embeddings`` must be the SAME corpus the index was
    built from (the rerank joins survivors back by id) — a drifted
    float table silently re-scores candidates against different
    vectors; rebuild the index when the corpus changes, exactly as
    with ``ivf_build_index``.
    """
    mm = sorted(_sidecar_rows(f"{index_path}/minmax"), key=lambda r: r["pos"])
    mn = np.array([r["mn"] for r in mm], dtype=np.float64)
    mx = np.array([r["mx"] for r in mm], dtype=np.float64)

    qrows = _bounded_query_rows(queries, id_col, vec_col, None, max_queries, "sq8_search")
    if not qrows:
        return local_frame(spark, [], _TOPK_SCHEMA)
    qt = _batch_matrix(r[1] for r in qrows)
    corpus, probes = _open_index(spark, index_path, "codes", _unit_rows(qt), n_probe, "sq8_search")
    if rerank is None:
        # PQ-style corpus-scaled budget over what this search SCANS:
        # the probed codes frame (partition-pruned, codes-only — the
        # count never touches float vectors)
        rerank = _auto_rerank_budget(corpus.count())
    return _ann_search(
        corpus, qrows, _sq8_codec(_np_unit_rounded(qt), mn, mx), k, rerank=rerank,
        float_corpus=embeddings, id_col=id_col, vec_col=vec_col,
        round_scale=round_scale, probes=probes,
    )
