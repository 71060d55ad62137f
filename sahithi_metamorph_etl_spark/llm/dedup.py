"""Deduplication operators: exact, n-gram Jaccard and containment,
MinHash-LSH (within a corpus and against prior snapshots), SimHash,
and passage copies.

Training-data dedup at 100 TB cannot compare all pairs. Every n-gram
pair producer here is the same candidate → exact-verify pipeline,
written once:

1. SHINGLE INDEX — word n-grams hashed to xxhash64 longs (one token
   prelude, :func:`_doc_tokens`, and one gram builder,
   :func:`_grams_expr`), either as a distinct
   ``(id, shingle)`` row index or as one distinct-hash array per doc.
2. CANDIDATES — pairs that can reach the threshold, never all pairs:
   - :func:`jaccard_pairs`: self-join of the rare-first PREFIX index
     (AllPairs/PPJoin), exact;
   - :func:`containment_pairs`: the inverted-index self-join
     (:func:`_overlap_pairs`), whose overlap count is already exact;
   - :func:`minhash_lsh_pairs`: equal LSH band signatures (64 perms,
     16 bands x 4 rows — Broder MinHash / LSH banding as in Mining of
     Massive Datasets ch.3);
   - :func:`neardup_against_seen`: the same band signatures of a
     bounded batch, probed against a persisted store of prior
     snapshots.
3. VERIFY — the self-join producers share one Spark verify,
   :func:`_verify_jaccard`: ``size(array_intersect)`` over the per-doc
   hash arrays, keeping Jaccard >= threshold. The against-seen
   decision (:func:`_decide_against_seen`) is per batch and runs on
   the driver: the batch's hash arrays are collected once, and its
   candidate pairs are scored there with the same formula, to the same
   double.

The four share one threshold rule (:func:`_check_threshold`: (0, 1])
and one hot-key cap (:func:`_key_counts`, also behind
:func:`passage_dups`). Exact dedup is one hash-aggregate on a content
fingerprint (1 shuffle); SimHash is a 64-bit sign-of-weighted-sum
signature (Charikar) with hamming chunk buckets for candidates.
Everything is DataFrame ops except the MinHash band kernel
(:func:`_band_kernel`), which runs in one Arrow batch pass over a
corpus and on the driver over a batch.
"""

from __future__ import annotations

import random

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from ..core.frames import local_frame
from ..operators.windows import CacheRelease
from .textstats import content_fingerprint

# Mersenne prime 2^31-1 as universal-hash modulus: a*h stays < 2^62, so
# the multiply cannot overflow long under Spark 4's ANSI arithmetic
# (a 61-bit modulus needs 128-bit multiplies the JVM long cannot do)
_MERSENNE31 = (1 << 31) - 1


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (modulo normalization) documents:
    (fingerprint, keeper_doc_id = min id, n_docs)."""
    fp = content_fingerprint(df, text_col, id_col)
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _grams_expr(n: int, arr: str = "w") -> Column:
    """Word n-gram shingle array over the materialized token-array
    column ``arr``, built as ONE parsed SQL string. Exactly the
    expression tree the previous ``F.when``/``F.transform`` build
    produced (analyzed plans identical modulo lambda-variable names;
    results bit-identical on the corpus), but parsing a single string
    is one py4j round trip instead of dozens — ~100 ms of driver-side
    plan construction saved per call, which the neardup stream pays
    several times per micro-batch. Docs with < n tokens yield an empty
    array (size(NULL) = -1 keeps a null token array on the empty
    branch, as before)."""
    parts = ", ".join(
        f"element_at({arr}, cast(((i + {j}) + 1) AS INT))" for j in range(n)
    )
    return F.expr(
        f"CASE WHEN (size({arr}) >= {n}) THEN "
        f"transform(sequence(0, size({arr}) - {n}), i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The token array is materialized as its own projection FIRST: inside
    the shingle lambda it is then an attribute reference, not the
    ``split`` expression — otherwise every ``element_at`` re-splits the
    whole document (O(tokens x shingles) re-evaluation; Catalyst's
    CollapseProject keeps the boundary because ``split`` is non-cheap
    and referenced many times)."""
    words = df.select(F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("w"))
    return words.select(F.col(id_col), F.explode(_grams_expr(n)).alias("shingle")).distinct()


def hot_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_freq: int = 2,
    k: int | None = None,
) -> DataFrame:
    """Heavy-hitter shingles: (shingle, n_docs) for shingles appearing
    in >= ``min_freq`` documents, frequency-descending (``k`` caps the
    output). These are the boilerplate n-grams (headers, licenses,
    navigation chrome) that drive the inverted-index self-join's
    O(Σ freq²) fan-out — profile them with this, cap them with
    ``jaccard_pairs(max_shingle_freq=...)``. One shuffle (the
    count agg); the top-k sort runs on the already-aggregated frame."""
    freq = (
        word_shingles(df, text_col, id_col, n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_freq)
        .orderBy(F.col("n_docs").desc(), F.col("shingle"))
    )
    return freq.limit(k) if k is not None else freq


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, w)``: each doc's whitespace token array — the one token
    prelude of the hashed shingle forms, which build their n-grams over
    ``w`` with :func:`_grams_expr`. Null text reads as ``""`` (no
    shingles for n >= 2). ``w`` is its own projection so the gram
    lambda sees an attribute, not ``split`` (see :func:`word_shingles`)."""
    return df.select(
        F.col(id_col),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+").alias("w"),
    )


def _hashed_shingle_index(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Distinct ``(id, shingle)`` inverted index carrying xxhash64
    SHINGLE HASHES — fixed-width long join keys instead of n-gram
    strings (set counts exact up to 64-bit collisions, p ≈
    |shingles|²·2⁻⁶⁵). The gram array is exploded inline: projecting
    it to a column first measured ~0.8 s slower per
    ``doc_dedup_clusters`` build on 4 cores. The hash is a SCALAR
    projection after the explode — hashing inside an HOF chain under
    the Generate re-evaluates the whole array expression per emitted
    row (measured 6 s vs 0.5 s for the index build)."""
    return (
        _doc_tokens(df, text_col, id_col)
        .select(F.col(id_col), F.explode(_grams_expr(n)).alias("__s"))
        .select(F.col(id_col), F.xxhash64("__s").alias("shingle"))
        .distinct()
    )


def _shingle_hash_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """``(id, __hs)``: each doc's DISTINCT xxhash64 shingle hashes as one
    array — the same hashes :func:`_hashed_shingle_index` emits as rows.
    Tokenize, shingle and hash all run in JVM whole-stage codegen;
    Python never touches a string. Docs with < n tokens yield an empty
    array. The distinct shingle array is materialized before the
    hashing HOF, so its lambda sees an attribute reference."""
    sh = _doc_tokens(df, text_col, id_col).select(
        F.col(id_col), F.array_distinct(_grams_expr(n)).alias("__sh")
    )
    return sh.select(
        F.col(id_col), F.expr("transform(__sh, s -> xxhash64(s))").alias("__hs")
    )


def _check_threshold(threshold: float, op_name: str) -> None:
    """The one threshold rule of the pair producers: a Jaccard or
    containment score is a set-overlap ratio, so the cut lies in
    (0, 1]. Above 1 nothing can pass (a silently empty result); at or
    below 0 the verify keeps zero-overlap candidates."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"{op_name}: threshold must be in (0, 1], got {threshold!r} — "
            "a similarity threshold is a set-overlap ratio"
        )


def _key_counts(
    df: DataFrame, key: str, max_freq: int | None, param: str
) -> DataFrame:
    """``(key, __f)``: how many rows of ``df`` carry each ``key`` — with
    ``max_freq``, only the keys at or under it. This is the one hot-key
    cap (boilerplate shingles and passages, whose self-join fan-out is
    freq² per key). Below 2 no key could connect any pair and the
    output would be silently empty, so that raises ``ValueError``."""
    if max_freq is not None and max_freq < 2:
        raise ValueError(
            f"{param} must be >= 2 (got {max_freq}): below 2 no key can "
            "connect any pair and the output is empty"
        )
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__f"))
    return counts if max_freq is None else counts.filter(F.col("__f") <= max_freq)


def _drop_hot_keys(
    df: DataFrame, key: str, max_freq: int | None, param: str
) -> DataFrame:
    """``df`` without the rows whose ``key`` is over the
    :func:`_key_counts` cap (``None`` keeps everything)."""
    if max_freq is None:
        return df
    return df.join(_key_counts(df, key, max_freq, param).select(key), key, "left_semi")


def _with_release(pairs: DataFrame, pinned: DataFrame, return_release: bool):
    """``pairs``, or ``(pairs, CacheRelease(pinned))`` for a caller that
    drops the persisted frame backing the plan once it materializes
    (the ``operators.windows.global_rank`` lifetime contract)."""
    return (pairs, CacheRelease(pinned)) if return_release else pairs


def _overlap_pairs(sh: DataFrame, id_col: str) -> DataFrame:
    """``(doc_a, doc_b, n_common, n_a, n_b)`` for every pair
    ``doc_a < doc_b`` sharing a shingle of the distinct ``(id, shingle)``
    index ``sh``: the inverted-index self-join (fan-out Σ freq² over
    shingles), grouped overlap counts, and both set sizes. ``sh`` feeds
    three consumers (sizes and both join sides); a caller that runs the
    plan for real persists it."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col(id_col).alias("doc_a"), F.col("__n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("__n").alias("n_b")), "doc_b")
    )


def _verify_jaccard(
    cand: DataFrame,
    arr_a: DataFrame,
    arr_b: DataFrame,
    id_col: str,
    threshold: float,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """The one exact verify: candidate pairs ``(a, b)`` join each side's
    per-doc distinct-hash array (``arr_a``/``arr_b``: ``(id_col, __hs)``
    from :func:`_shingle_hash_arrays` or :func:`_rarefirst_hash_arrays`),
    score ``|A ∩ B| / |A ∪ B|`` with ``size(array_intersect)``, and keep
    Jaccard >= ``threshold``. Returns ``(a, b, jaccard)``.

    The arrays ride whole into ``array_intersect`` and are never
    exploded, so the verify is two doc-keyed joins — no shingle-keyed
    overlap join, overlap groupBy or size aggregate. Values equal the
    exploded-index form bit for bit (same distinct xxhash64 sets)."""
    common = F.size(F.array_intersect("__ha", "__hb"))
    jac = common / (F.size("__ha") + F.size("__hb") - common)
    return (
        cand.join(arr_a.select(F.col(id_col).alias(a), F.col("__hs").alias("__ha")), a)
        .join(arr_b.select(F.col(id_col).alias(b), F.col("__hs").alias("__hb")), b)
        .select(a, b, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _rarefirst_hash_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """Persisted per-doc xxhash64 shingle arrays ``(id, __hs, __n)`` in
    the canonical rare-first (freq, hash) order that the prefix filter
    of :func:`jaccard_pairs` needs. ``__n`` is the POST-cap set size, so
    ratios computed from it stay internally consistent under
    ``max_shingle_freq``.

    Persisted because it feeds THREE consumers (the prefix index and
    both verify sides); it is the compact representation of the shingle
    index — one row per doc, not per (doc, shingle)."""
    sh = _hashed_shingle_index(df, text_col, id_col, n)
    freq = _key_counts(sh, "shingle", max_shingle_freq, "max_shingle_freq")
    return (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__f", "shingle"))),
                lambda s: s["shingle"],
            ).alias("__hs")
        )
        .withColumn("__n", F.size("__hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
    return_release: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold:
    ``(doc_a, doc_b, jaccard)`` for doc_a < doc_b.

    The shingle index carries xxhash64 hashes, not strings: fixed-width
    long keys make the join hash and compare cheap and the join state
    compact; set counts are exact up to 64-bit hash collisions
    (~2e-9 at a million distinct shingles; the same trade
    minhash_lsh_pairs makes).

    At open-web scale pass ``max_shingle_freq``: shingles shared by more
    documents than that are dropped BEFORE the self-join, bounding the
    fan-out at max_freq² per surviving shingle. Scores then approximate
    Jaccard over the non-boilerplate shingle space — per-doc sizes are
    recomputed on the capped index so the ratio stays internally
    consistent; pairs connected ONLY by boilerplate no longer surface
    (that is the point).

    PREFIX FILTERING (r10, the AllPairs/PPJoin principle — Bayardo et
    al. WWW'07, Xiao et al. VLDB'08): a qualifying pair at Jaccard >= t
    needs overlap c >= ceil(t*|A|) and >= ceil(t*|B|), and under ANY
    shared total order the SMALLEST common element must sit inside
    both docs' first |X| - ceil(t*|X|) + 1 elements (if all c common
    elements sat behind that prefix, fewer than c positions would
    remain — pigeonhole). So the candidate self-join runs on the
    rare-first-ordered PREFIX index only — at t=0.8 that is ~20% of
    the index, shrinking the freq² join fan-out ~25× — and candidates
    go through the one exact verify (:func:`_verify_jaccard`) on the
    full per-doc hash arrays. Output is bit-identical to the naive
    all-pairs form (pinned in tests + the same DuckDB oracle); the
    float ceil carries a -1e-9 epsilon so a representation error can
    only ever LENGTHEN a prefix, never unsoundly shorten it.

    Measured at sf0.1 (same-session A/Bs, two fresh sessions): prefix
    beats the naive inverted-index form at EVERY threshold once the
    per-doc array frame is persisted for its three consumers —
    t=0.8: 1.41 vs 2.04 s, t=0.5: 1.67 vs 1.72 s, t=0.3: 1.68 vs
    1.90 s — and under the 8x token-tagged corpus it grows 1.4x vs
    the naive 1.9x. The fan-out bound (~(1-t)^2 of freq^2 per
    shingle) is the scale insurance; it composes with the
    hot-shingle cap.

    ``threshold`` must lie in (0, 1] (``ValueError`` otherwise). With
    ``return_release=True`` returns ``(pairs, CacheRelease)`` — the
    per-doc array frame backs the returned plan so it cannot be
    unpersisted here; call ``release()`` after materializing to drop
    the pinned partitions (same lifetime contract as
    ``operators.windows.global_rank``).
    """
    _check_threshold(threshold, "jaccard_pairs")
    arr = _rarefirst_hash_arrays(df, text_col, id_col, n, max_shingle_freq)
    # prefix = first n - ceil(t*n) + 1 elements (the epsilon guards
    # the integer boundary of the float product: errors can only
    # lengthen the prefix)
    plen = (
        F.col("__n")
        - F.ceil(F.lit(float(threshold)) * F.col("__n") - F.lit(1e-9))
        + 1
    ).cast("int")
    pidx = arr.select(
        F.col(id_col), F.explode(F.slice("__hs", 1, plen)).alias("shingle")
    )
    cand = (
        pidx.select(F.col(id_col).alias("doc_a"), "shingle")
        .join(pidx.select(F.col(id_col).alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = _verify_jaccard(cand, arr, arr, id_col, threshold)
    return _with_release(pairs, arr, return_release)


def _jaccard_from_shingles(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Exact all-pairs Jaccard over a distinct ``(id, shingle)`` index —
    the reference the prefix-filtered :func:`jaccard_pairs` is pinned
    against in tests."""
    p = _overlap_pairs(sh, id_col)
    jac = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return p.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
    return_release: bool = False,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs (Broder's containment):
    ``C(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|``.
    Returns (doc_a, doc_b, containment_a_in_b, containment_b_in_a) for
    doc_a < doc_b where EITHER direction >= ``threshold`` — the measure
    that catches sub-documents (quotes, boilerplate-wrapped reposts, a
    chunk extracted from a longer doc), which symmetric Jaccard scores
    low because the size imbalance dominates the union.

    One exact engine: the hashed inverted-index self-join
    (:func:`_overlap_pairs`) counts the overlap of every pair sharing a
    shingle, so the ratios need no separate verify. A contained-side
    PPJoin prefix path used to sit next to it; it was slower at every
    measured scale (sf0.1, 4 cores, t=0.8: median 2.13 s vs 4.37 s over
    5 interleaved runs, same 256 pairs; 8x token-tagged: 2.91 s vs
    4.02 s) and was removed. Fan-out is Σ freq² over shingles — bound
    it with ``max_shingle_freq``.

    ``max_shingle_freq`` drops boilerplate shingles BEFORE the join
    with the same approximation contract as ``jaccard_pairs`` (per-doc
    sizes recomputed on the capped index so ratios stay internally
    consistent). Docs with fewer than ``n`` tokens have no shingles
    and never pair. ``threshold`` must lie in (0, 1].

    With ``return_release=True`` returns ``(pairs, CacheRelease)`` —
    same lifetime contract as ``jaccard_pairs(return_release=True)``:
    the persisted index frame drops on ``release()`` instead of
    pinning block-manager storage for the session.
    """
    _check_threshold(threshold, "containment_pairs")
    sh = _drop_hot_keys(
        _hashed_shingle_index(df, text_col, id_col, n),
        "shingle", max_shingle_freq, "max_shingle_freq",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = (
        _overlap_pairs(sh, id_col)
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common") * 1.0 / F.col("n_a")).alias("containment_a_in_b"),
            (F.col("n_common") * 1.0 / F.col("n_b")).alias("containment_b_in_a"),
        )
        .filter(F.greatest("containment_a_in_b", "containment_b_in_a") >= threshold)
    )
    return _with_release(pairs, sh, return_release)


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int, int]]:
    rng = random.Random(seed)
    return [
        (i, rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for i in range(num_perm)
    ]


def _band_kernel(num_perm: int, bands: int):
    """The one MinHash-LSH band kernel: ``kernel(ids, hash_arrays) ->
    (ids, bands, sigs)``, one output row per (doc, band), where
    ``hash_arrays`` holds each doc's xxhash64 shingle hashes (as
    :func:`_shingle_hash_arrays` emits them) and ``sig`` is the band's
    min-hashes joined with commas. The vectorized a*h+b mod p
    min-matrix runs per doc (a, h < 2^31, so the uint64 product cannot
    overflow). Docs with no hashes (< n tokens) emit no rows.

    A nested function from this factory, so cloudpickle ships it BY
    VALUE to the Arrow workers of :func:`band_signature_store` (they
    import nothing from this package), and the driver-side decision of
    :func:`_decide_against_seen` runs the very same function."""
    import numpy as np

    if bands <= 0 or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_perm ({num_perm}); "
            "a non-divisor silently drops permutations and bands > num_perm "
            "would bucket every document together"
        )
    rows_per_band = num_perm // bands
    perm_a = np.array([a for _, a, _ in _perm_params(num_perm)], dtype=np.uint64)
    perm_b = np.array([b for _, _, b in _perm_params(num_perm)], dtype=np.uint64)
    mersenne = np.uint64(_MERSENNE31)

    def kernel(ids, hash_arrays):
        import numpy as np

        out_id, out_band, out_sig = [], [], []
        for doc_id, hs_list in zip(ids, hash_arrays):
            if hs_list is None or len(hs_list) == 0:  # < n tokens
                continue
            hs = np.asarray(hs_list, dtype=np.int64).view(np.uint64) % mersenne
            mins = ((hs[:, None] * perm_a[None, :] + perm_b[None, :]) % mersenne).min(axis=0)
            for j in range(bands):
                out_id.append(doc_id)
                out_band.append(j)
                out_sig.append(
                    ",".join(str(v) for v in mins[j * rows_per_band : (j + 1) * rows_per_band])
                )
        return out_id, out_band, out_sig

    return kernel


def band_signature_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, sig) MinHash-LSH band signatures — the persistable
    BAND STORE a cross-snapshot near-dup pipeline appends to after each
    batch (see :func:`neardup_against_seen`), and the signature stage
    :func:`minhash_lsh_pairs` self-joins within one corpus.

    Zero-shuffle, split JVM/Python at the right seam:
    tokenize→shingle→xxhash64 runs in whole-stage codegen
    (_shingle_hash_arrays — Python never sees a string), then one Arrow
    batch pass runs the band kernel (:func:`_band_kernel`) per doc;
    only |docs| x bands tiny signature rows ever leave the partition.
    The kernel pickles by value, so workers need no package. (The
    previous all-Python form md5-hashed every shingle in a Python
    loop — ~1.5M hashlib calls at sf0.1, the single hottest Python
    section in the bench.) Docs with < n tokens emit no rows."""
    kernel = _band_kernel(num_perm, bands)

    def band_signatures(batches):
        import pandas as pd

        for pdf in batches:
            out_id, out_band, out_sig = kernel(pdf["__id"], pdf["__hs"])
            yield pd.DataFrame({"__band_id": out_id, "band": out_band, "sig": out_sig}).astype(
                {"__band_id": "int64", "band": "int32", "sig": "string"}
            )

    return (
        _shingle_hash_arrays(df, text_col, id_col, n)
        .withColumnRenamed(id_col, "__id")
        .mapInPandas(band_signatures, schema="__band_id bigint, band int, sig string")
        .withColumnRenamed("__band_id", id_col)
    )


def _arrays_by_id(ids: list, arrays: list) -> dict:
    """``{id: [hash array, ...]}`` — a list per id, so a repeated id
    scores every one of its rows, as the inner joins of
    :func:`_verify_jaccard` do."""
    out: dict = {}
    for i, hs in zip(ids, arrays):
        out.setdefault(i, []).append(hs)
    return out


def _store_probe(seen_bands: DataFrame, sigs: DataFrame, id_col: str) -> DataFrame:
    """``(id, seen_id)`` collision rows of the batch signatures ``sigs``
    (a local frame) against the band store ``seen_bands``: one scan of
    the store, joined on (band, sig) to the BROADCAST batch side, so
    the store is never shuffled, in any layout. One row per colliding
    band (deduplicated by the caller); self-pairs and null ids drop."""
    seen = seen_bands.select(F.col(id_col).alias("seen_id"), "band", "sig")
    return (
        seen.join(F.broadcast(sigs), ["band", "sig"])
        .select(id_col, "seen_id")
        .filter(F.col(id_col) != F.col("seen_id"))
    )


def _decide_against_seen(
    new_df: DataFrame,
    seen_bands: DataFrame | None,
    old_df: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int,
    num_perm: int,
    bands: int,
    threshold: float,
    store_name: str = "seen_bands",
    corpus_name: str = "old_df",
):
    """The one near-dup-against-seen decision, held on the driver:
    ``(sigs, pairs)`` — the batch's ``(id, band, sig)`` signatures as an
    Arrow table and its verified ``(id, seen_id, jaccard)`` tuples.

    Spark runs only what touches data outside the batch:

    1. one collect of the batch's ``(id, __hs)`` shingle-hash arrays;
    2. the band kernel (:func:`_band_kernel`) on those arrays — no
       Python stage;
    3. one store scan joined to the broadcast batch signatures
       (:func:`_store_probe`), collected;
    4. one scan of ``old_df`` semi-joined to the broadcast candidate
       seen ids, whose hash arrays are collected.

    The exact verify then scores the candidate pairs only, with
    ``c = len(set(A) & set(B))`` and ``c / (len(A) + len(B) - c)`` —
    the same IEEE double as :func:`_verify_jaccard`'s
    ``size(array_intersect)`` division. With no store (``seen_bands``
    None) there are no pairs. A candidate whose seen doc has no row in
    ``old_df`` raises ``RuntimeError``: the store and the payloads
    disagree, and dropping the candidate would pass its doc as novel."""
    _check_threshold(threshold, "neardup_against_seen")
    kernel = _band_kernel(num_perm, bands)
    spark = new_df.sparkSession
    hs = _shingle_hash_arrays(new_df, text_col, id_col, n).toArrow()
    ids, arrays = hs.column(id_col).to_pylist(), hs.column("__hs").to_pylist()
    out_id, out_band, out_sig = kernel(ids, arrays)
    sigs = pa.table({
        id_col: pa.array(out_id, to_arrow_type(new_df.schema[id_col].dataType)),
        "band": pa.array(out_band, pa.int32()),
        "sig": pa.array(out_sig, pa.string()),
    })
    if seen_bands is None or not out_id:
        return sigs, []
    sig_frame = local_frame(spark, sigs, from_arrow_schema(sigs.schema))
    cand = _store_probe(seen_bands, sig_frame, id_col).toArrow()
    cand_pairs = sorted(set(zip(cand.column(id_col).to_pylist(), cand.column("seen_id").to_pylist())))
    if not cand_pairs:
        return sigs, []
    seen_ids = sorted({s for _, s in cand_pairs})
    old = {}
    if old_df is not None:
        probe = local_frame(
            spark, [(s,) for s in seen_ids],
            T.StructType([T.StructField(id_col, seen_bands.schema[id_col].dataType)]),
        )
        found = _shingle_hash_arrays(
            old_df.join(F.broadcast(probe), id_col, "left_semi"), text_col, id_col, n
        ).toArrow()
        old = _arrays_by_id(found.column(id_col).to_pylist(), found.column("__hs").to_pylist())
    missing = [s for s in seen_ids if s not in old]
    if missing:
        raise RuntimeError(
            f"near-dup store {store_name!r} names {len(missing)} seen doc(s) "
            f"with no payload in corpus {corpus_name!r} (e.g. {missing[:5]}): "
            "the store and the corpus disagree — a corrupted or mismatched "
            "corpus; refusing to pass their near-duplicates as novel"
        )
    new = _arrays_by_id(ids, arrays)
    pairs = []
    for i, s in cand_pairs:
        for a in new[i]:
            for b in old[s]:
                c = len(set(a) & set(b))
                jac = c / (len(a) + len(b) - c)
                if jac >= threshold:
                    pairs.append((i, s, jac))
    return sigs, pairs


def neardup_against_seen(
    new_df: DataFrame,
    seen_bands: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental (cross-snapshot) NEAR-dup detection: which documents
    of the incoming batch near-duplicate something already in the
    corpus? The MinHash complement of :func:`dedup_against_seen`
    (which catches only EXACT fingerprint repeats — a one-word edit
    defeats it). Returns verified (id, seen_id, jaccard) pairs as a
    local frame, one row per (new doc, seen doc) with word-``n``-gram
    Jaccard >= ``threshold``; anti-join the batch against the distinct
    ids to keep only novel docs, and append ``band_signature_store(novel)``
    to the store for the next batch.

    ``seen_bands`` is the persisted (id, band, sig) store from prior
    snapshots (:func:`band_signature_store`); ``old_df`` holds the
    prior snapshots' payloads and is touched ONLY for candidate
    verification (semi-joined down to colliding docs first). A
    candidate whose seen doc has no payload in ``old_df`` raises
    ``RuntimeError``.

    SCALE SHAPE: the batch is bounded (one day, one micro-batch), so
    its side of the decision runs on the driver
    (:func:`_decide_against_seen`): one collect of its shingle-hash
    arrays, the band signatures and the exact verify are local. Spark
    runs one store scan against the broadcast batch signatures (the
    store is never shuffled) and one payload scan semi-joined to the
    candidate seen ids — candidates, never |batch| x |corpus|. Nothing
    is persisted. Recall is the standard banded bound — 1-(1-s^r)^b,
    ~0.99+ at s=0.8 with 16 bands x 4 rows.

    ``threshold`` must lie in (0, 1] (``ValueError`` otherwise, as for
    every pair producer here)."""
    _, pairs = _decide_against_seen(
        new_df, seen_bands, old_df, text_col, id_col, n, num_perm, bands, threshold
    )
    return local_frame(
        new_df.sparkSession,
        pairs,
        T.StructType([
            new_df.schema[id_col],
            T.StructField("seen_id", seen_bands.schema[id_col].dataType),
            T.StructField("jaccard", T.DoubleType()),
        ]),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Sub-quadratic near-dup detection: MinHash signatures + LSH bands.

    With 64 perms / 16 bands x 4 rows, the candidate probability for
    jaccard s is 1-(1-s^4)^16 (~0.99 at s=0.8, ~0.07 at s=0.3).
    Candidates are re-scored with exact Jaccard by the one verify
    (:func:`_verify_jaccard`) — output schema matches
    :func:`jaccard_pairs`. ``threshold`` must lie in (0, 1].
    """
    _check_threshold(threshold, "minhash_lsh_pairs")
    # consumed by both sides of the band self-join — persist the tiny
    # signature table so the scoring pass runs once
    band_sigs = band_signature_store(df, text_col, id_col, n, num_perm, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = band_sigs.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = band_sigs.select(F.col(id_col).alias("doc_b"), "band", "sig")
    candidates = (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-verify the candidates ONLY: shingle just the docs appearing
    # in some candidate pair (the sub-quadratic point — verifying
    # against the full corpus would re-do the O(N^2) work). The array
    # frame feeds both verify sides; persist so candidate docs shingle
    # once (freed with the session / clearCache).
    # The probe-union distinct STAYS (r22 audit note): this semi-join
    # runs as a sort-merge join (no broadcast hint), so the distinct's
    # map-side partial aggregate pre-shrinks the union before its
    # exchange — removing it was measured plan-for-plan to just shuffle
    # ~2x the rows for one aggregate saved.
    cand_docs = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    arr = _shingle_hash_arrays(
        df.join(cand_docs, id_col, "left_semi"), text_col, id_col, n
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return _verify_jaccard(candidates, arr, arr, id_col, threshold)


def _md5_64_le(tok: Column) -> Column:
    """Little-endian signed int64 of the first 8 md5 bytes — the JVM
    twin of Python ``int.from_bytes(md5(t).digest()[:8], 'little')`` and
    DuckDB ``md5_number_upper`` (bit-verified in tests): reverse the
    first 8 hex byte-pairs, then parse as SIGNED 64-bit via conv's
    negative target base (a plain bigint cast of the unsigned decimal
    string would overflow for values >= 2^63)."""
    h = F.md5(tok)
    rev = F.concat(*[F.substring(h, i, 2) for i in (15, 13, 11, 9, 7, 5, 3, 1)])
    return F.conv(rev, 16, -10).cast("bigint")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash signature per document (Charikar): per-token
    64-bit hash, each bit votes +-1, signature bit = sign of the vote
    sum. Returns (id, simhash as bigint; bit 63 wraps the sign — it's
    an opaque signature). Near-dup candidates = small hamming distance;
    pair generation via 16-bit chunk buckets (any pair within hamming
    distance 3 shares at least one of 4 chunks).

    ZERO-shuffle AND zero-Python: token hashing (md5), bit votes
    (getbit over a 64-element fold), and signature assembly all run as
    whole-stage-codegen higher-order array expressions — no Arrow
    transfer, and recomputation (e.g. both sides of the pairs
    self-join) costs a JVM pass, not a Python one. An exploded
    formulation would push |tokens| x 64 vote rows through two shuffles
    (48M rows at sf0.1); this stays one narrow projection.

    Signature assembly is overflow-safe under ANSI mode: bits fold as
    two 32-bit halves (acc*2+bit never exceeds 2^32) and recombine with
    the high half sign-adjusted — shiftleft(1, 63) never materializes.
    """
    # Python str.split() semantics: split on runs of whitespace after
    # trimming; empty text yields one empty token (votes once)
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    hs = F.transform(toks, _md5_64_le)
    n_toks = F.size(toks).cast("bigint")
    # ones[b] = count of tokens with bit b set (one fold, 64-wide rows)
    zeros64 = F.array_repeat(F.lit(0).cast("bigint"), 64)
    ones = F.aggregate(
        hs,
        zeros64,
        lambda acc, h: F.zip_with(
            acc, F.sequence(F.lit(0), F.lit(63)), lambda a, b: a + F.getbit(h, b)
        ),
    )
    # majority vote: bit b set iff 2*ones[b] > n (votes sum = 2*ones - n)
    bits = F.transform(ones, lambda v: F.when(v * 2 > n_toks, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint")))
    two32 = F.lit(1 << 32).cast("bigint")

    def fold_msb_first(arr: Column) -> Column:
        return F.aggregate(
            arr, F.lit(0).cast("bigint"), lambda acc, x: acc * 2 + x
        )

    lo = fold_msb_first(F.reverse(F.slice(bits, 1, 32)))  # bits 31..0
    hi = fold_msb_first(F.reverse(F.slice(bits, 33, 32)))  # bits 63..32
    hi_signed = hi - F.when(hi >= F.lit(1 << 31).cast("bigint"), two32).otherwise(F.lit(0).cast("bigint"))
    sig = lo + hi_signed * two32
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: (doc_a, doc_b, hamming) for every pair
    with hamming distance <= ``max_hamming`` between 64-bit signatures.

    Candidates come from ``n_chunks`` equal bit-chunk buckets: by
    pigeonhole, any pair within hamming < n_chunks differs in fewer
    chunks than exist, so it shares at least one chunk verbatim and is
    guaranteed to surface — the operator is EXACT, not approximate, for
    ``max_hamming <= n_chunks - 1`` (enforced). Shape mirrors the
    MinHash band join: one shuffle for the (chunk, key) self-join over
    |docs| x n_chunks tiny rows, hamming recheck JVM-side
    (``bit_count(xor)``), one distinct. Never all-pairs.

    No persist: simhash64 is a pure JVM projection, so the self-join's
    two recomputations are narrow codegen passes — cheaper than holding
    signature cache blocks for the session (the old Python-stage
    signatures were persisted here, and the persist was never
    released).
    """
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks ({n_chunks}) must divide 64")
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_chunks ({n_chunks}): the "
            "pigeonhole guarantee only covers pairs differing in fewer chunks "
            "than exist — raise n_chunks to widen the radius exactly"
        )
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1

    sigs = simhash64(df, text_col, id_col)
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned("simhash", c * chunk_bits).bitwiseAND(F.lit(mask)).alias("key"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk", "ck.key")

    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "chunk", "key"
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "chunk", "key"
    )
    return (
        a.join(b, ["chunk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_against_seen(
    df: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: keep only documents
    whose content fingerprint does NOT appear in a prior snapshot's
    fingerprint set — the daily-refresh complement of
    ``exact_dedup_groups`` (dedup WITHIN a corpus). Returns
    (id, fingerprint) of the novel documents; join back to ``df`` for
    payloads.

    SCALE SHAPE: fingerprint projection (zero shuffle) + ONE left-anti
    join on the 32-hex key. The seen set is the small side in steady
    state growth scans (yesterday's additions vs today's batch) and
    broadcasts; for a full-history seen set both sides hash-shuffle on
    the fingerprint — still linear, and bucketing the seen store by
    fingerprint makes the daily anti-join co-located (see
    sinks/warehouse.write_bucketed).
    """
    fp = content_fingerprint(df, text_col, id_col)
    # no distinct on the anti-probe (r22): an anti-join drops a left row
    # on ANY build match, so duplicate fingerprints are semantically
    # inert — and the distinct cost a full exchange+aggregate inside the
    # broadcast build (plan-verified: Exchange+2xHashAggregate removed).
    # In the full-history SMJ regime the trade also holds: a seen store
    # maintained by this very function keeps one row per novel
    # fingerprint, so there is nothing for the partial aggregate to
    # shrink (guide §2.4)
    seen = seen_fingerprints.select(F.col(fingerprint_col).alias("fingerprint"))
    return fp.join(seen, "fingerprint", "left_anti").select(id_col, "fingerprint")


def passage_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_gram: int = 4,
    boundary_chars: tuple = ("0", "1"),
    min_tokens: int = 8,
    max_passage_freq: int | None = None,
) -> DataFrame:
    """PASSAGE-level duplication between documents — the local-copy
    detector whole-document Jaccard misses (two mostly-different docs
    sharing one boilerplate paragraph score near 0 Jaccard but are
    exactly what a training-data pipeline wants flagged; cf. Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better", which targets substring-level duplication).

    CONTENT-DEFINED CHUNKING, not fixed windows: a fixed-stride window
    only matches a copied passage when both copies sit at the same
    stride phase, so instead a segment boundary opens wherever
    ``md5(token-gram)`` starts with one of ``boundary_chars``
    (p = len/16 per position — avg segment ~ 16/len(chars) tokens).
    Boundaries depend only on local CONTENT, so a passage copied at
    ANY offset into another document chunks into the identical
    interior segments (the head/tail segments absorb surrounding text
    and differ — classic CDC semantics). Segments of >= ``min_tokens``
    tokens, deduped within each doc, self-join on their md5 to emit
    one row per document pair:
    (doc_a, doc_b, n_shared_passages, shared_tokens).

    Determinism: md5 on both engines, position-independent by
    construction, no floats anywhere. Scale shape: one posexplode,
    per-DOC windows (lead + running boundary sum — partitioned, never
    global), two doc-keyed aggregates, and a passage-hash self-join
    whose fan-out is bounded by passage frequency — cap boilerplate
    with ``max_passage_freq`` exactly like jaccard's hot shingles.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("pos", "tok"),
    )
    wnd = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", j).over(wnd).alias(f"__t{j}") for j in range(1, boundary_gram)]
    l = toks.select(F.col(id_col), "pos", "tok", *leads)
    last = F.col(f"__t{boundary_gram - 1}")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.col(f"__t{j}") for j in range(1, boundary_gram)]
    )
    bd = F.when(
        (F.col("pos") == 0)
        | (last.isNotNull() & F.substring(F.md5(gram), 1, 1).isin(*boundary_chars)),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = l.select(
        F.col(id_col), "pos", "tok",
        F.sum(bd).over(wnd.rowsBetween(Window.unboundedPreceding, 0)).alias("__seg"),
    )
    segs = (
        s.groupBy(id_col, "__seg")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda x: x["tok"],
                    ),
                )
            ).alias("passage_hash"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
    )
    passages = segs.groupBy(id_col, "passage_hash").agg(
        F.first("n_tokens").alias("n_tokens")
    )
    passages = _drop_hot_keys(passages, "passage_hash", max_passage_freq, "max_passage_freq")
    a = passages.select(
        F.col(id_col).alias("doc_a"), "passage_hash", F.col("n_tokens").alias("__na")
    )
    b = passages.select(
        F.col(id_col).alias("doc_b"), "passage_hash", F.col("n_tokens").alias("__nb")
    )
    return (
        a.join(b, "passage_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_passages"),
            F.sum("__na").cast("bigint").alias("shared_tokens"),
        )
    )
