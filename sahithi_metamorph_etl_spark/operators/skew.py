"""Skew mitigation: salted joins.

AQE's skew-join handling (on in core.session) splits oversized
partitions at runtime, but only for sort-merge joins and only after a
stage materializes. Salting is the plan-level fix when a handful of hot
keys dominate a shuffle join: the large side spreads each key over
``n_salts`` sub-keys, the small side is replicated ``n_salts`` times,
and the join runs on (key, salt) — hot keys now occupy ``n_salts``
tasks instead of one.

The salt must be DETERMINISTIC (re-run/retry stability, oracle
comparability): it is derived by hashing a caller-named high-cardinality
column on the large side — never ``rand()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.frames import local_frame

SALT_COL = "__salt"


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_source_col: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``large ⋈ small`` on ``on`` with the hot-key shuffle
    spread over ``n_salts`` sub-partitions per key.

    ``salt_source_col``: a high-cardinality column of ``large`` (e.g. a
    line/sale id) hashed to pick the salt deterministically.
    Result == ``large.join(small, on, how)`` with the same columns.

    Only large-side-preserving joins are valid: the replicated small
    side would duplicate ITS unmatched rows under right/full/semi
    semantics, so those modes are rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    salted_large = large.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(salt_source_col)), F.lit(n_salts)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias(SALT_COL)
    replicated_small = small.select("*", salts)
    return salted_large.join(replicated_small, [*on, SALT_COL], how).drop(SALT_COL)


def adaptive_salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_source_col: str,
    *,
    sample_fraction: float = 0.05,
    hot_ratio: float = 4.0,
    max_salts: int = 64,
    max_hot_keys: int = 1000,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Measure -> decide -> salt, as one operator: sample the large
    side's key distribution, find the hot keys, pick a salt factor from
    the measured skew, and salt ONLY the hot keys — cold keys take the
    plain shuffle join untouched. Composes the two halves that exist
    separately as ``profiling.key_skew_profile`` (measure) and
    :func:`salted_join` (mitigate).

    Decision rule: a key is hot when its sampled row count exceeds
    ``hot_ratio`` x the mean sampled key count; ``n_salts`` is the
    hottest key's multiple of the mean (clamped to [2, max_salts]), so
    each hot-key slice lands near mean-key size. No hot keys -> returns
    the plain join (zero overhead beyond the sample job).

    Driver actions are bounded by construction: one 1-row mean
    aggregate and one ``limit(max_hot_keys)`` hot-key collect — the
    same bounded-collect policy as the centroid/query-set reads.

    SINGLE-PASS plan: each side is tagged hot/cold by a BROADCAST join
    against the collected hot-key list (map-side, no shuffle), then ONE
    join on (key, salt) does all the work — hot large rows salt by
    hashing ``salt_source_col`` mod ``n_salts``, cold rows take salt 0;
    hot small rows explode over all salts, cold small rows carry just
    salt 0. One fact scan, one fact-sized shuffle (the r6 form scanned
    the fact three times: sample + hot semi-probe + cold anti-probe).
    Result == ``large.join(small, on, how)`` regardless of what the
    sample saw — sampling only steers the plan, never the semantics.
    """
    import math

    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"adaptive_salted_join supports inner/left joins, not {how!r}")
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError("sample_fraction must be in (0, 1]")
    key_cols = list(on)
    sampled = large if sample_fraction >= 1.0 else large.sample(fraction=sample_fraction, seed=seed)
    counts = sampled.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__cnt"))
    mean_row = counts.agg(F.avg("__cnt").alias("m")).collect()
    mean_cnt = mean_row[0]["m"] if mean_row else None
    if not mean_cnt:
        return large.join(small, on, how)
    hot = (
        counts.filter(F.col("__cnt") > F.lit(hot_ratio * mean_cnt))
        .orderBy(F.desc("__cnt"), *key_cols)
        .limit(max_hot_keys)
        .toArrow()
    )
    if hot.num_rows == 0:
        return large.join(small, on, how)
    n_salts = int(min(max_salts, max(2, math.ceil(hot["__cnt"][0].as_py() / mean_cnt))))
    hot_keys = local_frame(
        large.sparkSession, hot.select(key_cols), large.select(*key_cols).schema
    ).withColumn("__is_hot", F.lit(True))
    salted_large = (
        large.join(F.broadcast(hot_keys), key_cols, "left")
        .withColumn(
            SALT_COL,
            F.when(
                F.col("__is_hot"),
                F.pmod(F.xxhash64(F.col(salt_source_col)), F.lit(n_salts)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__is_hot")
    )
    replicated_small = (
        small.join(F.broadcast(hot_keys), key_cols, "left")
        .withColumn(
            "__salts",
            F.when(F.col("__is_hot"), F.sequence(F.lit(0), F.lit(n_salts - 1)))
            .otherwise(F.array(F.lit(0))),
        )
        .withColumn(SALT_COL, F.explode("__salts"))  # int elements already
        .drop("__is_hot", "__salts")
    )
    return salted_large.join(replicated_small, [*key_cols, SALT_COL], how).drop(SALT_COL)
