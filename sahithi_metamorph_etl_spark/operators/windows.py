"""Window operators (SURVEY.md §2.5-2.6).

W1 (top-1 product per supplier, `m_supplier_performance_task.py:144-155`)
generalized to top-k per group — with REQUIRED deterministic tie-breakers:
the reference orders only by revenue, so equal-revenue products give a
nondeterministic "top product" run to run. Determinism is a correctness
property for this engine (hash-compared against an oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.frames import local_frame


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int = 1,
    rank_col: str = "RANK",
    keep_rank: bool = False,
) -> DataFrame:
    """row_number over (partition by .. order by ..) <= k.

    ``order_by`` should end with a unique tie-breaker column. row_number
    (not rank/dense_rank) keeps exactly k rows per group.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    tie_breaker: str | None = None,
) -> DataFrame:
    """Gap-based sessionization (batch): lag + cumulative-sum of
    new-session flags. The streaming twin is
    ``streaming.events.sessionized_stream`` (native ``session_window``).

    Adds ``session_id`` (1-based per user). One shuffle on ``user_col``;
    both window passes reuse the same partitioning.
    """
    order = [F.col(ts_col)] + ([F.col(tie_breaker)] if tie_breaker else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_us = gap_minutes * 60 * 1_000_000  # microsecond precision, no truncation
    prev_ts = F.lag(F.col(ts_col)).over(w)
    # timestamp_diff works for both TIMESTAMP and TIMESTAMP_NTZ columns
    # (unix_micros would reject NTZ — the testdata events table is NTZ)
    new_session = F.when(
        prev_ts.isNull()
        | (F.timestamp_diff("MICROSECOND", prev_ts, F.col(ts_col)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(new_session).over(running))


def funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many users completed stage 1, then
    stage 2 STRICTLY AFTER their stage-1 event, and so on — the greedy
    earliest-completion semantics every funnel product uses (equivalent
    to the cascade ``t_k = min(ts WHERE type=stage_k AND ts > t_{k-1})``).

    One pass, one shuffle: per-user events collapse to a sorted
    (ts, type) array and a JVM higher-order ``aggregate`` folds the
    sequence through the stage machine — no self-join per stage (the
    k-cascade SQL form joins the fact k times), no window sort over the
    whole fact. Ties are handled identically to the cascade form:
    advancing always requires a STRICTLY later timestamp, so same-ts
    events can never complete two stages regardless of sort order.

    Returns one row per stage: (stage 1-based, event_type, n_users).
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    k = len(stages)
    stage_arr = F.array(*[F.lit(s) for s in stages])
    # null event times are ignored entirely (the cascade-SQL oracle's
    # min(CASE ...) skips nulls); without this a null-ts stage-1 event
    # would advance stage 0 with last=null and `ts > null` then blocks
    # every later stage permanently.
    evs = events.filter(
        F.col(ts_col).isNotNull() & F.col(type_col).isin(stages)
    ).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ty"),
    )
    per_user = evs.groupBy("__u").agg(
        F.array_sort(F.collect_list(F.struct("__ts", "__ty"))).alias("__seq")
    )
    init = F.struct(
        F.lit(0).alias("stage"), F.lit(None).cast(evs.schema["__ts"].dataType).alias("last")
    )
    folded = per_user.select(
        F.aggregate(
            "__seq",
            init,
            lambda acc, x: F.when(
                (acc["stage"] < k)
                & (x["__ty"] == F.element_at(stage_arr, acc["stage"] + 1))
                & ((acc["stage"] == 0) | (x["__ts"] > acc["last"])),
                F.struct(
                    (acc["stage"] + 1).alias("stage"), x["__ts"].alias("last")
                ),
            ).otherwise(acc),
        )["stage"].alias("reached")
    )
    stages_df = local_frame(
        events.sparkSession,
        [(i + 1, s) for i, s in enumerate(stages)],
        "stage int, event_type string",
    )
    counts = (
        folded.crossJoin(F.broadcast(stages_df))
        .filter(F.col("reached") >= F.col("stage"))
        .groupBy("stage", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    # a stage nobody reached still gets its row (n_users = 0). counts is
    # k rows post-aggregation — hint it broadcast so the static plan is
    # the BHJ AQE would pick anyway (stages_df is the PRESERVED side of
    # the left join, so only counts is broadcastable)
    return stages_df.join(F.broadcast(counts), ["stage", "event_type"], "left").select(
        "stage", "event_type", F.coalesce("n_users", F.lit(0).cast("bigint")).alias("n_users")
    )


class CacheRelease:
    """Release hook for an operator-persisted frame that backs a
    returned plan (``global_rank`` / ``ranged_prefix_sum``). Call
    :meth:`release` AFTER materializing the result: the pinned
    partitions drop immediately instead of waiting for cache eviction
    or a blanket ``spark.catalog.clearCache()``. Idempotent; releasing
    before an action is safe too (the plan recomputes the range shuffle
    instead of reading cache — correct, just slower)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def release(self) -> None:
        if self._df is not None:
            self._df.unpersist()
            self._df = None


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
    return_release: bool = False,
):
    """Scale-safe global row numbering over a total order — the
    replacement for ``Window.orderBy(...)`` without a partition spec,
    which funnels the ENTIRE frame through one task (Spark's
    "No Partition Defined" warning; the classic 100 TB scale-killer).

    Two-phase, same pattern as ``llm/chunking.pack_sequences``'s prefix
    sum: repartitionByRange on the order key (ranks are a function of
    the total order alone, so sampled range boundaries cannot perturb
    the result — callers must make the key unique with a tie-breaker
    column), per-partition ``row_number`` under a PARTITIONED window,
    then broadcast per-partition offsets added back. The ranged frame
    is persisted spillable for the bounded counts pass (one row per
    partition collected); the frame itself is never collected.

    CACHE LIFETIME: the persisted ranged frame backs the RETURNED plan,
    so it cannot be unpersisted here; it lives until cache eviction or
    an explicit release. Long-lived sessions calling this repeatedly
    should pass ``return_release=True`` and call ``release()`` on the
    returned :class:`CacheRelease` once each result is materialized
    (or fall back to a blanket ``spark.catalog.clearCache()``, as
    bench.py does).

    Returns ``(df + rank_col [1-based], total_rows)``, plus the
    :class:`CacheRelease` handle when ``return_release=True``.
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_gr_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = ranged.groupBy("_gr_pid").count().collect()  # <= n rows
    offsets: dict[int, int] = {}
    total = 0
    for row in sorted(counts, key=lambda r: r["_gr_pid"]):
        offsets[row["_gr_pid"]] = total
        total += row["count"]
    w = Window.partitionBy("_gr_pid").orderBy(*[F.col(c) for c in order_cols])
    local = F.row_number().over(w).cast("long")
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        )
        rank = local + F.coalesce(off_map[F.col("_gr_pid")], F.lit(0)).cast("long")
    else:
        rank = local
    out = ranged.withColumn(rank_col, rank).drop("_gr_pid")
    if return_release:
        return out, total, CacheRelease(ranged)
    return out, total


def bucketed_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    hexkey_col: str,
    tiebreak_col: str,
    value_col: str,
    out_col: str = "cum",
    bucket_hex_chars: int = 2,
) -> DataFrame:
    """Two-phase running sum of ``value_col`` within each group,
    ordered by (``hexkey_col``, ``tiebreak_col``) — the grouped
    generalization of ``llm/chunking.pack_sequences``'s prefix sum, for
    when the group cardinality is SMALL (sources, languages, splits)
    and a ``Window.partitionBy(group)`` would funnel a corpus-sized
    slice through one task.

    ``hexkey_col`` must be a uniformly-distributed lowercase hex string
    (md5 of a seeded id is the house convention); its leading
    ``bucket_hex_chars`` chars split each group into 16^k
    order-preserving buckets (ordering by (bucket, key) == ordering by
    key). One shuffle computes per-(group, bucket) local cumsums; the
    per-bucket totals (<= groups x 16^k rows) are prefix-summed on that
    bounded frame and broadcast back.
    """
    if not 1 <= bucket_hex_chars <= 8:
        raise ValueError("bucket_hex_chars must be in 1..8")
    d = df.withColumn("__b", F.substring(F.col(hexkey_col), 1, bucket_hex_chars))
    lw = (
        Window.partitionBy(*group_cols, "__b")
        .orderBy(hexkey_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d.withColumn("__cl", F.sum(F.col(value_col)).over(lw).cast("bigint"))
    # bucket total = SUM of values, NOT max of the running sum — those
    # only coincide for non-negative values; deltas/adjustments would
    # silently corrupt every later bucket's offset
    totals = local.groupBy(*group_cols, "__b").agg(
        F.sum(F.col(value_col)).cast("bigint").alias("__bt")
    )
    # bounded frame: <= |groups| x 16^bucket_hex_chars rows
    ow = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.withColumn(
        "__off", F.coalesce(F.sum("__bt").over(ow), F.lit(0).cast("bigint"))
    ).select(*group_cols, "__b", "__off")
    return (
        local.join(F.broadcast(offs), [*group_cols, "__b"])
        .withColumn(out_col, (F.col("__off") + F.col("__cl")).cast("bigint"))
        .drop("__b", "__cl", "__off")
    )


def ranged_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
    return_release: bool = False,
):
    """Running sum of ``value_col`` within each group under an
    ARBITRARY total order — the range-partitioned sibling of
    :func:`bucketed_prefix_sum` (which needs a uniform hex key) and the
    grouped form of :func:`global_rank`'s two-phase trick.

    ``repartitionByRange(group_cols + order_cols)`` splits every group
    across partitions while preserving its order; per-(group,
    partition) local cumsums run under a PARTITIONED window, and the
    per-(group, partition) totals (an aggregate-sized frame, never
    collected) get group-wise offsets from a window over the partition
    id — at most ``num_partitions`` rows per group. ``order_cols`` must
    end in a unique tie-breaker (pass Columns or names; same contract
    as ``global_rank``). The ranged frame is persisted spillable for
    the totals pass — same cache-lifetime note as ``global_rank``:
    pass ``return_release=True`` to get a :class:`CacheRelease` handle
    back (then ``(df, release)`` is returned) and release after
    materializing in long-lived sessions.
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(n, *[F.col(g) for g in group_cols], *order)
        .withColumn("_rp_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lw = (
        Window.partitionBy(*group_cols, "_rp_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("_rp_cl", F.sum(F.col(value_col)).over(lw).cast("bigint"))
    # partition total = SUM of values, NOT max of the running sum (they
    # differ as soon as value_col goes negative)
    totals = local.groupBy(*group_cols, "_rp_pid").agg(
        F.sum(F.col(value_col)).cast("bigint").alias("_rp_bt")
    )
    ow = (
        Window.partitionBy(*group_cols)
        .orderBy("_rp_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.withColumn(
        "_rp_off", F.coalesce(F.sum("_rp_bt").over(ow), F.lit(0).cast("bigint"))
    ).select(*group_cols, "_rp_pid", "_rp_off")
    out = (
        local.join(F.broadcast(offs), [*group_cols, "_rp_pid"])
        .withColumn(out_col, (F.col("_rp_off") + F.col("_rp_cl")).cast("bigint"))
        .drop("_rp_pid", "_rp_cl", "_rp_off")
    )
    if return_release:
        return out, CacheRelease(ranged)
    return out
