"""Event-stream queries (batch form) over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.9); these are the
capability extension: tumbling-window aggregation, gap-based
sessionization, and JSON property extraction. Each has a batch
implementation here (oracle-checked) and a Structured Streaming twin in
``streaming.events`` (tested in tests/test_streaming.py) — the batch
and streaming versions share semantics by construction."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core.frames import local_frame

# usum overflow note: the hourly/session dsum groups grow with the event
# volume, not with an entity dimension — testdata-bounded (<~1e6 units per
# window); a 100 TB stream should route them through
# functions.money.checked_sum with a per-window deployment bound
from ..functions.money import dsum, o_dsum
from ..operators.windows import sessionize
from ..sources.readers import read_testdata
from .catalog import register

_DISTINCT_KEYS_ORACLE = """
SELECT CAST(user_id AS varchar) AS user_id,
       CAST(event_type AS varchar) AS event_type
FROM events GROUP BY 1, 2
"""


@register("events_stream_dedup", oracle=_DISTINCT_KEYS_ORACLE,
          doc="Custom stateful streaming op (applyInPandasWithState): online first-seen "
              "dedup; over a bounded stream the emitted set equals SELECT DISTINCT keys")
def events_stream_dedup(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..streaming.events import events_stream, nanos_as_long, run_stream_to_memory
    from ..streaming.stateful import dedup_stream_first_seen

    # the file-stream source watches a DIRECTORY; expose the single
    # events.parquet through a symlinked staging dir. The stream runs to
    # completion inside run_stream_to_memory, so the staging dir and the
    # legacy-parquet conf are both released before returning — repeated
    # invocations leak nothing and unrelated reads see the prior conf.
    staging = tempfile.mkdtemp(prefix="events_stream_")
    try:
        os.symlink(f"{sf_dir}/events.parquet", os.path.join(staging, "events.parquet"))
        with nanos_as_long(spark):
            stream = events_stream(spark, staging)
            out = dedup_stream_first_seen(stream, ["user_id", "event_type"])
            return run_stream_to_memory(out, "events_stream_dedup_mem", output_mode="update")
    finally:
        shutil.rmtree(staging, ignore_errors=True)

_RUNNING_COUNTS_ORACLE = """
SELECT CAST(user_id AS varchar) AS user_id, count(*) AS n_events
FROM events GROUP BY 1
"""


@register("events_stream_running_counts", oracle=_RUNNING_COUNTS_ORACLE,
          doc="Custom stateful streaming op (applyInPandasWithState): per-key RUNNING "
              "event counts maintained online; over a bounded stream the final "
              "emission per key equals the batch GROUP BY count")
def events_stream_running_counts(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..streaming.events import events_stream, run_stream_to_memory
    from ..streaming.stateful import running_counts_stream

    staging = tempfile.mkdtemp(prefix="events_rc_stream_")
    try:
        os.symlink(f"{sf_dir}/events.parquet", os.path.join(staging, "events.parquet"))
        stream = running_counts_stream(events_stream(spark, staging), "user_id")
        out = run_stream_to_memory(stream, "events_rc_mem", output_mode="update")
        # update mode can emit per micro-batch; counts only grow, so the
        # max per key is the final total
        return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


_TUMBLING_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       {o_dsum('value', 2)} AS total_value
FROM events
GROUP BY 1, 2
"""


@register("events_hourly_tumbling", oracle=_TUMBLING_ORACLE,
          doc="Tumbling 1h window aggregate (batch twin of the streaming query)")
def events_hourly_tumbling(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


_SLIDING_ORACLE = f"""
WITH contrib AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, value FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour', event_type, value FROM events
)
SELECT window_start, event_type,
       count(*) AS n_events,
       {o_dsum('value', 2)} AS total_value
FROM contrib GROUP BY 1, 2
"""


@register("events_sliding_window", oracle=_SLIDING_ORACLE,
          doc="Sliding window aggregate (2h window, 1h slide): each event lands in two "
              "overlapping windows")
def events_sliding_window(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


_SESSION_ORACLE = """
WITH lagd AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
flags AS (
    SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                   THEN 1 ELSE 0 END AS new_s
    FROM lagd
),
sess AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flags
)
SELECT user_id, CAST(session_id AS bigint) AS session_id,
       count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY 1, 2
"""


@register("events_sessionization", oracle=_SESSION_ORACLE,
          doc="Gap-based (30 min) sessionization via lag + running sum (batch twin of session_window)")
def events_sessionization(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = sessionize(ev, "user_id", "ts", gap_minutes=30, tie_breaker="event_id")
    return s.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_ASOF_ORACLE = """
WITH purch AS (
    SELECT user_id, ts, max(event_id) AS purchase_event_id
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, c.ts,
       p.purchase_event_id AS asof_purchase_event_id,
       (epoch_us(c.ts) - epoch_us(p.ts)) // 1000000 AS secs_since_purchase
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@register("events_asof_join", oracle=_ASOF_ORACLE,
          doc="As-of (backward) join: latest purchase at-or-before each click per user — "
              "union-merge window form, one shuffle, no range explosion (DuckDB native "
              "ASOF JOIN as the oracle)")
def events_asof_join(spark, sf_dir):
    from ..operators.asof import as_of_join

    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    # unique per (user, ts): as-of requires an unambiguous latest row
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
        .withColumn("purchase_ts", F.col("ts"))
    )
    out = as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["purchase_event_id", "purchase_ts"],
    )
    # null-safe delta (bigint) rather than a nullable timestamp column:
    # unmatched clicks yield NULL, which every compare layer handles
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_purchase_event_id"),
        # floor the DIFFERENCE (whole elapsed seconds), not each side:
        # flooring per-timestamp is off by one whenever frac(left) <
        # frac(right). timestamp_diff handles NTZ columns (unix_micros
        # would reject the testdata's TIMESTAMP_NTZ ts).
        F.timestamp_diff("SECOND", F.col("asof_purchase_ts"), F.col("ts"))
        .cast("bigint")
        .alias("secs_since_purchase"),
    )


_ASOF_FWD_ORACLE = """
WITH purch AS (
    SELECT user_id, ts, max(event_id) AS purchase_event_id
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, c.ts,
       p.purchase_event_id AS asof_purchase_event_id,
       (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_until_purchase
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts <= p.ts
"""


@register("events_asof_join_forward", oracle=_ASOF_FWD_ORACLE,
          doc="Forward as-of join: EARLIEST purchase at-or-after each click per user — "
              "the mirrored union-merge window (first() looking forward), same one-shuffle "
              "shape; DuckDB ASOF JOIN with <= as the oracle")
def events_asof_join_forward(spark, sf_dir):
    from ..operators.asof import as_of_join

    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
        .withColumn("purchase_ts", F.col("ts"))
    )
    out = as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["purchase_event_id", "purchase_ts"],
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_purchase_event_id"),
        F.timestamp_diff("SECOND", F.col("ts"), F.col("asof_purchase_ts"))
        .cast("bigint")
        .alias("secs_until_purchase"),
    )


_INTERVAL_JOIN_ORACLE = """
SELECT c.event_id AS click_event_id, c.user_id, c.ts AS click_ts,
       p.event_id AS purchase_event_id, p.ts AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


@register("events_interval_join", oracle=_INTERVAL_JOIN_ORACLE,
          doc="Interval self-join (attribution): every purchase by the same user within "
              "30 min before each click — equi-join on user_id with a range predicate "
              "(hash-joinable, no range explosion); streaming twin is the watermarked "
              "stream-stream join in streaming.events")
def events_interval_join(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.expr("click_ts - interval 30 minutes"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
    )
    return clicks.join(purchases, cond, "inner").select(
        "click_event_id", "user_id", "click_ts", "purchase_event_id", "purchase_ts"
    )


_JSON_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS total_k,
       count(*) AS n_events
FROM events
GROUP BY 1
"""


@register("events_json_extract", oracle=_JSON_ORACLE,
          doc="JSON property extraction (get_json_object) + aggregate")
def events_json_extract(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("total_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


_INCR_ORACLE = """
SELECT event_id, user_id, ts, event_type
FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
"""


@register("events_incremental_slice", oracle=_INCR_ORACLE,
          doc="High-water-mark incremental load: rows strictly newer than the stored "
              "watermark — the comparison reaches the parquet scan as a pushed filter "
              "(or a JDBC WHERE via jdbc_query_source), so an incremental run reads new "
              "data only")
def events_incremental_slice(spark, sf_dir):
    import datetime as dt

    from ..sources.incremental import incremental_slice

    ev = read_testdata(spark, sf_dir, "events")
    # mid-range watermark (testdata events span Jan 2024): the slice is
    # a real subset — non-empty AND smaller than the table
    hwm = dt.datetime(2024, 1, 20)
    return incremental_slice(ev, "ts", hwm).select("event_id", "user_id", "ts", "event_type")


_FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
    FROM events GROUP BY user_id
), s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
    GROUP BY e.user_id
), s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    GROUP BY e.user_id
)
SELECT 1 AS stage, 'view' AS event_type,
       CAST((SELECT count(t1) FROM s1) AS bigint) AS n_users
UNION ALL
SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS bigint)
UNION ALL
SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS bigint)
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE,
          doc="Ordered funnel (view -> click -> purchase, strictly increasing ts): "
              "single-pass sorted-array fold per user (one shuffle) vs the oracle's "
              "k-cascade of conditional mins (k fact joins) — same greedy "
              "earliest-completion semantics, including the same-ts tie rule")
def events_funnel(spark, sf_dir):
    from ..operators.windows import funnel

    ev = read_testdata(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


@register("events_stream_funnel", oracle=_FUNNEL_ORACLE,
          doc="STREAMING twin of events_funnel: the per-user funnel stage machine "
              "(applyInPandasWithState) driven over a bounded file stream, final "
              "emissions aggregated into per-stage user counts — over in-order "
              "bounded input the online machine must reproduce the batch cascade "
              "oracle exactly (same greedy rules: strictly-later ts, null ts "
              "ignored)")
def events_stream_funnel(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..streaming.events import events_stream, run_stream_to_memory
    from ..streaming.stateful import funnel_stage_stream

    stages = ["view", "click", "purchase"]
    staging = tempfile.mkdtemp(prefix="events_funnel_stream_")
    try:
        # the online machine's parity contract requires EVENT-TIME-ORDERED
        # arrival across micro-batches. A raw symlink would stream the
        # source as-is: should a testdata generation ship events.parquet
        # as a multi-file directory, file-listing order would not be ts
        # order and the entry would intermittently diverge from the
        # cascade oracle. Materialize a ts-sorted single-file copy so the
        # contract holds for ANY source layout.
        (
            read_testdata(spark, sf_dir, "events")
            .orderBy("ts", "event_id")
            .coalesce(1)
            .write.parquet(os.path.join(staging, "ordered"))
        )
        stream = funnel_stage_stream(
            events_stream(spark, os.path.join(staging, "ordered")), stages
        )
        out = run_stream_to_memory(stream, "events_funnel_mem", output_mode="update")
        # emissions are monotone; max(reached) is each user's final stage
        final = out.groupBy("user_id").agg(F.max("reached").alias("reached"))
        stages_df = local_frame(
            spark, [(i + 1, s) for i, s in enumerate(stages)], "stage int, event_type string"
        )
        # same zero-backfill shape as the batch funnel: one pass over the
        # counts, left-join + coalesce (the previous crossJoin/anti-join
        # form evaluated the per-user aggregation twice)
        counts = (
            stages_df.crossJoin(final)
            .filter(F.col("reached") >= F.col("stage"))
            .groupBy("stage", "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        )
        # counts is k rows post-aggregation: broadcast, same as the
        # batch funnel's backfill join
        return stages_df.join(F.broadcast(counts), ["stage", "event_type"], "left").select(
            "stage",
            "event_type",
            F.coalesce("n_users", F.lit(0).cast("bigint")).alias("n_users"),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# --- growth analytics: daily activity + cumulative new users ----------------

_CUM_USERS_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), new_by_day AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new_users
  FROM first_seen GROUP BY 1
)
SELECT d.day, d.n_events, d.n_active_users,
       coalesce(n.n_new_users, 0) AS n_new_users,
       CAST(sum(coalesce(n.n_new_users, 0)) OVER (
         ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM daily d LEFT JOIN new_by_day n ON d.day = n.day
"""


@register("events_cumulative_new_users", oracle=_CUM_USERS_ORACLE,
          doc="Growth analytics: per day — event volume, distinct active "
              "users, first-seen new users, and the cumulative user count. "
              "Two fact aggregations (per-day activity; per-user first-seen "
              "then per-day new-user counts) joined on the BOUNDED calendar "
              "frame; the running total is a window over that day-cardinality "
              "frame only (documented bounded exception, same class as "
              "doc_pack_sequences' bucket-offset window — the corpus itself "
              "never crosses a single-partition boundary)")
def events_cumulative_new_users(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.col("ts").cast("date")
    daily = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_active_users"),
    )
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    new_by_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    from pyspark.sql import Window

    joined = daily.join(new_by_day, "day", "left").withColumn(
        "n_new_users", F.coalesce(F.col("n_new_users"), F.lit(0).cast("bigint"))
    )
    # bounded-by-construction frame: one row per calendar day
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "day",
        "n_events",
        "n_active_users",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("bigint").alias("cum_users"),
    )
