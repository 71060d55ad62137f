"""Batch/stream parity: the streaming queries must produce the same
results as their batch twins on a bounded input — that is the streaming
layer's correctness contract."""

from __future__ import annotations

from pyspark.sql import functions as F

import os

import pytest

from sahithi_metamorph_etl_spark.queries.catalog import get_query
from sahithi_metamorph_etl_spark.streaming.events import (
    events_stream,
    hourly_tumbling_stream,
    run_stream_to_memory,
    sessionized_stream,
)


@pytest.fixture()
def events_dir(sf_dir, tmp_path):
    # the file-stream source watches a DIRECTORY; expose the single
    # events.parquet through a symlinked dir
    d = tmp_path / "events_in"
    d.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_tumbling_stream_matches_batch(spark, sf_dir, events_dir):
    stream_res = run_stream_to_memory(
        hourly_tumbling_stream(events_stream(spark, events_dir)),
        "tumbling_out",
    ).toPandas()
    batch = get_query("events_hourly_tumbling").fn(spark, sf_dir).toPandas()

    key = ["window_start", "event_type"]
    s = stream_res.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["n_events"].values == b["n_events"].values).all()
    # value sums: streaming uses plain double round; compare to 1e-6
    assert (abs(s["total_value"].values - b["total_value"].values) < 1e-6).all()


def test_session_stream_matches_batch_session_count(spark, sf_dir, events_dir):
    stream_res = run_stream_to_memory(
        sessionized_stream(events_stream(spark, events_dir)),
        "sessions_out",
    )
    batch = get_query("events_sessionization").fn(spark, sf_dir)
    # same session definition → same number of sessions per user and
    # same total event count
    s_per_user = stream_res.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev")
    )
    b_per_user = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev")
    )
    diff = s_per_user.exceptAll(b_per_user)
    assert diff.count() == 0, diff.limit(5).collect()


def test_stateful_dedup_first_seen_equals_distinct(spark, sf_dir, events_dir):
    from sahithi_metamorph_etl_spark.streaming.stateful import dedup_stream_first_seen

    out = run_stream_to_memory(
        dedup_stream_first_seen(events_stream(spark, events_dir), ["user_id", "event_type"]),
        "dedup_out",
        output_mode="update",
    )
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.col("user_id").cast("string"), F.col("event_type").cast("string"))
        .distinct()
    )
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_watermark_accepts_bounded_history(spark, sf_dir, events_dir):
    # all rows arrive in one file: nothing is later than the watermark,
    # so no rows may be dropped
    out = run_stream_to_memory(
        hourly_tumbling_stream(events_stream(spark, events_dir)),
        "wm_out",
    )
    n_stream = out.agg(F.sum("n_events")).first()[0]
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_stream == n_batch


def test_interval_join_stream_matches_batch(spark, sf_dir, events_dir):
    from sahithi_metamorph_etl_spark.streaming.events import clicks_purchases_interval_join

    out = run_stream_to_memory(
        clicks_purchases_interval_join(events_stream(spark, events_dir)),
        "ivj_out",
        output_mode="append",  # stream-stream inner joins emit append-only
    )
    batch = get_query("events_interval_join").fn(spark, sf_dir)
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_stream_to_legacy_lands_days_partition(spark, sf_dir, events_dir, tmp_path):
    import datetime as dt

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

    wh = LayeredWarehouse(str(tmp_path / "wh"))
    run_date = dt.date(2025, 7, 7)
    q = wh.stream_to_legacy(
        events_stream(spark, events_dir).select("event_id", "user_id", "event_type"),
        "events",
        run_date,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    back = wh.read_legacy(spark, "events", run_date=run_date)
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == n_batch
    assert "DAY_DT" in back.columns
    # restart with the same checkpoint: no new micro-batch, no duplicate rows
    q2 = wh.stream_to_legacy(
        events_stream(spark, events_dir).select("event_id", "user_id", "event_type"),
        "events",
        run_date,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.processAllAvailable()
    q2.stop()
    assert wh.read_legacy(spark, "events", run_date=run_date).count() == n_batch


def test_text_profile_runs_unchanged_on_stream(spark, sf_dir, tmp_path):
    """The text-analysis surface is stateless projection, so the SAME
    operator code runs on a file stream with no modification — Spark's
    batch/stream unification, demonstrated rather than claimed."""
    import os as _os

    from sahithi_metamorph_etl_spark.llm.textstats import document_profile

    d = tmp_path / "docs_in"
    d.mkdir()
    _os.symlink(f"{sf_dir}/documents.parquet", d / "documents.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(d))

    out = run_stream_to_memory(document_profile(stream), "profile_out", output_mode="append")
    batch = document_profile(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_running_counts_stream_matches_batch_group_counts(spark, sf_dir, events_dir):
    """Stateful running counter: the LAST emission per key over a
    bounded stream must equal the batch GROUP BY count. (Spark 4's
    transformWithStateInPandas variant was probed and crashes in this
    runtime — its state-server protocol imports google.protobuf, which
    is not installed — so the operator rides applyInPandasWithState.)"""
    from sahithi_metamorph_etl_spark.streaming.events import events_stream, run_stream_to_memory
    from sahithi_metamorph_etl_spark.streaming.stateful import running_counts_stream

    out = run_stream_to_memory(
        running_counts_stream(events_stream(spark, events_dir), "user_id"),
        "running_counts_out",
        output_mode="update",
    )
    # update mode emits a row per key per micro-batch; counts only grow,
    # so the max per key is the final total
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert final.count() == batch.count()
    assert final.exceptAll(batch).count() == 0


def test_stream_supports_nanos_generation(spark, sf_dir, tmp_path):
    """The driver has regenerated events.parquet as TIMESTAMP(NANOS) in
    past rounds (the batch reader branches on the file schema for this);
    the streaming source must survive the same drift. Rewrite the
    bounded events table in the nanos shape and assert the tumbling
    stream still matches the batch twin computed from the micros
    original."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sahithi_metamorph_etl_spark.streaming.events import _probe_ts_is_nanos

    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        idx, pa.field("ts", pa.timestamp("ns")), tbl.column("ts").cast(pa.timestamp("ns"))
    )
    d = tmp_path / "events_ns"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet", version="2.6")
    assert _probe_ts_is_nanos(str(d))
    assert not _probe_ts_is_nanos(f"{sf_dir}/events.parquet")

    stream_res = run_stream_to_memory(
        hourly_tumbling_stream(events_stream(spark, str(d))),
        "tumbling_ns_out",
    ).toPandas()
    batch = get_query("events_hourly_tumbling").fn(spark, sf_dir).toPandas()
    key = ["window_start", "event_type"]
    s = stream_res.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["n_events"].values == b["n_events"].values).all()
    assert (abs(s["total_value"].values - b["total_value"].values) < 1e-6).all()


def test_stream_to_legacy_crash_mid_batch_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Kill/crash-resume proof for the legacy streaming sink: simulate a
    crash AFTER a micro-batch's files landed but BEFORE its checkpoint
    commit (delete the commit marker — the exact window where a plain
    append sink duplicates), restart from the checkpoint, and assert the
    legacy layer has every row exactly once."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

    # two input files -> two micro-batches (maxFilesPerTrigger=1)
    src = str(tmp_path / "events_2files")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(2).write.parquet(src)
    n_rows = spark.read.parquet(src).count()

    wh = LayeredWarehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    run_date = dt.date(2025, 7, 7)

    def start():
        return wh.stream_to_legacy(
            events_stream(spark, src).select("event_id", "user_id", "event_type"),
            "events",
            run_date,
            checkpoint_dir=ckpt,
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert wh.read_legacy(spark, "events", run_date=run_date).count() == n_rows

    # crash simulation: batch 1's data files are on disk, but its commit
    # marker never landed — on restart Spark MUST re-run batch 1 (same
    # batch id), and the idempotent per-batch overwrite must replace,
    # not duplicate
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # local ChecksumFileSystem shadow file: a
        os.remove(crc)  # stale crc makes the commit rewrite look like
        # a concurrent writer ("Multiple streaming queries" error)

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    back = wh.read_legacy(spark, "events", run_date=run_date)
    assert back.count() == n_rows, "crash-replayed batch duplicated or lost rows"
    assert back.select("event_id").distinct().count() == n_rows
    assert "__BATCH_ID" not in back.columns
    # the batch really was re-executed: its partition dir was rewritten
    legacy_root = os.path.join(str(tmp_path / "wh"), "legacy", "events")
    day_dir = os.path.join(legacy_root, "DAY_DT=2025-07-07")
    assert sorted(d for d in os.listdir(day_dir) if d.startswith("__BATCH_ID=")) == [
        "__BATCH_ID=0",
        "__BATCH_ID=1",
    ]


def test_legacy_layout_conflict_guard(spark, sf_dir, tmp_path):
    """append_legacy (DAY_DT-only) and stream_to_legacy
    (DAY_DT/__BATCH_ID) cannot share a table name: the mixed directory
    depths corrupt partition discovery. Both directions must refuse
    loudly BEFORE writing anything."""
    import datetime as dt

    import pytest as _pytest

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse
    from sahithi_metamorph_etl_spark.streaming.events import events_stream

    run_date = dt.date(2025, 7, 8)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    src = str(tmp_path / "events_src")  # file stream source needs a dir
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(50).coalesce(1).write.parquet(src)

    # batch-first table: a later stream writer must refuse
    wh = LayeredWarehouse(str(tmp_path / "wh_batch_first"))
    wh.append_legacy(batch.limit(5), "events", run_date)
    with _pytest.raises(ValueError, match="DAY_DT-only"):
        wh.stream_to_legacy(
            events_stream(spark, src).select("event_id"),
            "events",
            run_date,
            checkpoint_dir=str(tmp_path / "ckpt_a"),
        )

    # stream-first table: later batch writers must refuse
    wh2 = LayeredWarehouse(str(tmp_path / "wh_stream_first"))
    q = wh2.stream_to_legacy(
        events_stream(spark, src).select("event_id"),
        "events",
        run_date,
        checkpoint_dir=str(tmp_path / "ckpt_b"),
    )
    q.processAllAvailable()
    q.stop()
    with _pytest.raises(ValueError, match="__BATCH_ID"):
        wh2.append_legacy(batch.limit(5), "events", run_date)
    with _pytest.raises(ValueError, match="__BATCH_ID"):
        wh2.write_legacy(batch.limit(5), "events", run_date)
    # same-kind writers still compose
    wh.append_legacy(batch.limit(5), "events", run_date)


def test_funnel_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming funnel parity: over a bounded, event-time-ordered file
    stream (3 ts-range files arriving in order), the per-stage user
    counts derived from the stateful per-user machine's final emissions
    must equal the batch fold's counts exactly."""
    import shutil
    import time as _time

    from pyspark.sql import Window, functions as F

    from sahithi_metamorph_etl_spark.operators.windows import funnel
    from sahithi_metamorph_etl_spark.streaming.events import events_stream
    from sahithi_metamorph_etl_spark.streaming.stateful import funnel_stage_stream

    stages = ["view", "click", "purchase"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch_counts = {r["stage"]: r["n_users"] for r in funnel(ev, stages).collect()}

    # ts-ordered arrival: split into 3 event-time terciles, land them as
    # separate files with strictly increasing mtimes (the file source
    # orders pending files by timestamp)
    src = tmp_path / "funnel_src"
    src.mkdir()
    sliced = ev.filter(F.col("ts").isNotNull()).withColumn(
        "__slice", F.ntile(3).over(Window.orderBy("ts"))
    )
    for i in (1, 2, 3):
        stage_dir = tmp_path / f"stage_{i}"
        (
            sliced.filter(F.col("__slice") == i).drop("__slice")
            .coalesce(1).write.parquet(str(stage_dir))
        )
        part = next(stage_dir.glob("part-*.parquet"))
        shutil.copy(part, src / f"{i:02d}.parquet")
        _time.sleep(1.05)

    stream = funnel_stage_stream(events_stream(spark, str(src)), stages)
    q = (
        stream.writeStream.outputMode("update")
        .format("memory").queryName("funnel_stream_out").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = (
        spark.table("funnel_stream_out")
        .groupBy("user_id").agg(F.max("reached").alias("reached"))
    )
    stream_counts = {
        s: final.filter(F.col("reached") >= s).count() for s in (1, 2, 3)
    }
    assert stream_counts == batch_counts, (stream_counts, batch_counts)


def test_compact_legacy_day_stream_and_batch_layouts(spark, sf_dir, tmp_path):
    """Compaction must collapse a stream-landed day's per-batch dirs
    into one __BATCH_ID=-1 partition (layout depth preserved, table
    still discoverable next to un-compacted days) and shrink a
    drip-fed batch day's file count — with identical rows both times."""
    import datetime as dt

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse
    from sahithi_metamorph_etl_spark.streaming.events import events_stream

    run_date = dt.date(2025, 7, 9)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )

    # stream-landed day: 3 source files -> 3 __BATCH_ID dirs
    src = str(tmp_path / "ev3")
    ev.repartition(3).write.parquet(src)
    wh = LayeredWarehouse(str(tmp_path / "wh_stream"))
    q = wh.stream_to_legacy(
        events_stream(spark, src).select("event_id", "user_id", "event_type"),
        "events", run_date, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    # a second, untouched day must survive compaction of the first
    other_day = dt.date(2025, 7, 10)

    n = ev.count()
    stats = wh.compact_legacy_day(spark, "events", run_date, n_files=2)
    assert stats["rows"] == n
    assert stats["files_before"] >= 3 and stats["files_after"] == 2
    back = wh.read_legacy(spark, "events", run_date=run_date)
    assert back.count() == n
    assert back.select("event_id").distinct().count() == n
    assert "__BATCH_ID" not in back.columns
    # layout still 'batched': the streaming sink may keep landing days
    assert wh._legacy_layout(spark, "events") == "batched"

    # batch table drip-fed into many files
    wh2 = LayeredWarehouse(str(tmp_path / "wh_batch"))
    for i in range(4):
        wh2.append_legacy(ev.limit(100).repartition(3), "events", run_date)
    wh2.append_legacy(ev.limit(10), "events", other_day)
    stats2 = wh2.compact_legacy_day(spark, "events", run_date, n_files=1)
    assert stats2["rows"] == 400 and stats2["files_after"] == 1
    assert wh2.read_legacy(spark, "events", run_date=run_date).count() == 400
    assert wh2.read_legacy(spark, "events", run_date=other_day).count() == 10
    assert wh2._legacy_layout(spark, "events") == "plain"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no partition"):
        wh2.compact_legacy_day(spark, "events", dt.date(1999, 1, 1))


def test_funnel_stream_tolerates_null_user(spark, tmp_path):
    """A NULL user id must form a group like the batch fold's null
    group — not crash the Python worker on int(None)."""
    import datetime as dt

    from sahithi_metamorph_etl_spark.streaming.stateful import funnel_stage_stream

    t = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, t, None, "view", 1.0, "{}"),
        (2, t + dt.timedelta(minutes=1), None, "click", 1.0, "{}"),
        (3, t, 7, "view", 1.0, "{}"),
    ]
    src = str(tmp_path / "null_user_src")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = funnel_stage_stream(stream, ["view", "click"])
    q = out.writeStream.outputMode("update").format("memory").queryName("nu_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["user_id"]: r["reached"] for r in spark.table("nu_out").collect()}
    assert got == {None: 2, 7: 1}


def test_compaction_crash_recovery_restores_stranded_day(spark, sf_dir, tmp_path):
    """A crash between the two swap renames leaves the day's rows in
    .compact_trash_* and the partition MISSING; recover_compaction
    (and therefore the next compact_legacy_day run) must restore it.
    Post-install leftovers (trash + live day both present) and stale
    staging dirs must be cleaned, not restored."""
    import datetime as dt
    import os
    import shutil

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

    run_date = dt.date(2025, 7, 9)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    wh = LayeredWarehouse(str(tmp_path / "wh"))
    wh.append_legacy(ev.limit(50), "events", run_date)
    root = os.path.join(str(tmp_path / "wh"), "legacy", "events")
    day = os.path.join(root, f"DAY_DT={run_date.isoformat()}")
    trash = os.path.join(root, f".compact_trash_DAY_DT={run_date.isoformat()}")
    staging = os.path.join(root, f".compact_staging_DAY_DT={run_date.isoformat()}")

    # simulate the crash window: day moved aside, staging half-written
    os.rename(day, trash)
    os.makedirs(staging)
    # discovery now sees nothing for the day
    assert not os.path.exists(day)

    out = wh.recover_compaction(spark, "events")
    assert out["restored"] == [f"DAY_DT={run_date.isoformat()}"]
    assert f".compact_staging_DAY_DT={run_date.isoformat()}" in out["cleaned"]
    assert wh.read_legacy(spark, "events", run_date=run_date).count() == 50
    assert not os.path.exists(trash) and not os.path.exists(staging)

    # post-install leftover: live day AND trash exist -> trash deleted
    shutil.copytree(day, trash)
    out2 = wh.recover_compaction(spark, "events")
    assert out2["restored"] == [] and out2["cleaned"] == [
        f".compact_trash_DAY_DT={run_date.isoformat()}"
    ]
    assert wh.read_legacy(spark, "events", run_date=run_date).count() == 50

    # next compact run self-heals first: strand again, then compact
    os.rename(day, trash)
    stats = wh.compact_legacy_day(spark, "events", run_date, n_files=1)
    assert stats["rows"] == 50
    assert wh.read_legacy(spark, "events", run_date=run_date).count() == 50
    # no-op on a healthy table
    out3 = wh.recover_compaction(spark, "events")
    assert out3 == {"restored": [], "cleaned": []}


def test_compaction_recovery_scoped_to_its_day(spark, sf_dir, tmp_path):
    """Compacting day B must NOT touch a sibling day A's in-flight swap
    state (trash/staging dirs) — only the unscoped recover_compaction
    form, documented as exclusive, handles those."""
    import datetime as dt
    import os

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

    day_a, day_b = dt.date(2025, 7, 9), dt.date(2025, 7, 10)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    wh = LayeredWarehouse(str(tmp_path / "wh"))
    wh.append_legacy(ev.limit(30), "events", day_a)
    wh.append_legacy(ev.limit(20), "events", day_b)
    root = os.path.join(str(tmp_path / "wh"), "legacy", "events")
    a_dir = os.path.join(root, f"DAY_DT={day_a.isoformat()}")
    a_trash = os.path.join(root, f".compact_trash_DAY_DT={day_a.isoformat()}")

    # day A mid-swap (as another process would leave it)
    os.rename(a_dir, a_trash)
    stats = wh.compact_legacy_day(spark, "events", day_b, n_files=1)
    assert stats["rows"] == 20
    # A's swap state untouched by B's compaction
    assert os.path.exists(a_trash) and not os.path.exists(a_dir)
    # the unscoped startup form restores it
    out = wh.recover_compaction(spark, "events")
    assert out["restored"] == [f"DAY_DT={day_a.isoformat()}"]
    assert wh.read_legacy(spark, "events", run_date=day_a).count() == 30


def test_compaction_recovery_unscoped_restores_multiple_days(spark, sf_dir, tmp_path):
    """TWO stranded days, one unscoped recover_compaction call: both
    must be restored. Regression for a parameter-rebinding bug where
    the first .compact_trash_* dir encountered set day_name and the
    now-active endswith filter silently skipped every other stranded
    day while the function reported success."""
    import datetime as dt
    import os

    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

    day_a, day_b, day_c = (
        dt.date(2025, 7, 9), dt.date(2025, 7, 10), dt.date(2025, 7, 11),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    wh = LayeredWarehouse(str(tmp_path / "wh"))
    wh.append_legacy(ev.limit(30), "events", day_a)
    wh.append_legacy(ev.limit(20), "events", day_b)
    wh.append_legacy(ev.limit(10), "events", day_c)
    root = os.path.join(str(tmp_path / "wh"), "legacy", "events")

    # strand A and C mid-swap; leave B healthy between them so the
    # scan order interleaves stranded and live days
    for d in (day_a, day_c):
        os.rename(
            os.path.join(root, f"DAY_DT={d.isoformat()}"),
            os.path.join(root, f".compact_trash_DAY_DT={d.isoformat()}"),
        )
    # plus a stale staging dir for a third day
    staging = os.path.join(root, f".compact_staging_DAY_DT={day_b.isoformat()}")
    os.makedirs(staging)

    out = wh.recover_compaction(spark, "events")
    assert sorted(out["restored"]) == [
        f"DAY_DT={day_a.isoformat()}", f"DAY_DT={day_c.isoformat()}",
    ]
    assert out["cleaned"] == [f".compact_staging_DAY_DT={day_b.isoformat()}"]
    for d, n in ((day_a, 30), (day_b, 20), (day_c, 10)):
        assert wh.read_legacy(spark, "events", run_date=d).count() == n
    assert not os.path.exists(staging)


def test_streaming_scd2_merges_converge_to_batch_chain(spark, sf_dir, tmp_path):
    """Streaming-SCD2 convergence (the r8/r9 carried obligation): a
    foreachBatch-driven sequence of scd2_merge calls — one micro-batch
    per daily update snapshot, dimension state persisted between
    batches the way a production stream maintains its dim table — must
    converge to EXACTLY the dimension the batch chain replay produces
    (the customer_scd2_chain construction: delete + reinsert with a
    validity gap, segment churn, a partial day-3 snapshot).

    Includes an OVERLAP batch: day 2's snapshot is replayed verbatim as
    an extra micro-batch between day 2 and day 3 — the merge's
    documented idempotency means the replay must not perturb the final
    state (same-day re-merge of identical rows is a pass-through)."""
    import datetime as dt
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.scd import scd2_init, scd2_merge

    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    k = F.col("c_custkey")
    u1 = cust.filter(k % 3 != 0).select(
        "c_custkey",
        F.when(k % 5 == 0, "MOVED").otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(k % 4 == 0, F.col("c_acctbal") + 50.0)
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    u2 = cust.select(
        "c_custkey",
        F.when(k % 7 == 0, "MOVED2").otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.col("c_acctbal"),
    )
    u3 = cust.filter(k % 2 == 0).select(
        "c_custkey",
        F.when(k % 10 == 0, "FINAL")
        .when(k % 7 == 0, "MOVED2")
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(k % 6 == 0, F.col("c_acctbal") - 25.0)
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    keys, tracked = ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    days = {
        1: (dt.date(2025, 2, 1), True),
        2: (dt.date(2025, 3, 1), True),
        # overlap replay of day 2 — same as_of, same rows
        3: (dt.date(2025, 3, 1), True),
        4: (dt.date(2025, 4, 1), False),
    }

    # batch chain replay = expected frame (same construction the
    # customer_scd2_chain oracle hash-checks)
    expect = scd2_init(cust, keys, tracked, dt.date(2025, 1, 1))
    expect = scd2_merge(expect, u1, keys, tracked, days[1][0], close_missing=True)
    expect = scd2_merge(expect, u2, keys, tracked, days[2][0], close_missing=True)
    expect = scd2_merge(expect, u3, keys, tracked, days[4][0])

    # land each snapshot as its own file with strictly increasing
    # mtimes; maxFilesPerTrigger=1 makes each file one micro-batch
    src = tmp_path / "scd2_src"
    src.mkdir()
    for i, up in ((1, u1), (2, u2), (3, u2), (4, u3)):
        stage = tmp_path / f"scd2_stage_{i}"
        up.withColumn("__day", F.lit(i)).coalesce(1).write.parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), src / f"{i:02d}.parquet")
        _time.sleep(1.05)

    state_path = str(tmp_path / "scd2_state")
    scd2_init(cust, keys, tracked, dt.date(2025, 1, 1)).write.parquet(state_path)

    def merge_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        day_rows = batch_df.select("__day").distinct().collect()
        assert len(day_rows) == 1, "one snapshot file per micro-batch"
        as_of, close = days[day_rows[0][0]]
        dim = spark.read.parquet(state_path)
        new = scd2_merge(
            dim, batch_df.drop("__day"), keys, tracked, as_of, close_missing=close
        )
        # materialize BEFORE overwriting the path being read
        new.localCheckpoint().write.mode("overwrite").parquet(state_path)

    q = (
        spark.readStream.schema(u1.withColumn("__day", F.lit(1)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "scd2_ckpt"))
        .foreachBatch(merge_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(df):
        return sorted(
            (
                r["c_custkey"], r["c_mktsegment"], r["c_acctbal"],
                r["effective_from"], r["effective_to"], r["is_current"],
            )
            for r in df.collect()
        )

    got = rows(spark.read.parquet(state_path))
    assert got == rows(expect)
    # the overlap replay was a true no-op: no zero-length same-day
    # versions were introduced for unchanged rows
    assert len(got) == len(set(got))


def test_neardup_ingest_stream_keeps_only_content_novel_docs(spark, tmp_path):
    """End-to-end steady-state incremental near-dup ingestion
    (streaming/neardup.py): micro-batch 1 lands two novel docs; batch
    2's one-word edit of a batch-1 doc is dropped while its fresh doc
    lands; batch 3 drops edits of docs from BOTH earlier batches (the
    store accumulates); a second stream resumed from the same
    checkpoint keeps deduplicating against everything already
    ingested."""
    import shutil as _shutil
    import time as _time

    from sahithi_metamorph_etl_spark.streaming.neardup import (
        neardup_ingest_stream,
    )

    base_a = " ".join(f"a{i}" for i in range(40))
    edit_a = " ".join("XX" if i == 20 else f"a{i}" for i in range(40))
    edit_a2 = " ".join("ZZ" if i == 30 else f"a{i}" for i in range(40))
    base_b = " ".join(f"b{i}" for i in range(40))
    base_c = " ".join(f"c{i}" for i in range(40))
    edit_c = " ".join("YY" if i == 5 else f"c{i}" for i in range(40))
    base_d = " ".join(f"d{i}" for i in range(40))

    batches = [
        [(1, base_a), (2, base_b)],
        [(10, edit_a), (11, base_c)],
        [(20, edit_c), (21, edit_a2), (22, base_d)],
    ]
    src = tmp_path / "nd_src"
    src.mkdir()
    schema = "doc_id bigint, text string"
    for i, rows_ in enumerate(batches):
        stage = tmp_path / f"nd_stage_{i}"
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(str(stage))
        _shutil.copy(next(stage.glob("part-*.parquet")), src / f"{i:02d}.parquet")
        _time.sleep(1.05)

    corpus = str(tmp_path / "nd_corpus")
    store = str(tmp_path / "nd_store")
    ckpt = str(tmp_path / "nd_ckpt")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return neardup_ingest_stream(stream, corpus, store, ckpt, threshold=0.5)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 2, 11, 22]
    # the store holds band signatures for exactly the kept docs
    sids = sorted({r["doc_id"] for r in spark.read.parquet(store).collect()})
    assert sids == [1, 2, 11, 22]

    # resume from the same checkpoint: an edit of an already-kept doc
    # is dropped, the genuinely new doc lands
    edit_d = " ".join("QQ" if i == 7 else f"d{i}" for i in range(40))
    base_e = " ".join(f"e{i}" for i in range(40))
    stage = tmp_path / "nd_stage_3"
    spark.createDataFrame([(30, edit_d), (31, base_e)], schema).coalesce(
        1
    ).write.parquet(str(stage))
    _shutil.copy(next(stage.glob("part-*.parquet")), src / "03.parquet")
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept2 == [1, 2, 11, 22, 31]


def test_neardup_ingest_stream_survives_empty_first_batch(spark, tmp_path):
    """An EMPTY first micro-batch writes the corpus/store base dirs with
    zero parquet footers (dynamic overwrite emits no partition files);
    the next batch's prior-state read must treat that as 'no prior
    data' (UNABLE_TO_INFER_SCHEMA), not wedge the stream permanently."""
    import shutil as _shutil
    import time as _time

    from sahithi_metamorph_etl_spark.streaming.neardup import (
        neardup_ingest_stream,
    )

    schema = "doc_id bigint, text string"
    src = tmp_path / "nde_src"
    src.mkdir()
    batches = [
        [],  # empty first batch
        [(1, " ".join(f"a{i}" for i in range(40)))],
        [(2, " ".join("XX" if i == 20 else f"a{i}" for i in range(40))),
         (3, " ".join(f"b{i}" for i in range(40)))],
    ]
    for i, rows_ in enumerate(batches):
        stage = tmp_path / f"nde_stage_{i}"
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(str(stage))
        _shutil.copy(next(stage.glob("part-*.parquet")), src / f"{i:02d}.parquet")
        _time.sleep(1.05)

    corpus = str(tmp_path / "nde_corpus")
    store = str(tmp_path / "nde_store")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = neardup_ingest_stream(
        stream, corpus, store, str(tmp_path / "nde_ckpt"), threshold=0.5
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 3]  # 2 is a near-dup of 1 and drops


def test_read_prior_distinguishes_empty_store_from_corrupted(spark, tmp_path):
    """r13 ADVICE #3: UNABLE_TO_INFER_SCHEMA is 'no prior data' ONLY
    when the directory holds no data files at all (the empty-first-
    batch shape: base dir + _SUCCESS). A store whose data files exist
    but carry no readable parquet footer (truncated/stripped payloads)
    is CORRUPTED — treating it as empty would silently re-ingest every
    batch document as novel, so the read must raise instead."""
    import pytest as _pytest

    from sahithi_metamorph_etl_spark.streaming.neardup import _read_prior

    # absent path: first batch
    assert _read_prior(spark, str(tmp_path / "absent"), 1) is None

    # commit markers only (the empty-first-batch shape): first batch
    empty = tmp_path / "nd_store_empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert _read_prior(spark, str(empty), 1) is None

    # a CRASHED first write: staged part files under _temporary are
    # invisible to the parquet reader and must also read as "no prior
    # data" — counting them as data would wedge the restarted stream
    # on a state that is genuinely recoverable
    crashed = tmp_path / "nd_store_crashed"
    staged = crashed / "_temporary" / "0" / "attempt_0"
    staged.mkdir(parents=True)
    (staged / "part-00000-aaaa.snappy.parquet").write_bytes(b"PAR1junk")
    assert _read_prior(spark, str(crashed), 1) is None

    # data files with no readable footer (zero-length husks): corrupted.
    # With default confs the footer read already fails loudly; the
    # silent-swallow regime is ignoreCorruptFiles=true, where Spark
    # skips every corrupt file during schema inference and reports
    # UNABLE_TO_INFER_SCHEMA — indistinguishable from an empty store
    # without the listing probe this test pins.
    bad = tmp_path / "nd_store_bad"
    bad.mkdir()
    (bad / "_SUCCESS").touch()
    (bad / "part-00000-deadbeef.snappy.parquet").touch()
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        with _pytest.raises(RuntimeError, match="corrupted store"):
            _read_prior(spark, str(bad), 1)
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
    # and with the default conf the corruption still propagates (the
    # generic non-missing-data failure path), never 'first batch'
    with _pytest.raises(Exception, match="[Pp]arquet"):
        _read_prior(spark, str(bad), 1)

    # r14 ADVICE (high): the PARTITIONED corrupted store — the layout
    # the stream itself writes (partitionBy('__BATCH_ID') → files under
    # __BATCH_ID=N/). Spark's hidden-path rule exempts '_'-prefixed
    # names containing '=' (partition dirs), so the reader SEES these
    # husks; a probe that skipped every '_'-prefixed component would
    # return False here and the guard would never fire for real stores.
    bad_part = tmp_path / "nd_store_bad_part"
    (bad_part / "__BATCH_ID=0").mkdir(parents=True)
    (bad_part / "_SUCCESS").touch()
    (bad_part / "__BATCH_ID=0" / "part-00000-cafe.snappy.parquet").touch()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        with _pytest.raises(RuntimeError, match="corrupted store"):
            _read_prior(spark, str(bad_part), 1)
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)

    # …while a crashed write INSIDE a partition dir (staged _temporary
    # tree only, no committed file) is still recoverable "no prior
    # data": the '=' exemption applies per component, and _temporary
    # has no '='.
    crashed_part = tmp_path / "nd_store_crashed_part"
    staged_part = crashed_part / "__BATCH_ID=0" / "_temporary" / "0"
    staged_part.mkdir(parents=True)
    (staged_part / "part-00000-bbbb.snappy.parquet").write_bytes(b"PAR1junk")
    assert _read_prior(spark, str(crashed_part), 1) is None

    # a healthy store still reads + prunes to strictly-earlier batches
    good = str(tmp_path / "nd_store_good")
    spark.createDataFrame([(1, 0), (2, 1)], "doc_id bigint, __BATCH_ID int") \
        .write.partitionBy("__BATCH_ID").parquet(good)
    prior = _read_prior(spark, good, 1)
    assert [r["doc_id"] for r in prior.collect()] == [1]


def test_neardup_ingest_stream_releases_caches_per_batch(spark, tmp_path):
    """Steady-state cache hygiene: every micro-batch persists the novel
    frame and the collision-candidate frame, and BOTH must drop when
    the batch commits — a long-running stream must not accumulate one
    pinned DataFrame per batch (Spark's CacheManager holds entries
    until explicit unpersist)."""
    import shutil as _shutil
    import time as _time

    from sahithi_metamorph_etl_spark.streaming.neardup import (
        neardup_ingest_stream,
    )

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    schema = "doc_id bigint, text string"
    src = tmp_path / "ndc_src"
    src.mkdir()
    for i in range(3):
        rows_ = [(i * 10 + j, " ".join(f"w{i}_{j}_{t}" for t in range(30)))
                 for j in range(2)]
        stage = tmp_path / f"ndc_stage_{i}"
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(str(stage))
        _shutil.copy(next(stage.glob("part-*.parquet")), src / f"{i:02d}.parquet")
        _time.sleep(1.05)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = neardup_ingest_stream(
        stream, str(tmp_path / "ndc_corpus"), str(tmp_path / "ndc_store"),
        str(tmp_path / "ndc_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before, (
        f"stream leaked {after - before} pinned cache entr(ies) across "
        "3 micro-batches"
    )


def test_neardup_ingest_stream_steady_batch_job_budget(spark, tmp_path):
    """Steady-state cost: a micro-batch that collides with a prior
    store decides novelty ONCE — the verified-dup ids are collected a
    single time and both sink writes anti-join that local frame, so no
    part of the dedup pipeline runs again for the second write.
    ``foreachBatch`` jobs do not inherit a job group; the stream tags
    each with ``id = <query id>`` and ``batch = <n>`` in its
    description, which is what this counts."""
    import shutil as _shutil
    import time as _time

    from sahithi_metamorph_etl_spark.streaming.neardup import (
        neardup_ingest_stream,
    )

    def words(tag, edit=None):
        return " ".join(
            "EDIT" if t == edit else f"{tag}_{t}" for t in range(30)
        )

    schema = "doc_id bigint, text string"
    src = tmp_path / "ndj_src"
    src.mkdir()
    batches = [
        [(0, words("w0")), (1, words("w1")), (2, words("w2"))],
        [(10, words("w0", edit=5)), (11, words("n1"))],
        [(20, words("w1", edit=7)), (21, words("n2"))],
    ]
    for i, rows_ in enumerate(batches):
        stage = tmp_path / f"ndj_stage_{i}"
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(str(stage))
        _shutil.copy(next(stage.glob("part-*.parquet")), src / f"{i:02d}.parquet")
        _time.sleep(1.05)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    corpus = str(tmp_path / "ndj_corpus")
    q = neardup_ingest_stream(
        stream, corpus, str(tmp_path / "ndj_store"),
        str(tmp_path / "ndj_ckpt"), threshold=0.5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept == [0, 1, 2, 11, 21]

    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    per_batch = [0, 0, 0]
    for i in range(jobs.size()):
        desc = jobs.apply(i).description()
        lines = desc.get().splitlines() if desc.isDefined() else []
        if f"id = {q.id}" in lines:
            for b in range(3):
                per_batch[b] += f"batch = {b}" in lines
    # batches 1 and 2 are steady state: a prior store and a verified
    # duplicate each
    assert max(per_batch[1:]) <= 18, per_batch
