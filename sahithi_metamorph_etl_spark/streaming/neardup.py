"""Steady-state incremental near-dup INGESTION as a Structured
Streaming pipeline — the daily-batch loop the batch operator
(:func:`..llm.dedup.neardup_against_seen`) documents, wired end to
end: each micro-batch collides with the persisted band store, only
content-novel documents land, and their signatures extend the store
for the next batch.

Reference parity: the reference engine has no streaming dedup; this is
part of the LLM-curation extension surface (SURVEY.md §2 extras),
composing §2.9's exactly-once streaming treatment with the dedup
stack.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.dedup import band_signature_store, neardup_against_seen

_log = logging.getLogger(__name__)


def _is_hidden_component(s: str) -> bool:
    """Exact mirror of Spark's hidden-path rule
    (``org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName``,
    pinned name-by-name against the JVM original in
    ``tests/test_streaming.py``): hidden = an underscore prefix with
    no ``=`` (so partition directories like ``__BATCH_ID=3`` stay
    VISIBLE), a dot prefix, or the in-flight-copy suffix
    ``._COPYING_`` — EXCEPT the parquet summary files
    ``_metadata``/``_common_metadata``, which the reader lists as
    leaf files."""
    exclude = (
        (s.startswith("_") and "=" not in s)
        or s.startswith(".")
        or s.endswith("._COPYING_")
    )
    include = s.startswith("_common_metadata") or s.startswith("_metadata")
    return exclude and not include


def _hidden_rule(jvm):
    """Spark's OWN hidden-path predicate when reachable — divergence
    from the reader then impossible by construction — else the
    test-pinned Python mirror. ``HadoopFSUtils`` is ``private[spark]``,
    which still compiles to public bytecode, so the call works on the
    shipped pyspark; if a future Spark moves the method (it migrated
    from ``InMemoryFileIndex`` once before), fall back to
    :func:`_is_hidden_component`, whose parity the property test in
    ``tests/test_streaming.py`` re-pins against whatever JVM rule the
    running Spark exposes."""
    try:
        rule = jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName
        rule("_reachability_probe")
        return rule
    except Exception as e:
        # Any Py4J failure lands here, not only a moved/removed method
        # (e.g. a transient gateway error). The parity test keeps the
        # mirror correct either way, but note which predicate ran so a
        # future divergence is diagnosable from production logs.
        _log.debug(
            "JVM HadoopFSUtils.shouldFilterOutPathName unreachable; "
            "falling back to the test-pinned Python mirror: %r", e,
        )
        return _is_hidden_component


def _hadoop_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path``, on the FileSystem of its own
    scheme."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _has_data_files(spark, path: str) -> bool:
    """True iff the recursive Hadoop listing under ``path`` contains
    any file the parquet reader would SEE — one with no hidden
    component anywhere below the base (:func:`_hidden_rule`: Spark's
    own JVM predicate, mirror fallback). _SUCCESS/_committed markers and whole staged
    trees like ``_temporary/…/part-*.parquet`` left by a crashed
    write stay invisible (counting those as data would turn the
    recoverable crashed-first-write state into a permanent "corrupted
    store" wedge), while files under partition directories
    (``__BATCH_ID=N/`` — this module's own store layout) are visible,
    exactly as the reader treats them. Uses the Hadoop FileSystem of
    the path's own scheme, so the probe works wherever the store
    lives, not just local disk."""
    jvm = spark._jvm
    fs, hpath = _hadoop_path(spark, path)
    if not fs.exists(hpath):
        return False
    base = fs.makeQualified(hpath).toString().rstrip("/")
    rule = _hidden_rule(jvm)
    # Path components repeat heavily across a partitioned listing
    # (every file under __BATCH_ID=3/ shares that component, and
    # part-file basenames recur across partitions), and when the rule
    # is the JVM predicate each verdict is a Py4J round-trip — memoize
    # per-component so a large store costs one round-trip per DISTINCT
    # component, not per (file x component).
    verdicts: dict[str, bool] = {}

    def hidden(s: str) -> bool:
        v = verdicts.get(s)
        if v is None:
            v = verdicts[s] = bool(rule(s))
        return v

    it = fs.listFiles(hpath, True)
    while it.hasNext():
        full = it.next().getPath().toString()
        rel = full[len(base):].lstrip("/") if full.startswith(base) else full
        if any(hidden(s) for s in rel.split("/") if s):
            continue
        return True
    return False


def _read_prior(spark, path: str, batch_id: int) -> DataFrame | None:
    """Batches strictly BEFORE ``batch_id`` from a __BATCH_ID-partitioned
    path, or None when nothing earlier exists. The strict bound is the
    replay keystone: a crash between the sink writes and the checkpoint
    commit replays the same batch id, and reading only earlier
    partitions (a partition-pruned filter) makes the replayed decision
    IDENTICAL to the original — the batch can never collide with its
    own earlier half-written output. Only missing-data reads (path
    absent, or present with only commit markers like _SUCCESS) mean
    "first batch" — any other read failure (corrupt store, permissions)
    must propagate, not silently ingest the whole batch as novel.

    An absent path is checked with the Hadoop ``fs.exists`` first: the
    read would fail too, but only after Spark logs a WARN with a full
    ``FileNotFoundException`` trace on every stream start."""
    from pyspark.errors import AnalysisException

    fs, hpath = _hadoop_path(spark, path)
    if not fs.exists(hpath):
        return None
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        s = str(e)
        if "PATH_NOT_FOUND" in s or "Path does not exist" in s:
            return None
        # UNABLE_TO_INFER_SCHEMA: no readable parquet footer was found.
        # Legitimate when the directory holds no data files at all — an
        # EMPTY first micro-batch under dynamic overwrite writes the
        # base dir with just _SUCCESS, and treating that as an error
        # would wedge the stream permanently on every replay. But if
        # the listing DOES show data files (a store whose parquet
        # payloads were truncated or stripped to unreadable husks),
        # "no prior data" would silently ingest the whole batch as
        # novel — that is a corrupted store and must propagate.
        if "UNABLE_TO_INFER_SCHEMA" in s or "Unable to infer schema" in s:
            if _has_data_files(spark, path):
                raise RuntimeError(
                    f"near-dup store at {path!r} contains data files but "
                    "no readable parquet footer — refusing to treat a "
                    "corrupted store as 'no prior data' (every batch "
                    "document would silently ingest as novel); repair or "
                    "remove the store before restarting the stream"
                ) from e
            return None
        raise
    return df.filter(F.col("__BATCH_ID") < batch_id)


def neardup_ingest_stream(
    stream_df: DataFrame,
    corpus_path: str,
    store_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
):
    """Start the incremental near-dup ingestion stream: per micro-batch

    1. detect near-duplicates of the batch against the PERSISTED band
       store (``neardup_against_seen`` — collision join + exact
       verification, never batch x corpus),
    2. anti-join the batch against the detected ids → novel documents,
    3. append the novel payloads to ``corpus_path`` and their band
       signatures to ``store_path``, each under the batch's own
       ``__BATCH_ID`` partition with dynamic partition overwrite — the
       ``stream_to_legacy`` exactly-once treatment: a replayed batch
       REPLACES its own files instead of appending duplicates, and
       both reads filter to strictly-earlier batches so the replayed
       decision is bit-identical.

    WITHIN-batch near-dups are deliberately out of scope (they are
    ``minhash_lsh_pairs``'s job at corpus build time); this pipeline
    answers "is the incoming document new vs everything ALREADY
    ingested". Returns the StreamingQuery; caller owns its lifecycle.

    Scale shape per batch: batch signatures zero-shuffle; the
    collision join prunes to earlier ``__BATCH_ID`` partitions and is
    co-located when the store is bucketed on (band, sig); corpus
    payloads are touched only for colliding candidates.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        spark = batch_df.sparkSession
        store = _read_prior(spark, store_path, batch_id)
        # the batch's band signatures feed BOTH the collision join and
        # (filtered to the novel subset) the store write — compute the
        # shingle+minhash pass ONCE per batch and persist it
        sigs = band_signature_store(
            batch_df, text_col, id_col, n, num_perm, bands
        ).persist(StorageLevel.MEMORY_AND_DISK)
        novel = batch_df
        release = None
        if store is not None:
            old = _read_prior(spark, corpus_path, batch_id)
            # return_release: the collision-candidate frame inside
            # neardup_against_seen is persisted per call; a steady-state
            # stream invokes this EVERY micro-batch, so the cache must
            # drop when the batch commits, not accumulate one pinned
            # frame per batch for the life of the query
            dups, release = neardup_against_seen(
                batch_df, store, old,
                text_col=text_col, id_col=id_col,
                n=n, num_perm=num_perm, bands=bands, threshold=threshold,
                return_release=True, new_sigs=sigs,
            )
            # no distinct on the anti-probe (r22): a left_anti drops a
            # batch row on ANY build match, so duplicate dup-ids are
            # semantically inert and the distinct's exchange+aggregate
            # was one more per-batch job (guide §2.4); the broadcast
            # carries verified-pair rows, bounded by the collision count
            novel = batch_df.join(
                F.broadcast(dups.select(id_col)),
                id_col, "left_anti",
            )
        # novel feeds BOTH sink writes; persist so the dedup pipeline
        # (collision join + semi-joins + exact verification) runs once
        # per batch — the corpus write materializes the cache, the
        # store write reuses it
        novel = novel.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for df, path in (
                (novel, corpus_path),
                (
                    # the novel docs' signatures are a row-filter of the
                    # batch frame already computed above (signatures are
                    # per-doc deterministic) — no second shingle pass
                    sigs.join(
                        F.broadcast(novel.select(id_col)), id_col, "left_semi"
                    ),
                    store_path,
                ),
            ):
                (
                    df.withColumn("__BATCH_ID", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("__BATCH_ID")
                    .parquet(path)
                )
        finally:
            novel.unpersist()
            sigs.unpersist()
            if release is not None:
                release.release()

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .start()
    )
