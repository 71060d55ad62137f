"""Steady-state incremental near-dup INGESTION as a Structured
Streaming pipeline — the daily-batch loop the batch operator
(:func:`..llm.dedup.neardup_against_seen`) documents, wired end to
end: each micro-batch collides with the persisted band store, only
content-novel documents land, and their signatures extend the store
for the next batch. Novelty is decided once per micro-batch, on the
driver, by the same decision ``neardup_against_seen`` runs; both sink
writes come from its result.

Reading the prior store tells an empty store from a corrupted one by
asking the parquet reader's own file index (``inputFiles``) whether
it lists any data file — no second copy of Spark's hidden-path rule.
The prior corpus is read with the batch's own schema; a corpus that
lost a payload the store still names fails the decision instead.

Reference parity: the reference engine has no streaming dedup; this is
part of the LLM-curation extension surface (SURVEY.md §2 extras),
composing §2.9's exactly-once streaming treatment with the dedup
stack.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..core.frames import local_frame
from ..llm.dedup import _decide_against_seen


def _has_data_files(spark, path: str) -> bool:
    """True iff the parquet reader's own file index under ``path`` lists
    any file: the probe and the reader see the same files by
    construction. Spark's listing hides ``_SUCCESS``/``_committed``
    markers and whole staged trees like ``_temporary/…/part-*.parquet``
    left by a crashed write (counting those as data would turn the
    recoverable crashed-first-write state into a permanent "corrupted
    store" wedge), while files under partition directories
    (``__BATCH_ID=N/`` — this module's own store layout) are listed.
    The schema is a placeholder: a known-schema read lists files
    without opening any footer, so it starts no job."""
    return bool(spark.read.schema("_probe int").parquet(path).inputFiles())


def _read_prior(
    spark, path: str, batch_id: int, schema: T.StructType | None = None
) -> DataFrame | None:
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

    An absent path is checked first, with ``exists`` on the Hadoop
    FileSystem of the path's own scheme: the read would fail too, but
    only after Spark logs a WARN with a full ``FileNotFoundException``
    trace on every stream start.

    Without ``schema`` the read infers it on purpose (one footer job): a
    known-schema read plans no split for a zero-length part file, even
    with ``ignoreCorruptFiles=false``, so a store of zero-length husks
    would read as "no prior data" instead of failing. When inference
    finds no footer, :func:`_has_data_files` asks the reader's file
    index whether the store is empty or corrupted. With ``schema`` (the
    corpus, whose columns are the batch's) the read starts no job; a
    lost or zero-length corpus payload then reads as absent, and the
    decision raises for the store candidate that names it."""
    from pyspark.errors import AnalysisException

    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return None
    if schema is not None:
        return spark.read.schema(schema).parquet(path).filter(F.col("__BATCH_ID") < batch_id)
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

    1. decide, on the driver, which documents of the batch near-dup
       something already ingested (:func:`..llm.dedup._decide_against_seen`,
       the decision behind ``neardup_against_seen``): one collect of
       the batch's shingle hashes, one scan of the PERSISTED band store
       against the broadcast batch signatures, one scan of the corpus
       for the colliding seen docs, and the exact verify on the
       candidate pairs only — never batch x corpus;
    2. append the novel payloads (the batch anti-joined to the local
       duplicate ids) to ``corpus_path`` and their band signatures (the
       local signature table minus those ids) to ``store_path``, each
       under the batch's own ``__BATCH_ID`` partition with dynamic
       partition overwrite — the ``stream_to_legacy`` exactly-once
       treatment: a replayed batch REPLACES its own files instead of
       appending duplicates, and both reads filter to strictly-earlier
       batches so the replayed decision is bit-identical.

    The batch is bounded by the source's ``maxFilesPerTrigger``, so its
    side of the decision fits on the driver; nothing is persisted and
    no Python stage runs. A store candidate with no corpus payload
    raises ``RuntimeError`` naming both paths: every store id was
    written to the corpus by the same earlier batch, so its absence
    means a corrupted or mismatched corpus.

    WITHIN-batch near-dups are deliberately out of scope (they are
    ``minhash_lsh_pairs``'s job at corpus build time); this pipeline
    answers "is the incoming document new vs everything ALREADY
    ingested". Returns the StreamingQuery; caller owns its lifecycle.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = _read_prior(spark, store_path, batch_id)
        corpus = None
        if store is not None:
            # the corpus holds exactly the batch's columns: read it back
            # with that schema (no footer-inference job)
            corpus = _read_prior(
                spark, corpus_path, batch_id,
                T.StructType(batch_df.schema.fields + [T.StructField("__BATCH_ID", T.IntegerType())]),
            )
        sigs, pairs = _decide_against_seen(
            batch_df, store, corpus, text_col, id_col, n, num_perm, bands,
            threshold, store_name=store_path, corpus_name=corpus_path,
        )
        dup_ids = sorted({i for i, _, _ in pairs})
        novel = batch_df
        if dup_ids:
            dups = local_frame(spark, [(i,) for i in dup_ids], T.StructType([batch_df.schema[id_col]]))
            novel = batch_df.join(F.broadcast(dups), id_col, "left_anti")
        # null ids never reach the store (no later batch could name
        # them as a match)
        ids = sigs.column(id_col)
        keep = pc.and_(pc.is_valid(ids), pc.invert(pc.is_in(ids, pa.array(dup_ids, ids.type))))
        novel_sigs = local_frame(spark, sigs.filter(keep), from_arrow_schema(sigs.schema))
        for df, path in ((novel, corpus_path), (novel_sigs, store_path)):
            (
                df.withColumn("__BATCH_ID", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__BATCH_ID")
                .parquet(path)
            )

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .start()
    )
