"""Spark session factory.

Replaces the reference's hard-wired session builder
(`ETL_Airflow/dags/tasks/utils.py:10-31`, which pins GCS/JDBC jars and a
fixed standalone master) with a parameterized factory:

- master/cores from ``SPARK_GRAFT_CPUS`` (driver contract) or arguments
- shuffle partitions sized to cores for local mode (the reference leaves
  the 200 default, wrong at both ends of the scale)
- AQE + skew-join handling on (runtime re-planning at 100 TB)
- Arrow enabled (fast pandas/Python interchange for the pandas-UDF path)
- session timezone pinned to UTC so results are reproducible and
  comparable against external oracles (DuckDB timestamps are UTC-naive)

At cluster scale the same factory is used with a real master URL; nothing
in the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "sahithi-metamorph-etl-spark"


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the core count: right for local
    correctness/bench runs. On a 1000-executor cluster pass an explicit
    value (~2-3x total cores) or rely on AQE coalescing from a higher
    initial number.
    """
    cores = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime semi-join reduction: inject a bloom filter built from
        # the filtered small side of a shuffle join into the large
        # side's scan, so non-matching fact rows never shuffle. This is
        # the engine-level form of a hand-rolled bloom-prefilter join
        # (bloom_filter_agg is not in the public function registry) —
        # let Catalyst own it rather than reimplementing it in the API.
        # Measured at sf0.1 (r7): ZERO filters are injected into any
        # headline plan — every scan is far below the 10 GB
        # application-side threshold — so the conf is a no-op locally
        # (r6's bench deltas attributed to it, the mart wins AND the
        # doc_jaccard_pairs "+14%", were shared-machine noise; an
        # interleaved A/B at sf0.1 shows no difference). It stays on
        # because injection begins exactly at cluster-scale scans,
        # which is the regime this engine targets.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # the parsed-SQL expression family (llm.bpe._sql_str, the
        # literal plane/sign matrices in llm.projection / llm.similarity,
        # llm.dedup._grams_expr) emits strings for the DEFAULT parser;
        # a session with legacy escapedStringLiterals=true would
        # silently mis-parse backslash-containing corpus tokens
        # (ADVICE_r21). Pin the default so the assumption is explicit
        # wherever the engine builds its own session.
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
