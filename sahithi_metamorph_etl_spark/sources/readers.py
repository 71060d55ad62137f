"""Typed batch source connectors.

Reference surface covered (SURVEY.md §2.1):
- S1 CSV scan (`ingestion_task.py:204-212`): the reference infers schema;
  here the schema is an explicit contract and corrupt rows are captured
  permissively instead of poisoning inference.
- S4/S5 JDBC scan (`utils.py:166-187`, `Raptor.py:20-38`): the reference
  reads on ONE partition — its main scale bottleneck (BASELINE.md). The
  partitioned reader below splits on a numeric column so a 1000-executor
  cluster fans the read out.
- S6 parquet scan (`Raptor.py:89-100`).

All readers return plain DataFrames; plans stay lazy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core.contracts import TESTDATA

CORRUPT_COL = "_corrupt_record"


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    sep: str = ",",
    capture_corrupt: bool = True,
) -> DataFrame:
    """CSV with an explicit contract. PERMISSIVE + corrupt-record capture:
    drifted rows land in ``_corrupt_record`` instead of silently skewing
    inferred types (the reference's failure mode, SURVEY.md §1)."""
    if capture_corrupt and CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)])
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # Parquet carries its own schema; contracts are enforced downstream by
    # validators.validate_schema where a pipeline requires it.
    return spark.read.parquet(path)


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.parquet`` has shipped two ways across driver generations:
    TIMESTAMP(MICROS) (read natively — as TIMESTAMP_NTZ, the semantic
    twin of DuckDB's naive TIMESTAMP, so oracle comparisons are
    timezone-independent) and TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; the nanos shape is read via the legacy nanos-as-long
    escape hatch and truncated to microseconds (the same narrowing
    DuckDB applies). The branch keys on the actual file schema, so both
    generations load to the same column type.
    """
    if table not in TESTDATA:
        raise KeyError(f"unknown testdata table: {table}")
    if table == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        try:
            df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        except Exception:
            # TIMESTAMP(NANOS) testdata: retry with the legacy escape hatch
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # nanos → micros, then to NTZ via an explicit UTC rendering so
            # the result is session-timezone-independent
            df = df.withColumn(
                "ts", F.expr("convert_timezone('UTC', timestamp_micros(ts div 1000))")
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def dated_path(template: str, run_date, token: str = "{YYYYMMDD}") -> str:
    """Expand a date-templated landing path (reference
    `ingestion_task.py:204-205`: ``gs://…/{YYYYMMDD}/sales_{YYYYMMDD}.csv``
    built by hand with ``datetime.today()``). ``run_date`` is an explicit
    parameter — never "today" inside the engine (SURVEY.md §4
    determinism rule), so backfills and reruns hit the intended day."""
    if token not in template:
        raise ValueError(f"template {template!r} does not contain {token!r}")
    return template.replace(token, run_date.strftime("%Y%m%d"))


def read_dated_csv(
    spark: SparkSession,
    template: str,
    run_date,
    schema: T.StructType,
    **csv_kwargs,
) -> DataFrame:
    """Date-templated CSV ingestion (the reference's daily sales drop):
    `dated_path` + contract-enforced `read_csv` with corrupt capture."""
    return read_csv(spark, dated_path(template, run_date), schema, **csv_kwargs)


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str],
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 16,
) -> DataFrame:
    """JDBC scan with partitioned reads.

    Fixes the reference's single-partition `spark.read.jdbc`
    (`utils.py:185`): without partitionColumn every executor but one idles
    and the whole table streams through a single connection.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def jdbc_query_source(query: str, alias: str = "q") -> str:
    """S5 query pushdown: wrap an arbitrary SQL query so the DATABASE
    executes it and only its result crosses the wire — pass the return
    value as ``table`` to :func:`read_jdbc_partitioned`.

    The reference pulls whole tables and filters in Spark
    (`Raptor.py:20-38`); pushing the query down turns a full-table
    extract into a server-side scan (with the DB's own indexes), which
    at serving-database scale is the difference between seconds and
    hours. Spark's JDBC source accepts any derived table as ``dbtable``;
    combine with ``partition_column`` on a numeric column of the QUERY
    RESULT to keep the read parallel.
    """
    q = query.strip().rstrip(";")
    return f"({q}) {alias}"
