"""The reference's full ingestion→marts DAG as a composed pipeline.

Topology from `ETL_Airflow/dags/metamorph_etl_dag.py:49`:

    [suppliers, products, customers] >> sales
        >> supplier_performance >> product_performance
        >> customer_sales_report

Each ingest task lands its entity as write → audit → publish:

1. **write** — the entity's lineage (for sales, with the SALE_ID
   dedupe) runs exactly once, into the raw snapshot
   ``raw/<name>_pre`` (the reference's ``raw.*_pre``);
2. **audit** — the reference's quality gates (Q1 uniqueness +
   non-empty, `utils.py` validations) run on the staged snapshot, read
   back with the schema just written, so they scan parquet instead of
   re-running the lineage;
3. **publish** — the staged snapshot is appended as the run date's
   ``legacy/<name>`` partition.

A failed gate leaves the rejected snapshot in ``raw/<name>_pre`` (the
audit area), writes no legacy partition for the day, and the pipeline
skips every downstream task. Each mart task reads the run-date slice
BACK from the legacy layer (the reference's P6 ``DAY_DT =
current_date`` read-back — here a pruned partition scan) and writes its
result as a legacy mart table. The composition is what the reference
can only express through Airflow; task functions stay plain callables
an orchestrator could schedule directly.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from ..core.pipeline import PipelineTask, TaskRun, run_pipeline
from ..operators.aggregates import dedupe_by_key
from ..sinks.warehouse import LayeredWarehouse
from ..validators.checks import validate_non_empty, validate_unique
from .adapters import tpch_entities
from .customer_sales_report import build_customer_sales_report
from .product_performance import build_product_performance
from .supplier_performance import build_supplier_performance

_ENTITY_KEYS = {
    "suppliers": "SUPPLIER_ID",
    "products": "PRODUCT_ID",
    "customers": "CUSTOMER_ID",
    "sales": "SALE_ID",
}


def metamorph_tasks(
    spark: SparkSession,
    sf_dir: str,
    warehouse: LayeredWarehouse,
    run_date: dt.date,
    retries: int = 0,
    retry_delay_s: float = 0.0,
) -> list[PipelineTask]:
    """Build the task list (reference DAG shape) without running it —
    hand these to :func:`run_pipeline` or to a real orchestrator."""
    entities = tpch_entities(spark, sf_dir)

    def ingest(name: str):
        def _run(_upstream):
            df = entities[name]
            if name == "sales":
                # the adapted fact carries intentional duplicate order
                # lines (testdata exercises A5 detection); the reference's
                # sales feed is unique on SALE_ID before its gate
                # (`ingestion_task.py:234`), so cleanse deterministically
                # first — the gate below then enforces the invariant.
                df = dedupe_by_key(df, [_ENTITY_KEYS[name]])
            # write → audit → publish (module docstring); the schema
            # just written spares the read-back a schema-inference job
            staged = spark.read.schema(df.schema).parquet(warehouse.write_raw(df, name))
            validate_non_empty(staged, name)
            validate_unique(staged, [_ENTITY_KEYS[name]])
            return warehouse.write_legacy(staged, name, run_date)

        return _run

    def mart_supplier(_upstream):
        out = build_supplier_performance(
            warehouse.read_legacy(spark, "sales", run_date),
            warehouse.read_legacy(spark, "products", run_date),
            warehouse.read_legacy(spark, "suppliers", run_date),
            run_date,
        )
        return warehouse.write_legacy(out, "supplier_performance", run_date)

    def mart_product(_upstream):
        out = build_product_performance(
            warehouse.read_legacy(spark, "sales", run_date),
            warehouse.read_legacy(spark, "products", run_date),
            run_date,
        )
        return warehouse.write_legacy(out, "product_performance", run_date)

    def mart_customer(_upstream):
        out = build_customer_sales_report(
            warehouse.read_legacy(spark, "sales", run_date),
            warehouse.read_legacy(spark, "products", run_date),
            warehouse.read_legacy(spark, "customers", run_date),
            warehouse.read_legacy(spark, "supplier_performance", run_date),
            run_date,
        )
        return warehouse.write_legacy(out, "customer_sales_report", run_date)

    k = {"retries": retries, "retry_delay_s": retry_delay_s}
    ingest_deps = ("ingest_suppliers", "ingest_products", "ingest_customers")
    return [
        PipelineTask("ingest_suppliers", ingest("suppliers"), **k),
        PipelineTask("ingest_products", ingest("products"), **k),
        PipelineTask("ingest_customers", ingest("customers"), **k),
        PipelineTask("ingest_sales", ingest("sales"), deps=ingest_deps, **k),
        PipelineTask("supplier_performance", mart_supplier, deps=("ingest_sales",), **k),
        PipelineTask("product_performance", mart_product, deps=("supplier_performance",), **k),
        PipelineTask("customer_sales_report", mart_customer, deps=("product_performance",), **k),
    ]


def run_metamorph_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_root: str,
    run_date: dt.date,
    retries: int = 0,
    retry_delay_s: float = 0.0,
) -> dict[str, TaskRun]:
    """Reference entry point 1 end-to-end: raises PipelineFailure (with
    per-task runs attached) if any stage fails its retry budget."""
    wh = LayeredWarehouse(warehouse_root)
    return run_pipeline(
        metamorph_tasks(spark, sf_dir, wh, run_date, retries, retry_delay_s)
    )
