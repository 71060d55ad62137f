"""Customer sales report mart.

Re-expression of `ETL_Airflow/dags/tasks/m_customer_sales_report_task.py:10-291`:
filter cancelled → left-join products → inner-join customers → derived
date/price metrics → per-customer aggregate → loyalty-tier cutoffs at the
50th/80th percentile → tier join-back → top-performer flag from the
supplier-performance mart's TOP_SELLING_PRODUCT → final projection.

Deliberate deviations (SURVEY.md §7):
- run_date / load_ts are parameters (reference: current_date()/
  current_timestamp() inside the plan);
- tier cutoffs use EXACT percentiles by default (reference:
  approxQuantile ±1%, nondeterministic across engines); pass
  exact_tiers=False for the reference's sketch behavior at scale;
- AGG_SALES_AMOUNT is rounded to 2dp before the quantile/tier compare so
  float summation order cannot flip a tier;
- the top-performer name list is DISTINCT-ed before the join: the
  reference fans out (duplicating SALE_ID rows) if two suppliers share a
  top product name (`m_customer_sales_report_task.py:226-231`).

Scale notes: products and customers broadcast; the per-customer
aggregate is a second shuffle of the fact. The tier join-back is a
broadcast of the (small) per-customer tier table onto the detail rows —
the reference's self-join J8 done cheaply. With exact_tiers the cutoffs
are a 1-row in-plan aggregate broadcast-joined back (single job); the
approx path keeps the reference's driver-side approxQuantile action.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import checked_sum, dround
from ..operators.quantiles import approx_quantiles, inplan_quantiles, tier_by_cutoffs


def build_customer_sales_report(
    sales: DataFrame,
    products: DataFrame,
    customers: DataFrame,
    supplier_performance: DataFrame | None,
    run_date: dt.date,
    load_ts: dt.datetime | None = None,
    exact_tiers: bool = True,
    top_products: DataFrame | None = None,
) -> DataFrame:
    """The mart's detail rows (one per non-cancelled sale). Persists
    nothing: the returned plan computes the per-customer aggregate once
    (exchange reuse) for both the cutoffs and the tier join-back."""
    load_ts = load_ts or dt.datetime(run_date.year, run_date.month, run_date.day)
    run_date_lit = F.lit(run_date.isoformat()).cast("date")

    sq_sales = sales.select(
        "SALE_ID", "CUSTOMER_ID", "PRODUCT_ID", "QUANTITY", "DISCOUNT", "SALE_DATE", "ORDER_STATUS"
    )
    sq_products = products.select("PRODUCT_ID", "PRODUCT_NAME", "CATEGORY", "SELLING_PRICE")
    sq_customers = customers.select("CUSTOMER_ID", "NAME", "CITY")
    # reference reads back today's legacy.supplier_performance slice (P6).
    # Callers with the landed mart at hand (the pipeline) pass it as
    # `supplier_performance`; callers composing both marts in one plan
    # pass `top_products` (supplier_performance.build_top_selling_products)
    # instead, which derives the SAME distinct name list without the
    # supplier-level re-agg / enrichment joins / product-level persist
    # the full mart pays (measured ~1 s of 4.8 s at sf0.1).
    if top_products is None:
        if supplier_performance is None:
            raise ValueError(
                "build_customer_sales_report needs supplier_performance or top_products"
            )
        top_products = (
            supplier_performance.filter(F.col("DAY_DT") == run_date_lit)
            .select("TOP_SELLING_PRODUCT")
            .where(F.col("TOP_SELLING_PRODUCT").isNotNull())
            .distinct()
        )
    top_products = top_products.withColumn("TOP_PERFORMER", F.lit("true"))

    fil = sq_sales.filter(F.col("ORDER_STATUS") != "Cancelled")

    joined = (
        fil.join(F.broadcast(sq_products), on="PRODUCT_ID", how="left")
        .join(F.broadcast(sq_customers), on="CUSTOMER_ID", how="inner")
        .select(
            "SALE_ID", "CUSTOMER_ID", "PRODUCT_ID", "QUANTITY", "DISCOUNT", "SALE_DATE",
            "ORDER_STATUS", "PRODUCT_NAME", "CATEGORY", "SELLING_PRICE", "NAME", "CITY",
        )
    )

    metrics = (
        joined.withColumn("DAY_DT", run_date_lit)
        .withColumn("SALE_DATE", F.coalesce(F.col("SALE_DATE"), F.date_sub(run_date_lit, 1)))
        .withColumn("SALE_MONTH", F.date_format(F.col("SALE_DATE"), "MMMM"))
        .withColumn("SALE_YEAR", F.year(F.col("SALE_DATE")))
        .withColumn("PRICE", F.col("SELLING_PRICE") * (1 - F.col("DISCOUNT") / 100))
        .withColumn(
            "SALE_AMOUNT",
            dround(F.col("QUANTITY") * F.col("SELLING_PRICE") * (1 - F.col("DISCOUNT") / 100), 2),
        )
    )
    # NEVER persist the fact-wide frame: writing every detail row into
    # the block manager costs ~3x a plain computation pass (measured:
    # 5.5s persist vs 1.4s pass at sf0.1) and at 100 TB it is a full
    # fact-sized spill. Nor the per-customer aggregate: an unmaterialized
    # cache reports a default (huge) size, so Catalyst adds a runtime
    # bloom-filter subquery that scans the fact a third time. The fact
    # is scanned twice — once for the per-customer aggregate (Catalyst
    # prunes to the 4 columns that pass needs), once for the detail
    # projection.
    # PER-CUSTOMER totals are scale-invariant (orders per customer is a
    # fixed ratio in this data model, ~10 x <=6e5 each ⇒ <=~1e7), so the
    # declared 1e8 bound holds at ANY corpus SF and checked_sum provably
    # keeps the codegen-friendly bigint micro-unit path
    per_customer = metrics.groupBy("CUSTOMER_ID").agg(
        checked_sum(F.col("SALE_AMOUNT"), max_abs_total=1e8, scale=2).alias("AGG_SALES_AMOUNT")
    )

    if exact_tiers:
        # 1-row cutoff aggregate broadcast back onto per_customer: the
        # whole mart stays ONE job — no driver action re-running the
        # fact join pipeline just to fetch two scalars
        cutoffs = inplan_quantiles(
            per_customer, "AGG_SALES_AMOUNT", [0.5, 0.8], ["_SILVER_CUT", "_GOLD_CUT"]
        )
        tiers = (
            per_customer.crossJoin(F.broadcast(cutoffs))
            .withColumn(
                "LOYALTY_TIER",
                tier_by_cutoffs(
                    F.col("AGG_SALES_AMOUNT"), F.col("_SILVER_CUT"), F.col("_GOLD_CUT")
                ),
            )
            .select("CUSTOMER_ID", "LOYALTY_TIER")
        )
    else:
        silver, gold = approx_quantiles(per_customer, "AGG_SALES_AMOUNT", [0.5, 0.8], rel_err=0.01)
        tiers = per_customer.withColumn(
            "LOYALTY_TIER", tier_by_cutoffs(F.col("AGG_SALES_AMOUNT"), silver, gold)
        ).select("CUSTOMER_ID", "LOYALTY_TIER")

    detail = metrics.join(F.broadcast(tiers), on="CUSTOMER_ID", how="left")

    flagged = (
        detail.join(
            F.broadcast(top_products),
            detail.PRODUCT_NAME == top_products.TOP_SELLING_PRODUCT,
            "left",
        )
        .withColumn("TOP_PERFORMER", F.coalesce(F.col("TOP_PERFORMER"), F.lit("false")))
        .withColumn("LOAD_TSTMP", F.lit(load_ts.isoformat(sep=" ")).cast("timestamp"))
    )

    mart = flagged.select(
        F.col("DAY_DT"),
        F.col("CUSTOMER_ID"),
        F.col("NAME").alias("CUSTOMER_NAME"),
        F.col("SALE_ID"),
        F.col("CITY"),
        F.col("PRODUCT_NAME"),
        F.col("CATEGORY"),
        F.col("SALE_DATE"),
        F.col("SALE_MONTH"),
        F.col("SALE_YEAR").cast("int").alias("SALE_YEAR"),
        F.col("QUANTITY"),
        dround(F.col("PRICE"), 2).alias("PRICE"),
        F.col("SALE_AMOUNT"),
        F.col("TOP_PERFORMER"),
        F.col("LOYALTY_TIER"),
        F.col("LOAD_TSTMP"),
    )
    return mart
