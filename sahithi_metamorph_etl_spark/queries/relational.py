"""Relational operator queries over the raw TPC-H-ish testdata.

One catalog entry per operator family from SURVEY.md §2 (projections,
filters, joins incl. semi/anti, hash aggregates, two-level re-agg,
windows, top-k, set ops, pivot, rollup, date/conditional scalar
functions). Money aggregates are rounded (2dp) on BOTH sides so float
summation order can't flip a hash bit.

usum overflow policy (the ~9.2e12-money-unit bigint accumulator bound,
see functions.money): per-entity groups (supplier, part, customer,
order) are scale-invariant in this data model and provably stay under
~1e9 units at any corpus SF. CORPUS-SCALE groups (returnflag slices,
region rollups, price bands — flagged at their call sites) grow with
the data: the testdata bound at sf<=1 is <~3e9 units, three orders of
magnitude inside the accumulator; a 100 TB deployment should route
those sites through checked_sum with its own declared bound (which
auto-picks the exact DECIMAL path past ~9.2e9).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from ..core.frames import local_frame
from ..functions.money import (
    davg,
    dround,
    dsum,
    from_units,
    o_davg,
    o_dsum,
    o_from_units,
    o_round,
    o_usum,
    usum,
)
from ..operators.aggregates import duplicate_keys
from ..operators.joins import anti_join, semi_join
from ..operators.windows import top_k_per_group
from ..sources.readers import read_testdata
from .catalog import register

# --- A1: multi-key hash aggregate (TPC-H Q1 shape; reference A1/A3) -------

_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {o_round('sum(l_quantity)', 2)}                                          AS sum_qty,
       {o_dsum('l_extendedprice', 2)}                                     AS sum_base_price,
       {o_dsum('l_extendedprice * (1 - l_discount)', 2)}                  AS sum_disc_price,
       {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)}    AS sum_charge,
       {o_round('avg(l_quantity)', 2)}                                          AS avg_qty,
       {o_davg('l_extendedprice', 2)}                                     AS avg_price,
       {o_davg('l_discount', 4)}                                          AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_PRICING_ORACLE,
          doc="Multi-key hash aggregate with 8 aggregates (reference A1/A3 shape)")
def pricing_summary(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            # CORPUS-SCALE groups (6 flag/status slices): see module
            # usum-overflow note — testdata-bounded, checked_sum at 100 TB
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price, 2).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
            dround(F.avg("l_quantity"), 2).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            davg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- A2: two-level aggregation cascade ------------------------------------

_SUPPLIER_PART_ORACLE = f"""
WITH fine AS (
    SELECT l_suppkey, l_partkey,
           {o_usum('l_extendedprice * (1 - l_discount)')} AS part_revenue_u,
           count(*) AS n_lines
    FROM lineitem GROUP BY 1, 2
)
SELECT l_suppkey,
       CAST({o_round(o_from_units('sum(part_revenue_u)'), 2)} AS double) AS total_revenue,
       CAST(sum(n_lines) AS bigint)  AS total_lines,
       count(*)                      AS n_parts
FROM fine GROUP BY 1
"""


@register("supplier_part_agg", oracle=_SUPPLIER_PART_ORACLE,
          doc="Two-level re-aggregation cascade (reference A1->A2); the partial "
              "aggregate carries exact bigint micro-units, so the re-agg stays "
              "order-independent on the primitive codegen path")
def supplier_part_agg(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_suppkey", "l_partkey").agg(
        usum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_revenue_u"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return fine.groupBy("l_suppkey").agg(
        dround(from_units(F.sum("part_revenue_u")), 2).cast("double").alias("total_revenue"),
        F.sum("n_lines").cast("bigint").alias("total_lines"),
        F.count(F.lit(1)).alias("n_parts"),
    )


# --- W1/O3: top-1 per group window ----------------------------------------

_TOP_PART_ORACLE = f"""
WITH fine AS (
    SELECT l_suppkey, l_partkey,
           {o_dsum('l_extendedprice * (1 - l_discount)', 2)} AS revenue
    FROM lineitem GROUP BY 1, 2
), ranked AS (
    SELECT l_suppkey, l_partkey, revenue,
           row_number() OVER (PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey) AS rnk
    FROM fine
)
SELECT l_suppkey, l_partkey, revenue FROM ranked WHERE rnk = 1
"""


@register("top_part_per_supplier", oracle=_TOP_PART_ORACLE,
          doc="Top-1-per-group ranking window with deterministic tie-break (reference W1)")
def top_part_per_supplier(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_suppkey", "l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )
    return top_k_per_group(
        fine, ["l_suppkey"], [F.col("revenue").desc(), F.col("l_partkey").asc()], k=1
    ).select("l_suppkey", "l_partkey", "revenue")


# --- P5/P10: filter + CASE projection -------------------------------------

_ORDER_FILTER_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
       CAST(year(o_orderdate) AS int) AS o_year,
       CASE WHEN o_totalprice > 300000 THEN 'BIG' ELSE 'SMALL' END AS size_class
FROM orders
WHERE o_orderstatus <> 'P'
"""


@register("orders_filter_case", oracle=_ORDER_FILTER_ORACLE,
          doc="Inequality filter + CASE projection + date part (reference P5/P10)")
def orders_filter_case(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") != "P").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.when(F.col("o_totalprice") > 300000, "BIG").otherwise("SMALL").alias("size_class"),
    )


# --- J5/P9: left join preserving unmatched dimension + null defaults ------

_UNSOLD_ORACLE = f"""
WITH s AS (
    SELECT l_partkey,
           sum(l_quantity) AS qty,
           {o_dsum('l_extendedprice * (1 - l_discount)', 2)} AS rev,
           count(*) AS n_sales
    FROM lineitem GROUP BY 1
)
SELECT p_partkey, p_name,
       coalesce(s.qty, 0)                    AS total_qty,
       coalesce(s.rev, 0)                    AS total_rev,
       CAST(coalesce(s.n_sales, 0) AS bigint) AS n_sales
FROM part LEFT JOIN s ON p_partkey = s.l_partkey
"""


@register("parts_sales_left_join", oracle=_UNSOLD_ORACLE,
          doc="Dimension-preserving left join with null->0 defaults (reference J5+P9)")
def parts_sales_left_join(spark, sf_dir):
    part = read_testdata(spark, sf_dir, "part")
    li = read_testdata(spark, sf_dir, "lineitem")
    s = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("qty"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("rev"),
        F.count(F.lit(1)).alias("n_sales"),
    )
    return part.join(s, part.p_partkey == s.l_partkey, "left").select(
        "p_partkey",
        "p_name",
        F.coalesce(F.col("qty"), F.lit(0)).alias("total_qty"),
        F.coalesce(F.col("rev"), F.lit(0)).alias("total_rev"),
        F.coalesce(F.col("n_sales"), F.lit(0)).cast("bigint").alias("n_sales"),
    )


# --- J11: anti / semi joins ------------------------------------------------


@register(
    "customers_without_orders",
    # predicate inside the anti side keeps the result non-empty at every
    # sf (all customers have *some* order in the synthetic data)
    oracle="SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)",
    doc="left_anti join (reference Q4/J11 idiomatic form)",
)
def customers_without_orders(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer")
    o = (
        read_testdata(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(c, o, "c_custkey").select("c_custkey", "c_name")


@register(
    "customers_with_orders",
    oracle="SELECT c_custkey, c_mktsegment FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    doc="left_semi join (EXISTS)",
)
def customers_with_orders(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer")
    o = read_testdata(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return semi_join(c, o, "c_custkey").select("c_custkey", "c_mktsegment")


# --- A5/Q1: duplicate detection -------------------------------------------


@register(
    "duplicate_order_lines",
    oracle="SELECT l_orderkey, count(*) AS n_rows FROM lineitem GROUP BY 1 HAVING count(*) > 1",
    doc="Duplicate-key detection aggregate (reference A5, the uniqueness gate Q1)",
)
def duplicate_order_lines(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ["l_orderkey"])


# --- O1/O2: global sort + limit (top-k) -----------------------------------


@register(
    "top10_orders",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    doc="Global top-k: order by + limit with deterministic tie-break (reference O1/O2)",
)
def top10_orders(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --- P10: conditional expression ladder -----------------------------------

_PRICE_CLASS_ORACLE = f"""
SELECT p_partkey, p_name,
       CASE WHEN p_retailprice >= 1700 THEN 'PREMIUM'
            WHEN p_retailprice >= 1200 THEN 'STANDARD'
            ELSE 'BUDGET' END AS price_class,
       {o_round('p_retailprice * 0.3', 2)} AS margin
FROM part
"""


@register("part_price_class", oracle=_PRICE_CLASS_ORACLE,
          doc="CASE ladder + arithmetic projection (reference P10 + math family)")
def part_price_class(spark, sf_dir):
    p = read_testdata(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.when(F.col("p_retailprice") >= 1700, "PREMIUM")
        .when(F.col("p_retailprice") >= 1200, "STANDARD")
        .otherwise("BUDGET")
        .alias("price_class"),
        dround(F.col("p_retailprice") * 0.3, 2).alias("margin"),
    )


# --- date/time scalar family ----------------------------------------------

_BY_MONTH_ORACLE = f"""
SELECT monthname(o_orderdate) AS order_month,
       CAST(year(o_orderdate) AS int) AS order_year,
       count(*) AS n_orders,
       {o_dsum('o_totalprice', 2)} AS total_price
FROM orders GROUP BY 1, 2
"""


@register("orders_by_month", oracle=_BY_MONTH_ORACLE,
          doc="Month-name/year date functions + aggregate (reference date family, SALE_MONTH)")
def orders_by_month(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format("o_orderdate", "MMMM").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total_price"),
    )


# --- set operations --------------------------------------------------------

_UNION_ORACLE = f"""
WITH u AS (
    SELECT l_returnflag, l_extendedprice FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
    UNION ALL
    SELECT l_returnflag, l_extendedprice FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
)
SELECT l_returnflag, count(*) AS n_rows, {o_dsum('l_extendedprice', 2)} AS total
FROM u GROUP BY 1
"""


@register("lineitem_union_slices", oracle=_UNION_ORACLE,
          doc="unionByName of two filtered slices + aggregate (SURVEY §2.7 set ops)")
def lineitem_union_slices(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice", "l_shipdate")
    early = li.filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    late = li.filter(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (
        early.unionByName(late)
        .groupBy("l_returnflag")
        # CORPUS-SCALE groups (returnflag slices): see module usum-overflow note
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("l_extendedprice"), 2).alias("total"))
    )


# --- intersect / except set ops ---------------------------------------------

_SETOP_ORACLE = """
WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000),
     urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     both_k AS (SELECT o_custkey FROM big INTERSECT SELECT o_custkey FROM urgent),
     only_big AS (SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM urgent)
SELECT 'both' AS segment, count(*) AS n_customers FROM both_k
UNION ALL
SELECT 'big_only', count(*) FROM only_big
"""


@register("customer_segments_setops", oracle=_SETOP_ORACLE,
          doc="INTERSECT / EXCEPT set operations over customer key sets (SURVEY §2.7)")
def customer_segments_setops(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey").distinct()
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    both_k = big.intersect(urgent).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("both").alias("segment"), "n_customers"
    )
    only_big = big.exceptAll(urgent).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("big_only").alias("segment"), "n_customers"
    )
    return both_k.unionByName(only_big)


# --- analytic window: running sum (frame spec) ----------------------------

_RUNNING_ORACLE = f"""
SELECT o_orderkey, o_custkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS double) AS running_total
FROM orders
"""


@register("customer_running_total", oracle=_RUNNING_ORACLE,
          doc="Explicit-frame running sum (extension beyond reference's window surface)")
def customer_running_total(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w), 2).cast("double").alias("running_total"),
    )


# --- lag/lead analytic -----------------------------------------------------

_GAP_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(date_diff('day',
            lag(CAST(o_orderdate AS date)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            CAST(o_orderdate AS date)) AS int) AS days_since_prev
FROM orders
"""


@register("customer_order_gaps", oracle=_GAP_ORACLE,
          doc="lag() analytic + date arithmetic (extension; reference has no lag/lead)")
def customer_order_gaps(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(F.col("o_orderdate").cast("date")).over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev).cast("int").alias("days_since_prev"),
    )


# --- pivot -----------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders GROUP BY 1
"""


@register("orders_status_pivot", oracle=_PIVOT_ORACLE,
          doc="Pivot (wide aggregate) — SURVEY §2.7 engine-free extension")
def orders_status_pivot(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    pv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_pending"),
    )


# --- grouping sets: cube ----------------------------------------------------

_CUBE_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {o_dsum('o_totalprice', 2)} AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("orders_cube", oracle=_CUBE_ORACLE,
          doc="CUBE grouping-set aggregate (all 4 grouping combinations)")
def orders_cube(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total_price"),
    )


_GROUPING_SETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {o_dsum('o_totalprice', 2)} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@register("orders_grouping_sets", oracle=_GROUPING_SETS_ORACLE,
          doc="Explicit GROUPING SETS aggregate (detail + per-status + grand total) — "
              "the general form behind rollup/cube, one expand + one shuffle")
def orders_grouping_sets(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total_price"),
    )


_SKEW_PROFILE_ORACLE = f"""
WITH pk AS (
    SELECT CAST(l_partkey AS varchar) AS k, CAST(count(*) AS bigint) AS key_rows
    FROM lineitem GROUP BY 1
), r AS (
    SELECT k, key_rows, row_number() OVER (ORDER BY key_rows DESC, k DESC) AS rn FROM pk
), s AS (
    SELECT CAST(sum(key_rows) AS bigint) AS n_rows,
           CAST(count(*) AS bigint) AS n_keys,
           CAST(max(key_rows) AS bigint) AS max_key_rows
    FROM pk
)
SELECT s.n_rows, s.n_keys, s.max_key_rows, r.k AS top_key,
       {o_round('s.max_key_rows * s.n_keys * 1.0 / s.n_rows', 4)} AS skew_ratio
FROM s, r WHERE r.rn = 1
"""


@register("lineitem_key_skew", oracle=_SKEW_PROFILE_ORACLE,
          doc="Key-distribution skew diagnostic on the fact join key — the measured "
              "input to the salting / AQE-skew-join decision")
def lineitem_key_skew(spark, sf_dir):
    from ..operators.profiling import key_skew_profile

    li = read_testdata(spark, sf_dir, "lineitem")
    return key_skew_profile(li, ["l_partkey"])


_HISTOGRAM_ORACLE = f"""
WITH rng AS (
    SELECT min(CAST(o_totalprice AS double)) AS rlo, max(CAST(o_totalprice AS double)) AS rhi
    FROM orders
), b AS (
    SELECT CASE WHEN r.rhi = r.rlo THEN 0
                ELSE least(CAST(floor((CAST(o_totalprice AS double) - r.rlo)
                                      / ((r.rhi - r.rlo) / 10.0)) AS int), 9)
           END AS bucket,
           r.rlo, r.rhi
    FROM orders, rng r WHERE o_totalprice IS NOT NULL
)
SELECT bucket,
       {o_round('rlo + bucket * (rhi - rlo) / 10.0', 6)} AS lo,
       {o_round('rlo + (bucket + 1) * (rhi - rlo) / 10.0', 6)} AS hi,
       CAST(count(*) AS bigint) AS n_rows
FROM b GROUP BY bucket, rlo, rhi
"""


@register("orders_price_histogram", oracle=_HISTOGRAM_ORACLE,
          doc="Equi-width 10-bucket histogram with in-plan min/max (1-row broadcast "
              "back, single job — no driver-side range action)")
def orders_price_histogram(spark, sf_dir):
    from ..operators.profiling import equi_width_histogram

    o = read_testdata(spark, sf_dir, "orders")
    return equi_width_histogram(o, "o_totalprice", n_buckets=10)


_QHIST_PROBS = [i / 8 for i in range(1, 8)]
_QHIST_ORACLE = f"""
WITH b AS (
    SELECT list_transform(quantile_cont(CAST(o_totalprice AS double),
                                        [{', '.join(str(p) for p in _QHIST_PROBS)}]),
                          v -> {o_round('v', 6)}) AS bs
    FROM orders
),
r AS (
    SELECT CAST(o_totalprice AS double) AS x,
           CAST(1 + len(list_filter(b.bs, v -> v < {o_round('CAST(o_totalprice AS double)', 6)})) AS int) AS bucket
    FROM orders, b
)
SELECT bucket, count(*) AS n_rows, min(x) AS lo, max(x) AS hi
FROM r GROUP BY 1
"""


@register("orders_price_quantile_hist", oracle=_QHIST_ORACLE,
          doc="Equi-DEPTH histogram (8 quantile buckets) without a global sort: "
              "1-row exact-percentile boundary aggregate broadcast back, bucket = "
              "count of boundaries below the value, one bucket-keyed shuffle — the "
              "population-sliced skew view; boundaries rounded deterministically "
              "before comparison so interpolation ulps can't flip a row")
def orders_price_quantile_hist(spark, sf_dir):
    from ..operators.profiling import quantile_histogram

    o = read_testdata(spark, sf_dir, "orders")
    return quantile_histogram(o, "o_totalprice", n_buckets=8)


# --- percent_rank tiering (SURVEY W3: the idiomatic A6 replacement) ---------

_PR_TIER_ORACLE = f"""
WITH agg AS (
    SELECT o_custkey, {o_dsum('o_totalprice', 2)} AS total_spend
    FROM orders GROUP BY 1
), ranked AS (
    SELECT o_custkey, total_spend,
           percent_rank() OVER (ORDER BY total_spend, o_custkey) AS pr
    FROM agg
)
SELECT o_custkey, total_spend,
       CASE WHEN pr >= 0.8 THEN 'GOLD' WHEN pr >= 0.5 THEN 'SILVER' ELSE 'BRONZE' END AS tier
FROM ranked
"""


@register("customer_tiers_percent_rank", oracle=_PR_TIER_ORACLE,
          doc="percent_rank window tiering — in-plan alternative to the reference's "
              "driver-side approxQuantile cutoffs (SURVEY W3). Since r8 the global "
              "rank is the two-phase operators.windows.global_rank (range shuffle + "
              "partitioned per-range row_number + broadcast offsets) instead of an "
              "un-partitioned WindowExec, so the per-customer frame never funnels "
              "through one task; percent_rank is then (rank-1)/(N-1) with the same "
              "unique (total_spend, o_custkey) order the oracle's window uses")
def customer_tiers_percent_rank(spark, sf_dir):
    from ..operators.windows import global_rank

    o = read_testdata(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(dsum(F.col("o_totalprice"), 2).alias("total_spend"))
    ranked, total = global_rank(agg, ["total_spend", "o_custkey"], rank_col="_r")
    # identical IEEE doubles to percent_rank(): (rank-1) / (N-1)
    pr = (F.col("_r") - F.lit(1)) / F.lit(max(total - 1, 1))
    return ranked.select(
        "o_custkey",
        "total_spend",
        F.when(pr >= 0.8, "GOLD").when(pr >= 0.5, "SILVER").otherwise("BRONZE").alias("tier"),
    )


# --- sketches: HLL distinct + approximate percentile ------------------------


_DISTINCT_SKETCH_ORACLE = """
SELECT 'orders' AS metric, count(DISTINCT l_orderkey) AS exact_distinct, true AS sketch_ok FROM lineitem
UNION ALL
SELECT 'parts', count(DISTINCT l_partkey), true FROM lineitem
UNION ALL
SELECT 'suppliers', count(DISTINCT l_suppkey), true FROM lineitem
"""


@register("sketch_distinct_counts", oracle=_DISTINCT_SKETCH_ORACLE,
          doc="HyperLogLog++ approx_count_distinct vs exact, ONE pass: each row carries "
              "the exact count plus an in-plan within-5*rsd claim the oracle can falsify "
              "(sketch values are engine-specific; the error-bound claim is not)")
def sketch_distinct_counts(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem")
    rsd = 0.02
    cols = {"orders": "l_orderkey", "parts": "l_partkey", "suppliers": "l_suppkey"}
    agg = li.agg(
        *[F.count_distinct(F.col(c)).alias(f"x_{m}") for m, c in cols.items()],
        *[F.approx_count_distinct(c, rsd=rsd).alias(f"a_{m}") for m, c in cols.items()],
    )
    ok = {
        m: (F.abs(F.col(f"a_{m}") - F.col(f"x_{m}")) <= 5 * rsd * F.col(f"x_{m}"))
        for m in cols
    }
    return agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).alias("metric"),
                    F.col(f"x_{m}").alias("exact_distinct"),
                    ok[m].alias("sketch_ok"),
                )
                for m in cols
            ])
        ).alias("r")
    ).select("r.metric", "r.exact_distinct", "r.sketch_ok")


# mergeable-sketch distinct: the RE-AGGREGATABLE form a layered
# warehouse needs — per-day HLL sketches (Apache DataSketches via
# hll_sketch_agg) merge with hll_union_agg into the all-time estimate
# WITHOUT rescanning history. The oracle pins the exact distinct and a
# TRUE merge_ok; the Spark side recomputes both, so a broken merge (or
# an estimate drifting past the documented HLL error envelope) fails
# the hash compare.
_MERGE_SKETCH_ORACLE = """
SELECT CAST(count(DISTINCT user_id) AS bigint) AS exact_distinct,
       CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS bigint) AS n_day_sketches,
       true AS merge_ok
FROM events
"""


@register("sketch_mergeable_distinct", oracle=_MERGE_SKETCH_ORACLE,
          doc="Mergeable HLL distinct-count sketches: one sketch per DAY slice "
              "(hll_sketch_agg), merged via hll_union_agg into the all-time "
              "user count — the incremental form (yesterday's sketches + today's "
              "slice, no history rescan); merge_ok asserts the merged estimate "
              "lands within the HLL error envelope of the exact count")
def sketch_mergeable_distinct(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events")
    lg_k = 14  # ~0.8% standard error; gate at 5 sigma
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True))).alias("est"),
        F.count(F.lit(1)).alias("n_day_sketches"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return exact.crossJoin(F.broadcast(merged)).select(
        F.col("exact_distinct").cast("bigint"),
        F.col("n_day_sketches").cast("bigint"),
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= 5 * 0.008 * F.col("exact_distinct")
        ).alias("merge_ok"),
    )


_PCTL_SKETCH_ORACLE = "\nUNION ALL\n".join(
    f"SELECT 'p{int(p * 100)}' AS pctl, round(quantile_cont(o_totalprice, {p}), 2) "
    "AS exact_value, true AS sketch_ok FROM orders"
    for p in (0.5, 0.8, 0.95, 0.99)
)


@register("sketch_price_percentiles", oracle=_PCTL_SKETCH_ORACLE,
          doc="percentile_approx (Greenwald-Khanna, acc 10000) vs exact percentile, one "
              "pass: each row carries the exact value plus an in-plan claim that the "
              "sketch lands between the exact p+-0.01 quantiles — oracle-falsifiable")
def sketch_price_percentiles(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    ps, delta = (0.5, 0.8, 0.95, 0.99), 0.01
    agg = o.agg(
        *[F.percentile("o_totalprice", F.lit(p)).alias(f"x_{int(p * 100)}") for p in ps],
        *[
            F.percentile("o_totalprice", F.lit(max(p - delta, 0.0))).alias(f"lo_{int(p * 100)}")
            for p in ps
        ],
        *[
            F.percentile("o_totalprice", F.lit(min(p + delta, 1.0))).alias(f"hi_{int(p * 100)}")
            for p in ps
        ],
        *[F.percentile_approx("o_totalprice", p, 10000).alias(f"a_{int(p * 100)}") for p in ps],
    )
    return agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(f"p{int(p * 100)}").alias("pctl"),
                    F.round(F.col(f"x_{int(p * 100)}"), 2).alias("exact_value"),
                    F.col(f"a_{int(p * 100)}")
                    .between(F.col(f"lo_{int(p * 100)}"), F.col(f"hi_{int(p * 100)}"))
                    .alias("sketch_ok"),
                )
                for p in ps
            ])
        ).alias("r")
    ).select("r.pctl", "r.exact_value", "r.sketch_ok")


# --- range (interval) join --------------------------------------------------

_RANGE_ORACLE = f"""
WITH bands AS (
    SELECT i AS band_id, 900 + i * 5.0 AS lo, 900 + i * 5.0 + 3.99 AS hi
    FROM range(0, 20) t(i)
)
SELECT b.band_id, count(*) AS n_parts, {o_dsum('p.p_retailprice', 2)} AS total_price
FROM part p JOIN bands b ON p.p_retailprice BETWEEN b.lo AND b.hi
GROUP BY 1
"""


@register("part_price_band_range_join", oracle=_RANGE_ORACLE,
          doc="Range join via interval bucketing (equi-join on quantized buckets + exact "
              "recheck) — avoids the O(n*m) nested-loop a BETWEEN join plans to")
def part_price_band_range_join(spark, sf_dir):
    from ..operators.rangejoin import range_join_bucketed

    p = read_testdata(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.range(0, 20).select(
        F.col("id").cast("int").alias("band_id"),
        (900 + F.col("id") * 5.0).alias("lo"),
        (900 + F.col("id") * 5.0 + 3.99).alias("hi"),
    )
    joined = range_join_bucketed(p, bands, "p_retailprice", "lo", "hi", bucket_width=5.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_parts"),
        # CORPUS-SCALE groups (price bands): see module usum-overflow note
        dsum(F.col("p_retailprice"), 2).alias("total_price"),
    )


# --- salted skew join -------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_lines,
       {o_round('sum(l_quantity)', 2)} AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


@register("salted_skew_join", oracle=_SALTED_ORACLE,
          doc="Deterministically salted fact join (hot-key spread over 16 sub-keys) "
              "+ aggregate; result identical to the plain join")
def salted_skew_join(spark, sf_dir):
    from ..operators.skew import salted_join

    li = read_testdata(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    o = (
        read_testdata(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")
    )
    # l_linenumber has <=7 distinct values per order, so n_salts beyond
    # that buys nothing here — TPC-H keys aren't skewed; the query
    # demonstrates the mechanism (real use: a line/sale id as source)
    joined = salted_join(li, o, on=["l_orderkey"], salt_source_col="l_linenumber", n_salts=8)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dround(F.sum("l_quantity"), 2).alias("total_qty"),
    )


_ADAPTIVE_SALTED_ORACLE = f"""
WITH li AS (
    SELECT CASE WHEN l_partkey % 50 = 0 THEN 0 ELSE l_partkey END AS skew_key,
           l_quantity
    FROM lineitem
), dim AS (
    SELECT p_partkey AS skew_key, p_brand FROM part
)
SELECT coalesce(p_brand, 'UNMATCHED') AS brand,
       count(*) AS n_lines,
       {o_round('sum(l_quantity)', 2)} AS total_qty
FROM li LEFT JOIN dim USING (skew_key)
GROUP BY 1
"""


@register("adaptive_salted_skew_join", oracle=_ADAPTIVE_SALTED_ORACLE,
          doc="Adaptive skew join: sampled key profile picks the hot keys and salt "
              "factor, only hot keys are salted (cold keys join plain). The l_partkey "
              "%50 remap plants a genuinely hot key (~2% of the fact on one key, "
              "~40x the mean); result is identical to the plain join — sampling "
              "steers the plan, never the semantics")
def adaptive_salted_skew_join(spark, sf_dir):
    from ..operators.skew import adaptive_salted_join

    li = read_testdata(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 50 == 0, F.lit(0))
        .otherwise(F.col("l_partkey"))
        .cast("long")
        .alias("skew_key"),
        "l_quantity",
        "l_orderkey",
    )
    dim = read_testdata(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("skew_key"), "p_brand"
    )
    joined = adaptive_salted_join(
        li, dim, on=["skew_key"], salt_source_col="l_orderkey",
        sample_fraction=0.5, how="left",
    )
    return joined.groupBy(
        F.coalesce(F.col("p_brand"), F.lit("UNMATCHED")).alias("brand")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        dround(F.sum("l_quantity"), 2).alias("total_qty"),
    )


# --- rollup ----------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT r_name, n_name, count(*) AS n_suppliers, {o_dsum('s_acctbal', 2)} AS total_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("supplier_region_rollup", oracle=_ROLLUP_ORACLE,
          doc="ROLLUP grouping-set aggregate over a 3-way dimension join")
def supplier_region_rollup(spark, sf_dir):
    s = read_testdata(spark, sf_dir, "supplier")
    n = read_testdata(spark, sf_dir, "nation")
    r = read_testdata(spark, sf_dir, "region")
    joined = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        # CORPUS-SCALE groups (region/nation rollup): see module usum-overflow note
        dsum(F.col("s_acctbal"), 2).alias("total_acctbal"),
    )


# --- column profiling (data-quality summary) --------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority",
]
# doubles excluded on purpose: Spark and DuckDB render double->string
# differently (1.5E7 vs 15000000.0), which would false-fail the hash
_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(count(*) - count({c}) AS bigint) AS n_nulls,
       CAST(count(DISTINCT {c}) AS bigint) AS n_distinct,
       CAST(min({c}) AS varchar) AS min_value,
       CAST(max({c}) AS varchar) AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


@register("orders_column_profile", oracle=_PROFILE_ORACLE,
          doc="Per-column data-quality profile (rows/nulls/distinct/min/max) computed in "
              "ONE aggregation pass over the table (Deequ-style profiling the reference "
              "lacks); unpivoted to a row per column")
def orders_column_profile(spark, sf_dir):
    from ..operators.profiling import profile_columns

    return profile_columns(read_testdata(spark, sf_dir, "orders"), _PROFILE_COLS)


# --- declarative expectations report ----------------------------------------

_EXPECT_ORACLE = """
WITH n AS (SELECT count(*) AS n_rows FROM orders)
SELECT 'not_null(o_orderkey)' AS expectation, 'not_null' AS kind, n.n_rows,
       (SELECT CAST(count(*) - count(o_orderkey) AS bigint) FROM orders) AS n_violations,
       (SELECT count(*) - count(o_orderkey) FROM orders) = 0 AS passed FROM n
UNION ALL
SELECT 'unique(o_orderkey)', 'unique', n.n_rows,
       (SELECT CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS bigint) FROM orders),
       (SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders) = 0 FROM n
UNION ALL
SELECT 'in_set(o_orderstatus)', 'in_set', n.n_rows,
       (SELECT CAST(count(*) FILTER (o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('F','O','P')) AS bigint) FROM orders),
       (SELECT count(*) FILTER (o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('F','O','P')) FROM orders) = 0 FROM n
UNION ALL
SELECT 'between(o_totalprice)', 'between', n.n_rows,
       (SELECT CAST(count(*) FILTER (o_totalprice IS NOT NULL
               AND (o_totalprice < 0 OR o_totalprice > 10000000)) AS bigint) FROM orders),
       (SELECT count(*) FILTER (o_totalprice IS NOT NULL
               AND (o_totalprice < 0 OR o_totalprice > 10000000)) FROM orders) = 0 FROM n
UNION ALL
SELECT 'matches(o_orderpriority)', 'matches', n.n_rows,
       (SELECT CAST(count(*) FILTER (o_orderpriority IS NOT NULL
               AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS bigint) FROM orders),
       (SELECT count(*) FILTER (o_orderpriority IS NOT NULL
               AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) FROM orders) = 0 FROM n
"""


@register("orders_expectations", oracle=_EXPECT_ORACLE,
          doc="Declarative quality-expectation REPORT (Deequ/dbt-test style): every check "
              "evaluated in one aggregation pass, one row per expectation — the "
              "non-raising complement of the Q1 gates")
def orders_expectations(spark, sf_dir):
    from ..validators.expectations import (
        expect_between,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        run_expectations,
    )

    o = read_testdata(spark, sf_dir, "orders")
    return run_expectations(o, [
        expect_not_null("o_orderkey"),
        expect_unique("o_orderkey"),
        expect_in_set("o_orderstatus", ["F", "O", "P"]),
        expect_between("o_totalprice", 0, 10_000_000),
        expect_matches("o_orderpriority", "^[1-5]-"),
    ])


# --- physical layout: z-order clustering ------------------------------------

_ZORDER_ORACLE = """
WITH ck AS (SELECT min(o_custkey) AS lo, max(o_custkey) AS hi FROM orders),
     tp AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
     n  AS (SELECT CAST(count(*) AS bigint) AS n_rows FROM orders)
SELECT 'o_custkey' AS pred_col,
       n.n_rows AS n_rows_total,
       (SELECT CAST(count(*) AS bigint) FROM orders, ck
        WHERE o_custkey <= ck.lo + 0.05 * (ck.hi - ck.lo)) AS n_rows_matching,
       TRUE AS layout_pruned
FROM n
UNION ALL
SELECT 'o_totalprice', n.n_rows,
       (SELECT CAST(count(*) AS bigint) FROM orders, tp
        WHERE o_totalprice <= tp.lo + 0.05 * (tp.hi - tp.lo)),
       TRUE
FROM n
"""


@register("orders_zorder_pruning", oracle=_ZORDER_ORACLE,
          doc="Z-order clustered layout end-to-end (operators.layout.write_zordered): "
              "orders written range-partitioned+sorted on the Morton key of "
              "(o_custkey, o_totalprice), then for a bottom-5%-of-range predicate "
              "on EACH clustered column the entry reports the matching row count "
              "read back THROUGH the written layout (exact oracle arithmetic) and "
              "a layout_pruned flag from the parquet footers (admitted row groups "
              "< total). The counts prove write/read fidelity; the flags flip the "
              "hash if the clustering ever stops pruning on either column")
def orders_zorder_pruning(spark, sf_dir):
    import shutil
    import tempfile

    from ..operators.layout import parquet_pruning_stats, write_zordered

    orders = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # same bounded-driver-action policy as the centroid reads: one 1-row
    # min/max aggregate steers the predicate ranges (the footer audit is
    # a driver-side read anyway)
    b = orders.agg(
        F.min("o_custkey").alias("ck_lo"), F.max("o_custkey").alias("ck_hi"),
        F.min("o_totalprice").alias("tp_lo"), F.max("o_totalprice").alias("tp_hi"),
        F.count(F.lit(1)).alias("n_rows"),
    ).collect()[0]
    preds = [
        ("o_custkey", float(b["ck_lo"]), b["ck_lo"] + 0.05 * (b["ck_hi"] - b["ck_lo"])),
        ("o_totalprice", float(b["tp_lo"]), b["tp_lo"] + 0.05 * (b["tp_hi"] - b["tp_lo"])),
    ]
    # like emb_ivf_topk's temp index: the written layout only backs the
    # eagerly-computed audit rows, so it is deleted before returning and
    # the result frame stays independent of the temp files
    root = tempfile.mkdtemp(prefix="zorder_orders_")
    try:
        zpath = write_zordered(
            orders, f"{root}/orders_z", ["o_custkey", "o_totalprice"],
            n_files=4, block_size_bytes=64 * 1024,
        )
        back = spark.read.parquet(zpath)
        rows = []
        for col, lo, hi in preds:
            n_match = back.filter(F.col(col) <= hi).count()
            st = parquet_pruning_stats(zpath, col, lo, hi)
            rows.append((col, int(b["n_rows"]), n_match, st["admitted_groups"] < st["n_groups"]))
        return local_frame(
            spark, rows,
            "pred_col string, n_rows_total bigint, n_rows_matching bigint, layout_pruned boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- warehouse keyed MERGE (upsert) ----------------------------------------

_UPSERT_ORACLE = f"""
WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
upd AS (SELECT k, p + 100 AS p FROM base WHERE k % 3 = 0),
ins AS (SELECT k + 100000000 AS k, p + 1000 AS p FROM base WHERE k % 5 = 1),
merged AS (SELECT k, p FROM base WHERE k % 3 != 0
           UNION ALL SELECT k, p FROM upd
           UNION ALL SELECT k, p FROM ins)
SELECT CAST(count(*) AS bigint) AS n_rows,
       CAST(count(DISTINCT k) AS bigint) AS n_keys,
       {o_dsum('p', 2)} AS total_price
FROM merged
"""


@register("warehouse_upsert_roundtrip", oracle=_UPSERT_ORACLE,
          doc="Keyed MERGE into a legacy day partition end-to-end "
              "(sinks.warehouse.upsert_legacy): bootstrap-write orders, then "
              "upsert a batch that updates every k%3==0 price (+100) and inserts "
              "shifted new keys for k%5==1 (+1000); the read-back day's row "
              "count, distinct keys and exact-money price total must equal the "
              "oracle's directly-computed merged state. Proves replace-not-"
              "duplicate, keep-untouched and insert semantics through the real "
              "partitioned-parquet read-modify-write path")
def warehouse_upsert_roundtrip(spark, sf_dir):
    import datetime as dt
    import shutil
    import tempfile

    from ..sinks.warehouse import LayeredWarehouse

    base = read_testdata(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    run_date = dt.date(2025, 1, 1)
    root = tempfile.mkdtemp(prefix="wh_upsert_")
    try:
        wh = LayeredWarehouse(root)
        wh.upsert_legacy(base, "orders_state", ["o_orderkey"], run_date)
        updates = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100
        )
        inserts = base.filter(F.col("o_orderkey") % 5 == 1).select(
            (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        )
        wh.upsert_legacy(
            updates.unionByName(inserts), "orders_state", ["o_orderkey"], run_date
        )
        back = wh.read_legacy(spark, "orders_state", run_date=run_date)
        # like the zorder/IVF entries: the temp layout only backs this
        # eagerly-computed 1-row summary, then is deleted
        summary = back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderkey").alias("n_keys"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        ).collect()
        return local_frame(
            spark, summary, "n_rows bigint, n_keys bigint, total_price double"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- SCD2 dimension versioning ---------------------------------------------

_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         DATE '2025-01-01' AS effective_from,
         CAST(NULL AS DATE) AS effective_to,
         true AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'RELOCATED' ELSE c_mktsegment END AS c_mktsegment,
         CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEWCOMER', 0.0 FROM customer WHERE c_custkey % 97 = 0
), j AS (
  SELECT d.c_custkey AS dk, u.c_custkey AS uk,
         d.c_mktsegment AS dm, d.c_acctbal AS da, d.effective_from AS df,
         u.c_mktsegment AS um, u.c_acctbal AS ua,
         (d.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL
          AND NOT (d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment
                   AND d.c_acctbal IS NOT DISTINCT FROM u.c_acctbal)) AS changed
  FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey
)
SELECT dk AS c_custkey, dm AS c_mktsegment, da AS c_acctbal,
       df AS effective_from, CAST(NULL AS DATE) AS effective_to, true AS is_current
FROM j WHERE dk IS NOT NULL AND NOT changed
UNION ALL
SELECT dk, dm, da, df, DATE '2025-02-01', false FROM j WHERE changed
UNION ALL
SELECT uk, um, ua, DATE '2025-02-01', CAST(NULL AS DATE), true FROM j WHERE changed
UNION ALL
SELECT uk, um, ua, DATE '2025-02-01', CAST(NULL AS DATE), true FROM j WHERE dk IS NULL
"""


@register("customer_scd2_merge", oracle=_SCD2_ORACLE,
          doc="SCD2 (type-2 slowly changing dimension) merge: initial load of "
              "the customer dimension at 2025-01-01, then a 2025-02-01 partial "
              "update snapshot (every even key, with k%10 segments relocated, "
              "k%6 balances shifted, and k%97 spawning brand-new keys) — "
              "changed keys close their current row and open a new version, "
              "unchanged/no-update keys pass through, new keys insert. ONE "
              "current-slice join on the key; closed history passes through "
              "un-shuffled; the three row fates emit from a single exploded "
              "pass over the join (operators/scd.py). Null-safe compare == "
              "the oracle's IS NOT DISTINCT FROM")
def customer_scd2_merge(spark, sf_dir):
    import datetime as dt

    from ..operators.scd import scd2_init, scd2_merge

    cust = read_testdata(spark, sf_dir, "customer")
    dim = scd2_init(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        ["c_custkey"], ["c_mktsegment", "c_acctbal"], dt.date(2025, 1, 1),
    )
    updates = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "RELOCATED")
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 6 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 97 == 0).select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
            F.lit("NEWCOMER").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
    )
    return scd2_merge(
        dim, updates, ["c_custkey"], ["c_mktsegment", "c_acctbal"],
        dt.date(2025, 2, 1),
    )


def _scd2_step_sql(dim_cte: str, upd_cte: str, out_cte: str, day: str,
                   close_missing: bool) -> str:
    """One generated-CTE SCD2 merge step (the corpus_bpe_merges
    precedent): full-outer join the current slice with the update
    snapshot, emit keep/close/open/delete fates, pass closed history
    through. Chained by customer_scd2_chain's oracle to replay
    operators/scd.scd2_merge sequentially in DuckDB."""
    tag = out_cte
    if close_missing:
        missing = (f"SELECT dk, dm, da, df, DATE '{day}', false "
                   f"FROM j_{tag} WHERE dk IS NOT NULL AND uk IS NULL")
    else:
        missing = (f"SELECT dk, dm, da, df, CAST(NULL AS DATE), true "
                   f"FROM j_{tag} WHERE dk IS NOT NULL AND uk IS NULL")
    return f"""j_{tag} AS (
  SELECT d.c_custkey AS dk, u.c_custkey AS uk,
         d.c_mktsegment AS dm, d.c_acctbal AS da, d.effective_from AS df,
         u.c_mktsegment AS um, u.c_acctbal AS ua,
         (d.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL
          AND NOT (d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment
                   AND d.c_acctbal IS NOT DISTINCT FROM u.c_acctbal)) AS changed
  FROM (SELECT * FROM {dim_cte} WHERE is_current) d
  FULL OUTER JOIN {upd_cte} u ON d.c_custkey = u.c_custkey
),
{out_cte} AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, effective_from, effective_to, is_current
  FROM {dim_cte} WHERE NOT is_current
  UNION ALL
  SELECT dk, dm, da, df, CAST(NULL AS DATE), true
  FROM j_{tag} WHERE dk IS NOT NULL AND uk IS NOT NULL AND NOT changed
  UNION ALL
  SELECT dk, dm, da, df, DATE '{day}', false FROM j_{tag} WHERE changed
  UNION ALL
  SELECT uk, um, ua, DATE '{day}', CAST(NULL AS DATE), true
  FROM j_{tag} WHERE changed OR dk IS NULL
  UNION ALL
  {missing}
)"""


_SCD2_CHAIN_ORACLE = f"""
WITH dim0 AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         DATE '2025-01-01' AS effective_from,
         CAST(NULL AS DATE) AS effective_to,
         true AS is_current
  FROM customer
), u1 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
         CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 3 <> 0
), u2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED2' ELSE c_mktsegment END AS c_mktsegment,
         c_acctbal
  FROM customer
), u3 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'FINAL'
              WHEN c_custkey % 7 = 0 THEN 'MOVED2'
              ELSE c_mktsegment END AS c_mktsegment,
         CASE WHEN c_custkey % 6 = 0 THEN c_acctbal - 25.0 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 2 = 0
),
{_scd2_step_sql('dim0', 'u1', 'dim1', '2025-02-01', close_missing=True)},
{_scd2_step_sql('dim1', 'u2', 'dim2', '2025-03-01', close_missing=True)},
{_scd2_step_sql('dim2', 'u3', 'dim3', '2025-04-01', close_missing=False)}
SELECT c_custkey, c_mktsegment, c_acctbal, effective_from, effective_to, is_current
FROM dim3
"""


@register("customer_scd2_chain", oracle=_SCD2_CHAIN_ORACLE,
          doc="SCD2 dimension accumulated across THREE chained daily merges — "
              "the real production regime (customer_scd2_merge covers one day). "
              "Day1 (close_missing): every k%3==0 key is DELETED (its row "
              "closes), k%5 segments move, k%4 balances shift. Day2 "
              "(close_missing): deleted keys REINSERT (a gap in their validity "
              "history — deletion is representable), k%5 segments REVERT, k%4 "
              "balances revert, k%7 move again. Day3 (partial snapshot, no "
              "close): odd keys silently keep their open rows while k%10 keys "
              "take a third segment and k%6 balances shift down. The oracle "
              "replays all three merges as generated full-outer-join CTEs "
              "(_scd2_step_sql), so every interval boundary, reopened key and "
              "pass-through row hash-checks. Closed history unions through "
              "each merge un-shuffled — the merge cost tracks the CURRENT "
              "slice + snapshot, not accumulated history depth")
def customer_scd2_chain(spark, sf_dir):
    import datetime as dt

    from ..operators.scd import scd2_init, scd2_merge

    cust = read_testdata(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dim = scd2_init(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        ["c_custkey"], ["c_mktsegment", "c_acctbal"], dt.date(2025, 1, 1),
    )
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
    dim = scd2_merge(dim, u1, keys, tracked, dt.date(2025, 2, 1), close_missing=True)
    dim = scd2_merge(dim, u2, keys, tracked, dt.date(2025, 3, 1), close_missing=True)
    dim = scd2_merge(dim, u3, keys, tracked, dt.date(2025, 4, 1))
    return dim


# --- time-series gap fill ---------------------------------------------------

_GAPFILL_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_orders,
         {o_davg('o_totalprice', 2)} AS avg_price
  FROM orders GROUP BY 1, 2
), spans AS (
  SELECT o_orderpriority, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), days AS (
  SELECT o_orderpriority,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT d.o_orderpriority, d.day,
       CAST(coalesce(x.n_orders, 0) AS BIGINT) AS n_orders,
       last_value(x.avg_price IGNORE NULLS) OVER (
         PARTITION BY d.o_orderpriority ORDER BY d.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_price
FROM days d LEFT JOIN daily x
  ON d.o_orderpriority = x.o_orderpriority AND d.day = x.day
"""


@register("orders_priority_daily_gapfill", oracle=_GAPFILL_ORACLE,
          doc="Per-key daily time-series densification: order counts and avg "
              "price per priority per day, gap-filled to EVERY calendar day in "
              "each key's span — counts zero-filled, avg price forward-filled "
              "(last observed). Span agg + sequence-explode (rows generated = "
              "semantic output, no global calendar cross join) + (key, day) "
              "left join + per-key PARTITIONED window — no un-partitioned "
              "window, no driver action (operators/timeseries.py)")
def orders_priority_daily_gapfill(spark, sf_dir):
    from ..operators.timeseries import gapfill_daily

    o = read_testdata(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        davg(F.col("o_totalprice"), 2).alias("avg_price"),
    )
    return gapfill_daily(
        daily, ["o_orderpriority"], "day",
        zero_fill=["n_orders"], ffill=["avg_price"],
    ).select(
        "o_orderpriority", "day",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        "avg_price",
    )


# --- record linkage: blocked fuzzy join ------------------------------------

_FUZZY_ORACLE = """
WITH clean AS (
  SELECT p_partkey,
         substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8) || ' ' || p_name AS sku_name
  FROM part
), dirty AS (
  SELECT p_partkey + 5000000 AS d_key,
         CASE WHEN p_partkey % 3 = 0 THEN substr(sku_name, 1, len(sku_name) - 1)
              WHEN p_partkey % 3 = 1 THEN sku_name || 'x'
              ELSE sku_name END AS d_name
  FROM clean
), lb AS (SELECT p_partkey, sku_name, lower(substr(trim(sku_name), 1, 8)) AS blk FROM clean),
rb AS (SELECT d_key, d_name, lower(substr(trim(d_name), 1, 8)) AS blk FROM dirty)
SELECT lb.p_partkey, lb.sku_name, rb.d_key, rb.d_name,
       CAST(levenshtein(lb.sku_name, rb.d_name) AS INTEGER) AS distance
FROM lb JOIN rb ON lb.blk = rb.blk
WHERE levenshtein(lb.sku_name, rb.d_name) <= 2
"""


@register("parts_fuzzy_match", oracle=_FUZZY_ORACLE,
          doc="Record linkage via blocked fuzzy join: 'SKU + description' "
              "entity strings matched against a deterministically-perturbed "
              "dirty copy (every k%3==0 loses its last char, k%3==1 gains a "
              "suffix char) — candidate pairs come from an 8-char SKU-prefix "
              "blocking equi-join, only within-block pairs pay levenshtein, "
              "matches kept at distance <= 2. Block-key design IS the "
              "operator: this fixture's raw p_name has only 64 distinct "
              "values across 20k parts, so name-prefix blocking makes "
              "quadratic hot blocks (measured 42 s / 5.5M pairs at sf0.1); "
              "blocking on the stable unique SKU prefix keeps blocks O(1) at "
              "full recall for suffix dirt — the hot-block hazard "
              "operators/linkage.py documents, demonstrated and avoided")
def parts_fuzzy_match(spark, sf_dir):
    from ..operators.linkage import blocked_fuzzy_join

    p = read_testdata(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(
            F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 8),
            F.lit(" "),
            F.col("p_name"),
        ).alias("sku_name"),
    )
    dirty = p.select(
        (F.col("p_partkey") + 5_000_000).alias("d_key"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.expr("substring(sku_name, 1, length(sku_name) - 1)"),
        )
        .when(F.col("p_partkey") % 3 == 1, F.concat(F.col("sku_name"), F.lit("x")))
        .otherwise(F.col("sku_name"))
        .alias("d_name"),
    )
    return blocked_fuzzy_join(
        p, dirty, "sku_name", "d_name", max_distance=2, block_len=8
    ).select("p_partkey", "sku_name", "d_key", "d_name", "distance")


# --- heavy hitters (Misra-Gries + exact verification) -----------------------

_HH_ORACLE = """
WITH s AS (
  SELECT CASE WHEN l_orderkey % 10 <= 5 THEN -(l_orderkey % 10) - 1
              ELSE l_orderkey END AS item
  FROM lineitem
), t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM s),
c AS (SELECT item, CAST(count(*) AS BIGINT) AS exact_count FROM s
      GROUP BY 1 ORDER BY exact_count DESC, item ASC LIMIT 5)
SELECT c.item, c.exact_count, t.n_rows,
       c.exact_count * 65 > t.n_rows AS guaranteed
FROM c CROSS JOIN t
"""


@register("lineitem_heavy_hitters", oracle=_HH_ORACLE,
          doc="Misra-Gries heavy hitters with exact verification: six "
              "synthesized hot keys (~6% of rows each, negative sentinels "
              "disjoint from real orderkeys) against a long unique tail. One "
              "zero-shuffle corpus pass builds per-partition 64-counter MG "
              "summaries (Arrow mapInPandas); the bounded candidate union "
              "broadcast-joins back for exact counts (map-side combined). "
              "Every returned row is 'guaranteed' (freq > N/65), which is "
              "what makes the sketch's top-5 provably equal the oracle's "
              "full-groupBy top-5 — the third mergeable sketch next to HLL "
              "distinct and percentile buffers (operators/profiling.py)")
def lineitem_heavy_hitters(spark, sf_dir):
    from ..operators.profiling import heavy_hitters_topk

    li = read_testdata(spark, sf_dir, "lineitem")
    skewed = li.select(
        F.when(
            F.col("l_orderkey") % 10 <= 5, -(F.col("l_orderkey") % 10) - 1
        )
        .otherwise(F.col("l_orderkey"))
        .alias("hot_key")
    )
    return heavy_hitters_topk(skewed, "hot_key", k=5, counters=64)


# --- canonical TPC-H multi-join aggregates (Q3 / Q5 shapes) -----------------

_Q3_ORACLE = f"""
SELECT l_orderkey,
       {o_dsum('l_extendedprice * (1 - l_discount)', 2)} AS revenue,
       CAST(o_orderdate AS DATE) AS order_date
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15'
  AND l_shipdate > TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", oracle=_Q3_ORACLE,
          doc="TPC-H Q3 shape (shipping priority): customer segment filter + "
              "3-table join + revenue aggregate + top-10. Customer and orders "
              "filters push to the scans, the customer dim broadcasts, the "
              "lineitem-orders fact join is the one legitimate shuffle pair, "
              "then one aggregate shuffle and TakeOrderedAndProject")
def tpch_q3_shipping_priority(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_testdata(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-15").cast("timestamp")
    )
    li = read_testdata(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-15").cast("timestamp")
    )
    return (
        # orders is a FACT side — no broadcast hint (AQE may still
        # broadcast the filtered side locally; at scale this is the one
        # legitimate fact⋈fact shuffle join). Dimensions broadcast.
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "order_date")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name,
       {o_dsum('l_extendedprice * (1 - l_discount)', 2)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@register("tpch_q5_local_supplier_volume", oracle=_Q5_ORACLE,
          doc="TPC-H Q5 shape (local supplier volume): 6-table join with the "
              "customer-nation == supplier-nation locality predicate, region "
              "filter and a two-year order window; every dimension broadcasts "
              "(the fact shuffles only for the final nation aggregate)")
def tpch_q5_local_supplier_volume(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer")
    o = read_testdata(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_testdata(spark, sf_dir, "lineitem")
    s = read_testdata(spark, sf_dir, "supplier")
    n = read_testdata(spark, sf_dir, "nation")
    r = read_testdata(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        # orders is a FACT side — no broadcast hint (see Q3 note)
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


_Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice, sum(l_quantity) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
HAVING sum(l_quantity) > 300
ORDER BY o_totalprice DESC, order_date, o_orderkey
LIMIT 100
"""


@register("tpch_q18_large_volume_customer", oracle=_Q18_ORACLE,
          doc="TPC-H Q18 shape (large-volume customers): HAVING-subquery turned "
              "into aggregate-then-join — lineitem aggregates ONCE per orderkey "
              "(map-side partial sum, the single fact shuffle), the >300 filter "
              "makes that side ~0.1% of orders so AQE may broadcast it locally "
              "but no hint is hard-coded (at 100 TB it is still millions of "
              "rows), then orders joins the survivors and the customer dim "
              "broadcasts. l_quantity is integral-valued double, so the re-used "
              "aggregate is order-independent and exact")
def tpch_q18_large_volume_customer(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer")
    o = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("order_date"), F.asc("o_orderkey"))
        .limit(100)
    )


_SCD2_ASOF_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         DATE '2025-01-01' AS effective_from,
         CAST(NULL AS DATE) AS effective_to,
         true AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'RELOCATED' ELSE c_mktsegment END AS c_mktsegment,
         CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEWCOMER', 0.0 FROM customer WHERE c_custkey % 97 = 0
), j AS (
  SELECT d.c_custkey AS dk, u.c_custkey AS uk,
         d.c_mktsegment AS dm, d.c_acctbal AS da, d.effective_from AS df,
         u.c_mktsegment AS um, u.c_acctbal AS ua,
         (d.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL
          AND NOT (d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment
                   AND d.c_acctbal IS NOT DISTINCT FROM u.c_acctbal)) AS changed
  FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey
), state AS (
  SELECT dk AS c_custkey, dm AS c_mktsegment, da AS c_acctbal,
         df AS effective_from, CAST(NULL AS DATE) AS effective_to, true AS is_current
  FROM j WHERE dk IS NOT NULL AND NOT changed
  UNION ALL
  SELECT dk, dm, da, df, DATE '2025-02-01', false FROM j WHERE changed
  UNION ALL
  SELECT uk, um, ua, DATE '2025-02-01', CAST(NULL AS DATE), true FROM j WHERE changed
  UNION ALL
  SELECT uk, um, ua, DATE '2025-02-01', CAST(NULL AS DATE), true FROM j WHERE dk IS NULL
)
SELECT c_custkey, c_mktsegment, c_acctbal, effective_from, effective_to, is_current
FROM state
WHERE effective_from <= DATE '2025-01-15'
  AND (effective_to IS NULL OR effective_to > DATE '2025-01-15')
"""


@register("customer_scd2_asof", oracle=_SCD2_ASOF_ORACLE,
          doc="Point-in-time dimension read: the customer SCD2 state (after the "
              "2025-02-01 merge) AS OF 2025-01-15 — every key's pre-merge "
              "version and none of the 02-01 versions; rows whose validity "
              "interval covers the date. Pure pushed-down filter on the "
              "versioned table, zero shuffle beyond building the state "
              "(operators/scd.scd2_snapshot_asof — the read-side complement "
              "of scd2_merge)")
def customer_scd2_asof(spark, sf_dir):
    import datetime as dt

    from ..operators.scd import scd2_init, scd2_merge, scd2_snapshot_asof

    cust = read_testdata(spark, sf_dir, "customer")
    dim = scd2_init(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        ["c_custkey"], ["c_mktsegment", "c_acctbal"], dt.date(2025, 1, 1),
    )
    updates = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "RELOCATED")
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 6 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 97 == 0).select(
            (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
            F.lit("NEWCOMER").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
    )
    state = scd2_merge(
        dim, updates, ["c_custkey"], ["c_mktsegment", "c_acctbal"],
        dt.date(2025, 2, 1),
    )
    return scd2_snapshot_asof(state, dt.date(2025, 1, 15))


# --- bucketed zero-shuffle reconciliation join ------------------------------

_BK_RECON_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_price_mismatch,
       true AS zero_shuffle_join
FROM orders
"""


@register("recon_bucketed_zero_shuffle", oracle=_BK_RECON_ORACLE,
          doc="The 100 TB answer to recurring fact-vs-fact reconciliation, "
              "driver-visible: both sides written bucketed+sorted on the PK "
              "(8 buckets), then joined with broadcast DISABLED — the bucket "
              "layout satisfies the join distribution so the plan carries "
              "ZERO shuffle exchanges (asserted in-plan via plancheck; the "
              "entry raises if a shuffle appears). Pay the shuffle once at "
              "ingest, never per recon run. Returns the recon summary (row "
              "count + price mismatches on the perturbed k%7==0 copy) so the "
              "oracle checks the data path too")
def recon_bucketed_zero_shuffle(spark, sf_dir):
    import shutil
    import tempfile

    from ..operators.plancheck import plan_summary
    from ..sinks.warehouse import LayeredWarehouse

    base = read_testdata(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    target = base.select(
        F.col("o_orderkey").alias("t_orderkey"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("t_totalprice"),
    )
    ta, tb = "bkq_recon_src", "bkq_recon_tgt"
    root = tempfile.mkdtemp(prefix="bkq_recon_")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
        wh = LayeredWarehouse(root)
        wh.write_bucketed(base, ta, ["o_orderkey"], num_buckets=8, path=f"{root}/a")
        wh.write_bucketed(target, tb, ["t_orderkey"], num_buckets=8, path=f"{root}/b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(
            spark.table(tb), F.col("o_orderkey") == F.col("t_orderkey")
        )
        s = plan_summary(joined)
        if s.shuffles != 0:
            raise AssertionError(
                f"bucketed recon join must be shuffle-free, plan has {s.shuffles}"
            )
        row = joined.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("o_totalprice") != F.col("t_totalprice")).cast("bigint")
            ).alias("n_price_mismatch"),
        ).collect()[0]
        return local_frame(
            spark, [(row["n_rows"], row["n_price_mismatch"], True)],
            "n_rows bigint, n_price_mismatch bigint, zero_shuffle_join boolean",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
        shutil.rmtree(root, ignore_errors=True)
