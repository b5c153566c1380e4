"""Relational query battery over the TPC-H-ish star schema.

Spark-first plans: dimension sides broadcast, predicates placed before
joins so Catalyst pushes them into the parquet scans, aggregates via
exact DECIMAL sums (see operators.exactsum) so results are order-independent
and hash-match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import (DAVG, DSUM, ExactSumSpec,
                                              exact_sum_agg)
from xsarsea_spark.sources.tables import load
from xsarsea_spark.suite.base import spec

_REV = "l_extendedprice * (1e0 - l_discount)"


# ----------------------------------------------------------------------
# q01 pricing summary (TPC-H Q1 shape)
# ----------------------------------------------------------------------

_Q01_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {DSUM('l_quantity')} AS sum_qty,
  {DSUM('l_extendedprice')} AS sum_base_price,
  {DSUM(_REV)} AS sum_disc_price,
  {DSUM(f'({_REV}) * (1e0 + l_tax)')} AS sum_charge,
  {DAVG('l_quantity')} AS avg_qty,
  {DAVG('l_extendedprice')} AS avg_price,
  {DAVG('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@spec(
    "q01_pricing_summary",
    _Q01_SQL,
    "TPC-H Q1-shaped pricing summary: filtered scan -> hash agg.",
    tags=("relational", "agg"),
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # exact_sum_agg: long-backed split-accumulator sums, equal here to
    # the DSUM DECIMAL path the oracle uses but ~2.3x faster (no
    # per-row BigDecimal). Q1 is the most aggregate-dense query in the
    # suite, so it carries the demonstration.
    out = exact_sum_agg(
        li.filter(
            F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
        ),
        ["l_returnflag", "l_linestatus"],
        [
            ExactSumSpec("sum_qty", "l_quantity"),
            ExactSumSpec("sum_base_price", "l_extendedprice"),
            ExactSumSpec("sum_disc_price", _REV),
            ExactSumSpec("sum_charge", f"({_REV}) * (1e0 + l_tax)"),
            ExactSumSpec("avg_qty", "l_quantity", avg=True),
            ExactSumSpec("avg_price", "l_extendedprice", avg=True),
            ExactSumSpec("avg_disc", "l_discount", avg=True),
        ],
        extra_aggs=[F.count(F.lit(1)).alias("count_order")],
    )
    return out.orderBy("l_returnflag", "l_linestatus")


# ----------------------------------------------------------------------
# q03 shipping priority (TPC-H Q3 shape) — top-10 by exact revenue
# ----------------------------------------------------------------------

_Q03_SQL = f"""
SELECT
  l_orderkey,
  {DSUM(_REV)} AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@spec(
    "q03_shipping_priority",
    _Q03_SQL,
    "3-way join (broadcast dims) -> agg -> top-k.",
    tags=("relational", "join", "topk"),
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    # orders and customer are O(sf) fact/semi-fact tables: no forced
    # broadcast (a multi-GB driver collect at sf100). Shuffle joins on
    # the keys; AQE downgrades to broadcast when a side is small.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(DSUM(_REV)).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ----------------------------------------------------------------------
# q05 local supplier volume (TPC-H Q5 shape)
# ----------------------------------------------------------------------

_Q05_SQL = f"""
SELECT n_name, {DSUM(_REV)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@spec(
    "q05_local_supplier_volume",
    _Q05_SQL,
    "6-way star join, all dims broadcast; single shuffle for the agg.",
    tags=("relational", "join", "agg"),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    # O(sf) sides (orders, customer, supplier) join via shuffle + AQE;
    # only the O(1) dims (nation, region) are forced broadcasts.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(DSUM(_REV)).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ----------------------------------------------------------------------
# q06 forecast revenue (TPC-H Q6 shape) — pushdown-friendly scalar agg
# ----------------------------------------------------------------------

_Q06_SQL = f"""
SELECT {DSUM('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.04e0 AND l_discount <= 0.06e0
  AND l_quantity < 24e0
"""


@spec(
    "q06_forecast_revenue",
    _Q06_SQL,
    "Predicate-pushdown scan -> scalar agg (no shuffle beyond partials).",
    tags=("relational", "agg", "pushdown"),
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        F.expr(DSUM("l_extendedprice * l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ----------------------------------------------------------------------
# q10 returned items (TPC-H Q10 shape) — top 20 customers by lost revenue
# ----------------------------------------------------------------------

_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {DSUM(_REV)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@spec(
    "q10_returned_items",
    _Q10_SQL,
    "Join + agg + top-k on exact revenue.",
    tags=("relational", "join", "topk"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # no forced broadcast of O(sf) orders/customer — shuffle + AQE
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(DSUM(_REV)).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ----------------------------------------------------------------------
# q_order_priority — EXISTS semi-join (TPC-H Q4 shape)
# ----------------------------------------------------------------------

_QOP_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_quantity > 45e0
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@spec(
    "q04_order_priority",
    _QOP_SQL,
    "Semi-join (EXISTS) -> agg.",
    tags=("relational", "semijoin"),
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45.0)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ----------------------------------------------------------------------
# q_customers_without_orders — anti-join
# ----------------------------------------------------------------------

_QCN_SQL = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '2000-01-01'
)
GROUP BY n_name
ORDER BY n_name
"""


@spec(
    "q22_customers_without_orders",
    _QCN_SQL,
    "Anti-join -> agg (TPC-H Q22 shape).",
    tags=("relational", "antijoin"),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


# ----------------------------------------------------------------------
# q_brand_top_parts — window rank per group
# ----------------------------------------------------------------------

_QBT_SQL = f"""
WITH part_rev AS (
  SELECT p_brand, p_partkey, {DSUM(_REV)} AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
), ranked AS (
  SELECT p_brand, p_partkey, revenue,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY revenue DESC, p_partkey) AS rnk
  FROM part_rev
)
SELECT p_brand, p_partkey, revenue, rnk
FROM ranked WHERE rnk <= 3
ORDER BY p_brand, rnk
"""


@spec(
    "q_brand_top_parts",
    _QBT_SQL,
    "Agg -> window ROW_NUMBER per brand -> filter top-3.",
    tags=("relational", "window"),
)
def q_brand_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)  # O(sf) part: AQE decides
        .groupBy("p_brand", "p_partkey")
        .agg(F.expr(DSUM(_REV)).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("revenue"), F.asc("p_partkey")
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("p_brand", "rnk")
    )


# ----------------------------------------------------------------------
# q_customer_running_total — cumulative window over time
# ----------------------------------------------------------------------

_QRT_SQL = """
WITH cum AS (
  SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
              OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS running_spend,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, running_spend
FROM cum WHERE rn = 1
ORDER BY o_custkey
"""


@spec(
    "q_customer_running_total",
    _QRT_SQL,
    "Cumulative windowed sum per customer; final row per key.",
    tags=("relational", "window"),
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cumulative sum is only kept at each customer's LAST row,
    # where it equals the plain total — so the two full window passes
    # (sort + cumsum, sort + row_number) collapse into ONE hash
    # aggregation: max_by for the final order key, exact sum for the
    # spend. Same oracle, no per-partition sort at any scale.
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.expr(
                "max_by(o_orderkey, struct(o_orderdate, o_orderkey))"
            ).alias("o_orderkey"),
            F.expr(DSUM("o_totalprice")).alias("running_spend"),
        )
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey")
    )


# ----------------------------------------------------------------------
# q_region_revenue_share — two-level agg + broadcast of a scalar
# ----------------------------------------------------------------------

_QRS_SQL = f"""
WITH reg AS (
  SELECT r_name, {DSUM(_REV)} AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name
)
SELECT r_name, revenue,
       ROUND(revenue / SUM(revenue) OVER (), 8) AS share
FROM reg
ORDER BY r_name
"""


@spec(
    "q_region_revenue_share",
    _QRS_SQL,
    "Group agg + global-total window division.",
    tags=("relational", "window", "agg"),
)
def q_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    reg = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)  # O(sf) supplier: AQE

        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.expr(DSUM(_REV)).alias("revenue"))
    )
    return reg.select(
        "r_name",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(Window.partitionBy()), 8
        ).alias("share"),
    ).orderBy("r_name")


# ----------------------------------------------------------------------
# q_monthly_orders — date bucketing
# ----------------------------------------------------------------------

_QMO_SQL = f"""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       COUNT(*) AS n_orders,
       {DSUM('o_totalprice')} AS total_spend
FROM orders
WHERE o_orderdate >= TIMESTAMP '1999-01-01'
GROUP BY 1
ORDER BY order_month
"""


@spec(
    "q_monthly_orders",
    _QMO_SQL,
    "Calendar bucketing + agg.",
    tags=("relational", "dates"),
)
def q_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(DSUM("o_totalprice")).alias("total_spend"),
        )
        .orderBy("order_month")
    )
