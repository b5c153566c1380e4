"""Completion of the TPC-H-shaped battery (Q2/Q9/Q11/Q12/Q13/Q16/Q20/
Q21 adapted to the driver's schema — no partsupp table, so
part-supplier facts derive from lineitem) plus multi-level grouping
(ROLLUP / CUBE) coverage.

Conventions follow suite.relational: exact DECIMAL sums (DSUM/DAVG),
O(1) dims broadcast, O(sf) fact joins left to AQE, no LIMIT under
ties, all aggregates aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import DAVG, DSUM, QTRUNC
from xsarsea_spark.sources.tables import load
from xsarsea_spark.suite.base import spec

_REV = "l_extendedprice * (1e0 - l_discount)"


# ----------------------------------------------------------------------
# Q2 shape: minimum-cost supplier per part. partsupp's supplycost is
# derived as the supplier's exact average unit price over their
# lineitems for that part.
# ----------------------------------------------------------------------

_Q02_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
    {DAVG('l_extendedprice / l_quantity', 9)} AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eligible AS (
  SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, unit_cost,
    MIN(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE p_type = 'PROMO' AND p_size BETWEEN 10 AND 20
    AND r_name = 'EUROPE')
SELECT p_partkey, p_brand, s_name, s_acctbal, n_name,
  unit_cost AS supply_cost
FROM eligible WHERE unit_cost = min_cost
"""


@spec(
    "q02_min_cost_supplier",
    _Q02_SQL,
    "Minimum-cost supplier per PROMO mid-size part in EUROPE "
    "(Q2 shape: derived supply cost + per-part window min).",
    tags=("relational", "join", "window"),
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    # scale 9: cents/quantity quotients that terminate do so within 7
    # decimals (quantity <= 50 divides at most 2^5), so no value can
    # sit on a 1e-9 rounding boundary where the engines' DECIMAL cast
    # tie-break rules differ (Spark HALF_UP vs DuckDB half-even —
    # scale 6 hit exactly that on x.xxxxxx5 quotients)
    # NOTE: exactsum's split-accumulator was tried here and gained
    # nothing — at ~190k output groups the agg is bound by the
    # hash-table/grouping work, not the DECIMAL conversion (unlike
    # Q1's 4-group case where the conversion dominates).
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & F.col("p_size").between(10, 20))
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # guide-§3.2 pre-filter: only PROMO mid-size parts and EUROPE
    # suppliers survive the joins below, so semi-join the lineitem
    # scan on both small key sets BEFORE the (partkey, suppkey)
    # aggregation - the per-group rows (and the DECIMAL average) of
    # every surviving group are untouched, the agg just skips groups
    # the join would discard anyway
    s2, n2 = (load(spark, sf_dir, "supplier"),
              load(spark, sf_dir, "nation"))
    r2 = load(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE")
    eu_supp = (s2.join(F.broadcast(n2),
                       s2.s_nationkey == n2.n_nationkey)
               .join(F.broadcast(r2),
                     n2.n_regionkey == r2.r_regionkey)
               .select("s_suppkey"))
    ps = (li
          .join(F.broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"), "left_semi")
          .join(F.broadcast(eu_supp),
                li.l_suppkey == F.col("s_suppkey"), "left_semi")
          .groupBy("l_partkey", "l_suppkey").agg(
              F.expr(DAVG("l_extendedprice / l_quantity", 9))
              .alias("unit_cost")))
    j = (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .join(supp, ps.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "n_name",
                F.col("unit_cost").alias("supply_cost"))
    )


# ----------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year. supplycost is a
# fixed fraction of the part's retail price.
# ----------------------------------------------------------------------

_Q09_PROFIT = f"{_REV} - 6e-1 * p_retailprice * l_quantity"

_Q09_SQL = f"""
SELECT n_name AS nation,
  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
  {DSUM(_Q09_PROFIT)} AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


@spec(
    "q09_product_profit",
    _Q09_SQL,
    "Profit on gear-named parts by supplier nation and ship year "
    "(Q9 shape with retail-price-derived supply cost).",
    tags=("relational", "join", "agg"),
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.expr("CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)")
            .alias("o_year"),
            F.expr(_Q09_PROFIT).alias("__profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.expr(DSUM("__profit")).alias("sum_profit"))
    )


# ----------------------------------------------------------------------
# Q11 shape: important parts — per-part inventory value from one
# nation's suppliers exceeding a multiple of the mean part value.
# The scalar threshold is joined in as a broadcast 1-row aggregate,
# never collected to the driver.
# ----------------------------------------------------------------------

_Q11_NATION = "NATION_5"

_Q11_SQL = f"""
WITH pv AS (
  SELECT l_partkey AS p_key, {DSUM(_REV)} AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = '{_Q11_NATION}'
  GROUP BY l_partkey),
tot AS (
  SELECT CAST(SUM(CAST(part_value AS DECIMAL(38,6))) AS DOUBLE) AS t,
    COUNT(*) AS n
  FROM pv)
SELECT p_key AS l_partkey, part_value
FROM pv CROSS JOIN tot
WHERE part_value > 2e0 * t / n
"""


@spec(
    "q11_important_parts",
    _Q11_SQL,
    "Parts whose single-nation inventory value exceeds twice the mean "
    "(Q11 shape: scalar-aggregate threshold via broadcast join).",
    tags=("relational", "agg", "subquery"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").filter(
        F.col("n_name") == _Q11_NATION)
    pv = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(F.expr(DSUM(_REV)).alias("part_value"))
    )
    tot = pv.agg(
        F.expr("CAST(SUM(CAST(part_value AS DECIMAL(38,6))) AS DOUBLE)")
        .alias("t"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > 2.0 * F.col("t") / F.col("n"))
        .select(F.col("p_key").alias("l_partkey"), "part_value")
    )


# ----------------------------------------------------------------------
# Q12 shape: late-shipment priority classification. The schema has no
# shipmode/receiptdate, so lateness derives from shipdate - orderdate
# and the two-way split is LATE vs VERY LATE.
# ----------------------------------------------------------------------

_Q12_SQL = """
SELECT ship_bucket,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
    CASE WHEN l_shipdate >= o_orderdate + INTERVAL '90' DAY
         THEN 'VERY LATE' ELSE 'LATE' END AS ship_bucket
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_shipdate >= o_orderdate + INTERVAL '60' DAY)
GROUP BY ship_bucket
"""


@spec(
    "q12_late_shipping",
    _Q12_SQL,
    "Order-priority counts for late vs very-late shipments "
    "(Q12 shape: CASE-sum split over a date-lag bucket).",
    tags=("relational", "join", "agg"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.expr("l_shipdate >= o_orderdate + INTERVAL '60' DAY"))
        .withColumn(
            "ship_bucket",
            F.expr("CASE WHEN l_shipdate >= o_orderdate +"
                   " INTERVAL '90' DAY THEN 'VERY LATE' ELSE 'LATE' END"),
        )
    )
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return j.groupBy("ship_bucket").agg(
        F.expr(f"SUM(CASE WHEN {hi} THEN 1 ELSE 0 END)")
        .alias("high_line_count"),
        F.expr(f"SUM(CASE WHEN {hi} THEN 0 ELSE 1 END)")
        .alias("low_line_count"),
    )


# ----------------------------------------------------------------------
# Q13 shape: customer order-count distribution (left join keeps
# customers with zero qualifying orders).
# ----------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
"""


@spec(
    "q13_order_distribution",
    _Q13_SQL,
    "Distribution of per-customer non-urgent order counts "
    "(Q13 shape: left join preserving zero-order customers).",
    tags=("relational", "join", "agg"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


# ----------------------------------------------------------------------
# Q16 shape: distinct-supplier counts per part attribute group,
# excluding suppliers with negative balance (complaints analog) via
# anti join.
# ----------------------------------------------------------------------

_Q16_SIZES = (1, 5, 10, 15, 20, 25, 30, 35)

_Q16_SQL = f"""
SELECT p_brand, p_type, p_size,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN {_Q16_SIZES}
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0e0)
GROUP BY p_brand, p_type, p_size
"""


@spec(
    "q16_supplier_part_count",
    _Q16_SQL,
    "Distinct suppliers per (brand, type, size) excluding "
    "negative-balance suppliers (Q16 shape: anti join + "
    "count-distinct).",
    tags=("relational", "join", "agg"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(*_Q16_SIZES))
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ----------------------------------------------------------------------
# Q20 shape: suppliers of one nation who moved a significant volume of
# small-named parts in a year — nested semi joins.
# ----------------------------------------------------------------------

_Q20_SQL = f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING {DSUM('l_quantity')} > 40e0)
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA')
"""


@spec(
    "q20_promotion_suppliers",
    _Q20_SQL,
    "ASIA suppliers shipping >40 units of any small-named part "
    "in 1997 (Q20 shape: grouped HAVING inside nested semi joins).",
    tags=("relational", "join", "subquery"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    part = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    movers = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.expr(DSUM("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 40.0)
        .select("l_suppkey")
        .distinct()
    )
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = (
        load(spark, sf_dir, "nation")
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey")
    )
    supp = load(spark, sf_dir, "supplier")
    return (
        supp.join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey,
              "left_semi")
        .select("s_suppkey", "s_name")
    )


# ----------------------------------------------------------------------
# Q21 shape: suppliers who were the ONLY returning supplier on
# finished multi-supplier orders — correlated EXISTS / NOT EXISTS as
# compound-condition semi / anti joins.
# ----------------------------------------------------------------------

_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


@spec(
    "q21_waiting_supplier",
    _Q21_SQL,
    "Sole returning supplier on finished multi-supplier orders "
    "(Q21 shape: EXISTS + NOT EXISTS as semi/anti joins).",
    tags=("relational", "join", "subquery"),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"),
              "left_semi")
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("k3"),
                F.col("l_suppkey").alias("s3"))
    )
    waiting = (
        l1.join(l2, (F.col("l_orderkey") == F.col("k2"))
                & (F.col("l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("k3"))
              & (F.col("l_suppkey") != F.col("s3")), "left_anti")
    )
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ----------------------------------------------------------------------
# Multi-level grouping: ROLLUP and CUBE with GROUPING markers — one
# shuffle each (Spark expands grouping sets map-side).
# ----------------------------------------------------------------------

_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS grp_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS grp_ls,
  {DSUM(_REV)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@spec(
    "q_rollup_revenue",
    _ROLLUP_SQL,
    "Revenue at (flag, status), per-flag and grand-total levels in "
    "one pass — GROUP BY ROLLUP with GROUPING markers.",
    tags=("relational", "agg", "grouping"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("grp_rf"),
            F.grouping("l_linestatus").cast("int").alias("grp_ls"),
            F.expr(DSUM(_REV)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_CUBE_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
  CAST(GROUPING(o_orderpriority) AS INT) AS grp_pri,
  CAST(GROUPING(o_orderstatus) AS INT) AS grp_st,
  {DSUM('o_totalprice')} AS total_price,
  COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
"""


@spec(
    "q_cube_order_stats",
    _CUBE_SQL,
    "Order totals over every (priority, status) marginal — GROUP BY "
    "CUBE with GROUPING markers.",
    tags=("relational", "agg", "grouping"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("grp_pri"),
            F.grouping("o_orderstatus").cast("int").alias("grp_st"),
            F.expr(DSUM("o_totalprice")).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ----------------------------------------------------------------------
# Window-function battery: ranking, navigation and framed running
# aggregates in one pass over each customer's order timeline. All
# orderings carry a unique o_orderkey tiebreak; running sums are
# DECIMAL inside the frame, so every value is deterministic.
# ----------------------------------------------------------------------

_WINBAT_SQL = """
SELECT o_orderkey, o_custkey,
  ROW_NUMBER() OVER w AS rn,
  CAST((epoch_us(o_orderdate)
        - epoch_us(LAG(o_orderdate) OVER w)) // 86400000000
       AS BIGINT) AS days_since_prev,
  CAST((epoch_us(LEAD(o_orderdate) OVER w)
        - epoch_us(o_orderdate)) // 86400000000
       AS BIGINT) AS days_to_next,
  NTILE(4) OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey) AS price_quartile,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER
       (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS DOUBLE) AS running_spend,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER
       (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       AS DOUBLE) AS trailing3_spend,
  FIRST_VALUE(o_orderkey) OVER w AS first_order,
  PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey)
    AS global_price_pctrank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@spec(
    "q_window_battery",
    _WINBAT_SQL,
    "Ranking, navigation and framed running aggregates over each "
    "customer's order timeline in one window pass.",
    tags=("relational", "window"),
)
def q_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from xsarsea_spark.operators.rank import global_rank

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice",
                                                 "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtrail = w.rowsBetween(-2, Window.currentRow)
    day_us = 86400000000
    dsum = "SUM(CAST(o_totalprice AS DECIMAL(38,6)))"
    base = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.expr(f"(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
               f" - unix_micros(CAST(LAG(o_orderdate) OVER"
               f" (PARTITION BY o_custkey ORDER BY o_orderdate,"
               f" o_orderkey) AS TIMESTAMP))) DIV {day_us}")
        .alias("days_since_prev"),
        F.expr(f"(unix_micros(CAST(LEAD(o_orderdate) OVER"
               f" (PARTITION BY o_custkey ORDER BY o_orderdate,"
               f" o_orderkey) AS TIMESTAMP))"
               f" - unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
               f" DIV {day_us}").alias("days_to_next"),
        F.ntile(4).over(wp).alias("price_quartile"),
        F.expr(dsum).over(wrun).cast("double").alias("running_spend"),
        F.expr(dsum).over(wtrail).cast("double")
        .alias("trailing3_spend"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )
    # PERCENT_RANK over ALL orders = (rank - 1) / (N - 1) on the
    # unique (o_totalprice, o_orderkey) key — the one corpus-wide
    # window of the battery, replaced by the distributed two-pass
    # rank + a broadcast 1-row count (identical value: one integer
    # subtraction and one IEEE division per row in both forms)
    n = orders.groupBy().agg(F.count(F.lit(1)).alias("__N"))
    g = global_rank(base, [F.asc("o_totalprice"), F.asc("o_orderkey")],
                    rank_col="__gr")
    return (
        g.crossJoin(F.broadcast(n))
        .withColumn(
            "global_price_pctrank",
            F.expr("CASE WHEN __N = 1 THEN 0e0 ELSE"
                   " CAST(__gr - 1 AS DOUBLE)"
                   " / CAST(__N - 1 AS DOUBLE) END"))
        .drop("__gr", "__N", "o_totalprice")
    )


# ----------------------------------------------------------------------
# Grouped exact-quantile battery: Spark's exact `percentile` uses the
# same linear interpolation as DuckDB's quantile_cont, bit-for-bit,
# so no quantization barrier is needed.
# ----------------------------------------------------------------------

_QUANT_PROBS = (("p25", "0.25"), ("p50", "0.5"), ("p75", "0.75"),
                ("p90", "0.9"), ("p99", "0.99"))

_QUANT_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_items,
  {", ".join(f"quantile_cont(l_extendedprice, {p}) AS {a}"
             for a, p in _QUANT_PROBS)}
FROM lineitem GROUP BY l_returnflag
"""


@spec(
    "q_price_quantiles",
    _QUANT_SQL,
    "Exact grouped price quantiles (25/50/75/90/99) — bit-identical "
    "linear interpolation across engines.",
    tags=("relational", "agg", "quantile"),
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # one percentile buffer for all probs (array form), not five
    probs = ", ".join(p for _, p in _QUANT_PROBS)
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(f"percentile(l_extendedprice, array({probs}))")
        .alias("__ps"),
    )
    return agg.select(
        "l_returnflag", "n_items",
        *[F.col("__ps").getItem(i).alias(a)
          for i, (a, _) in enumerate(_QUANT_PROBS)],
    )


# ----------------------------------------------------------------------
# Data-quality gate over lineitem (Deequ-style declarative rules):
# all row-level rules fold into ONE aggregation pass; each uniqueness
# rule is one grouped pass. Integer counters -> exact oracle.
# ----------------------------------------------------------------------

_DQ_ORACLE = """
WITH row_rules AS (
  SELECT * FROM (VALUES
    ('not_null:l_orderkey',
     (SELECT SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
      FROM lineitem)),
    ('range:l_quantity',
     (SELECT SUM(CASE WHEN l_quantity IS NOT NULL
                  AND (l_quantity < 1 OR l_quantity > 50)
                  THEN 1 ELSE 0 END) FROM lineitem)),
    ('range:l_discount',
     (SELECT SUM(CASE WHEN l_discount IS NOT NULL
                  AND (l_discount < 0e0 OR l_discount > 1e-1)
                  THEN 1 ELSE 0 END) FROM lineitem)),
    ('in_set:l_returnflag',
     (SELECT SUM(CASE WHEN l_returnflag IS NOT NULL
                  AND l_returnflag NOT IN ('A', 'N', 'R')
                  THEN 1 ELSE 0 END) FROM lineitem)),
    ('unique:l_orderkey, l_linenumber',
     (SELECT coalesce(SUM(n - 1), 0) FROM (
        SELECT COUNT(*) AS n FROM lineitem
        GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)))
  ) v(rule, n_violations))
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
  n_violations = 0 AS passed
FROM row_rules
"""


@spec(
    "lineitem_dq_gate",
    _DQ_ORACLE,
    description="Declarative data-quality gate (Deequ-style): "
                "completeness/range/set rules fused into one "
                "aggregation pass + one grouped uniqueness pass",
    tags=("relational", "quality"),
)
def q_lineitem_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.quality import dq_report

    li = load(spark, sf_dir, "lineitem")
    return dq_report(
        li,
        not_null=["l_orderkey"],
        ranges={"l_quantity": ("1", "50"),
                "l_discount": ("0e0", "1e-1")},
        in_set={"l_returnflag": ["A", "N", "R"]},
        unique=[["l_orderkey", "l_linenumber"]],
    )


# ----------------------------------------------------------------------
# ANALYZE-style table statistics — the per-column summary an
# optimizer collects (and the companion of the equi-depth histogram
# row): exact NDV, null count and [min, max] for every numeric
# lineitem column, emitted in long form (one row per column). ONE
# scan: the per-column stats ride a single aggregate with exact
# COUNT(DISTINCT) rewrites (Spark plans multi-distinct via expand —
# map-side partials, no per-column rescans), then a literal unpivot.
# All-integer/identical-double stats, value-exact cross-engine.
# ----------------------------------------------------------------------

_ANALYZE_COLS = ("l_orderkey", "l_partkey", "l_suppkey",
                 "l_linenumber", "l_quantity", "l_extendedprice",
                 "l_discount", "l_tax")


def _analyze_oracle() -> str:
    rows = []
    for c in _ANALYZE_COLS:
        rows.append(
            f"SELECT '{c}' AS column_name,"
            f" COUNT(DISTINCT {c}) AS ndv,"
            f" COUNT(*) - COUNT({c}) AS n_nulls,"
            f" CAST(MIN({c}) AS DOUBLE) AS min_value,"
            f" CAST(MAX({c}) AS DOUBLE) AS max_value,"
            f" COUNT(*) AS n_rows FROM lineitem")
    return " UNION ALL ".join(rows)


@spec(
    "lineitem_analyze_stats",
    _analyze_oracle(),
    description="ANALYZE-style optimizer statistics in long form: "
                "exact NDV, null count, [min, max] and row count "
                "per numeric lineitem column — one scan, multi-"
                "distinct via Spark's expand rewrite, value-exact",
    tags=("relational", "statistics", "agg"),
)
def q_lineitem_analyze_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _ANALYZE_COLS:
        aggs += [
            F.expr(f"COUNT(DISTINCT {c})").alias(f"__ndv_{c}"),
            F.expr(f"COUNT(*) - COUNT({c})").alias(f"__nn_{c}"),
            F.expr(f"CAST(MIN({c}) AS DOUBLE)").alias(f"__mn_{c}"),
            F.expr(f"CAST(MAX({c}) AS DOUBLE)").alias(f"__mx_{c}"),
        ]
    aggs.append(F.expr("COUNT(*)").alias("__n"))
    g = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', __ndv_{c}, __nn_{c}, __mn_{c}, __mx_{c}"
        for c in _ANALYZE_COLS)
    return g.selectExpr(
        f"stack({len(_ANALYZE_COLS)}, {stack})"
        " AS (column_name, ndv, n_nulls, min_value, max_value)",
        "__n AS n_rows")


# ----------------------------------------------------------------------
# Price-volume-mix revenue decomposition — the BI bridge every
# finance review runs: month-over-month revenue change split into
# the price effect (p1-p0)*q0, the volume effect p0*(q1-q0), the
# cross term (p1-p0)*(q1-q0) over parts sold in BOTH months, plus
# the mix buckets (revenue from parts new this month / lost from
# parts that stopped selling). Identity (exact in real arithmetic):
# delta = price + volume + cross + new - lost. Part-month frames
# meet in ONE partkey-keyed self-join shifted by a month; effect
# terms pass a QTRUNC barrier (price is a ratio) before exact
# DECIMAL month rollups, so every bridge component is value-exact
# cross-engine.
# ----------------------------------------------------------------------


def _pvm_oracle() -> str:
    p1, p0 = "(r1 / q1)", "(r0 / q0)"
    pe = QTRUNC(f"({p1} - {p0}) * q0", 6)
    ve = QTRUNC(f"{p0} * (q1 - q0)", 6)
    ce = QTRUNC(f"({p1} - {p0}) * (q1 - q0)", 6)
    return f"""
WITH pm AS (
  SELECT CAST(EXTRACT(year FROM l_shipdate) * 12
       + EXTRACT(month FROM l_shipdate) AS BIGINT) AS m,
    l_partkey, {DSUM('l_extendedprice')} AS r,
    {DSUM('l_quantity')} AS q
  FROM lineitem GROUP BY 1, l_partkey),
pair AS (
  SELECT c.m, c.l_partkey, c.r AS r1, c.q AS q1,
         p.r AS r0, p.q AS q0
  FROM pm c JOIN pm p ON p.l_partkey = c.l_partkey
                     AND p.m = c.m - 1),
cont AS (
  SELECT m, {DSUM('r1 - r0')} AS delta_cont,
    {DSUM(pe, 6)} AS price_effect,
    {DSUM(ve, 6)} AS volume_effect,
    {DSUM(ce, 6)} AS cross_effect
  FROM pair GROUP BY m),
new_r AS (
  SELECT c.m, {DSUM('c.r')} AS new_revenue
  FROM pm c LEFT JOIN pm p ON p.l_partkey = c.l_partkey
                          AND p.m = c.m - 1
  WHERE p.l_partkey IS NULL GROUP BY c.m),
lost_r AS (
  SELECT p.m + 1 AS m, {DSUM('p.r')} AS lost_revenue
  FROM pm p LEFT JOIN pm c ON c.l_partkey = p.l_partkey
                          AND c.m = p.m + 1
  WHERE c.l_partkey IS NULL GROUP BY p.m + 1)
SELECT cont.m AS month_key, cont.delta_cont, cont.price_effect,
  cont.volume_effect, cont.cross_effect,
  COALESCE(new_r.new_revenue, 0e0) AS new_parts_revenue,
  COALESCE(lost_r.lost_revenue, 0e0) AS lost_parts_revenue
FROM cont LEFT JOIN new_r ON new_r.m = cont.m
LEFT JOIN lost_r ON lost_r.m = cont.m
"""


@spec(
    "q_price_volume_mix",
    _pvm_oracle(),
    description="Price-volume-mix revenue bridge: month-over-month "
                "delta split into price/volume/cross effects over "
                "continuing parts plus new/lost mix buckets — one "
                "partkey self-join shifted a month, QTRUNC'd effect "
                "terms into exact DECIMAL rollups",
    tags=("relational", "finance", "join"),
)
def q_q_price_volume_mix(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    pm = (li.groupBy(
            F.expr("CAST(EXTRACT(year FROM l_shipdate) * 12"
                   " + EXTRACT(month FROM l_shipdate) AS BIGINT)")
            .alias("m"), "l_partkey")
          .agg(F.expr(DSUM("l_extendedprice")).alias("r"),
               F.expr(DSUM("l_quantity")).alias("q")))
    # ONE execution of pm: each (m, partkey) cell feeds the bridge
    # twice - as the current month (side 0 at m) and as the previous
    # month (side 1 at m+1). Merging the two sides per (m, partkey)
    # replaces the three self-joins (pair / new left-anti / lost
    # left-anti), each of which re-executed the corpus aggregate on
    # both of its inputs (6 lineitem aggregations total).
    two = pm.selectExpr(
        "l_partkey",
        "explode(array("
        " named_struct('m', m, 's', 0, 'r', r, 'q', q),"
        " named_struct('m', m + 1, 's', 1, 'r', r, 'q', q))) AS e"
    ).selectExpr("e.m AS m", "l_partkey", "e.s AS s", "e.r AS r",
                 "e.q AS q")
    merged = two.groupBy("m", "l_partkey").agg(
        F.expr("MAX(CASE WHEN s = 0 THEN r END)").alias("r1"),
        F.expr("MAX(CASE WHEN s = 0 THEN q END)").alias("q1"),
        F.expr("MAX(CASE WHEN s = 1 THEN r END)").alias("r0"),
        F.expr("MAX(CASE WHEN s = 1 THEN q END)").alias("q0"))
    p1, p0 = "(r1 / q1)", "(r0 / q0)"
    pe = QTRUNC(f"({p1} - {p0}) * q0", 6)
    ve = QTRUNC(f"{p0} * (q1 - q0)", 6)
    ce = QTRUNC(f"({p1} - {p0}) * (q1 - q0)", 6)
    cont = "r1 IS NOT NULL AND r0 IS NOT NULL"
    out = merged.groupBy("m").agg(
        F.expr(DSUM(f"CASE WHEN {cont} THEN r1 - r0 END"))
        .alias("delta_cont"),
        F.expr(DSUM(f"CASE WHEN {cont} THEN ({pe}) END", 6))
        .alias("price_effect"),
        F.expr(DSUM(f"CASE WHEN {cont} THEN ({ve}) END", 6))
        .alias("volume_effect"),
        F.expr(DSUM(f"CASE WHEN {cont} THEN ({ce}) END", 6))
        .alias("cross_effect"),
        F.expr(DSUM("CASE WHEN r0 IS NULL THEN r1 END"))
        .alias("new_revenue"),
        F.expr(DSUM("CASE WHEN r1 IS NULL THEN r0 END"))
        .alias("lost_revenue"))
    # months with >= 1 continuing pair - the old inner-basis (cont)
    return (out.filter("delta_cont IS NOT NULL")
            .selectExpr(
                "m AS month_key", "delta_cont", "price_effect",
                "volume_effect", "cross_effect",
                "COALESCE(new_revenue, 0e0) AS new_parts_revenue",
                "COALESCE(lost_revenue, 0e0)"
                " AS lost_parts_revenue"))
