"""Extended relational battery (TPC-H Q7/Q14/Q18/Q19 shapes, adapted
to the driver's schema — no partsupp table, synthetic dimension
values). Same conventions as suite.relational: exact DECIMAL sums,
O(1) dims broadcast, O(sf) joins left to AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import DSUM
from xsarsea_spark.sources.tables import load
from xsarsea_spark.suite.base import spec

_REV = "l_extendedprice * (1e0 - l_discount)"


# ----------------------------------------------------------------------
# q07 volume shipping: revenue between two nations by year
# ----------------------------------------------------------------------

_N1, _N2 = "NATION_3", "NATION_7"

_Q07_SQL = f"""
SELECT supp_nation, cust_nation, l_year, {DSUM('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
    {_REV} AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{_N1}' AND n2.n_name = '{_N2}')
     OR (n1.n_name = '{_N2}' AND n2.n_name = '{_N1}'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@spec(
    "q07_volume_shipping",
    _Q07_SQL,
    "Bidirectional nation-pair trade volume by ship year.",
    tags=("relational", "join", "agg"),
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias(
            "supp_nation"))
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias(
            "cust_nation"))
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == _N1) & (F.col("cust_nation") == _N2))
            | ((F.col("supp_nation") == _N2) & (F.col("cust_nation") == _N1))
        )
        .withColumn("l_year",
                    F.expr("CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)"))
        .withColumn("volume", F.expr(_REV))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr(DSUM("volume")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ----------------------------------------------------------------------
# q14 promo revenue ratio
# ----------------------------------------------------------------------

_Q14_SQL = f"""
SELECT
  100e0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN {_REV} ELSE 0e0 END
                   AS DECIMAL(38,6))) AS DOUBLE)
    / CAST(SUM(CAST(({_REV}) AS DECIMAL(38,6))) AS DOUBLE)
    AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


@spec(
    "q14_promo_revenue",
    _Q14_SQL,
    "Conditional-aggregate ratio over a one-month scan window.",
    tags=("relational", "agg"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    promo = (f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0e0 END")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.expr(
                f"100e0 * CAST(SUM(CAST({promo} AS DECIMAL(38,6)))"
                f" AS DOUBLE)"
                f" / CAST(SUM(CAST(({_REV}) AS DECIMAL(38,6)))"
                f" AS DOUBLE)"
            ).alias("promo_revenue")
        )
    )


# ----------------------------------------------------------------------
# q18 large-volume customers
# ----------------------------------------------------------------------

_Q18_QTY = 150

_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  {DSUM('l_quantity')} AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > {_Q18_QTY})
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@spec(
    "q18_large_volume_customer",
    _Q18_SQL,
    "Semi-join on a HAVING aggregate subquery + grouped rollup.",
    tags=("relational", "join", "agg"),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > _Q18_QTY)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(big, on="l_orderkey", how="left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.expr(DSUM("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ----------------------------------------------------------------------
# q19 discounted revenue (brand/size/quantity disjunction)
# ----------------------------------------------------------------------

_Q19_SQL = f"""
SELECT {DSUM(_REV)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""


@spec(
    "q19_discounted_revenue",
    _Q19_SQL,
    "Disjunctive brand/size/quantity predicates over a fact-dim join.",
    tags=("relational", "join", "agg"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#13")
           & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#20")
           & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(F.expr(DSUM(_REV)).alias("revenue"))


# ----------------------------------------------------------------------
# q08 market share: one nation's share of regional revenue by year
# ----------------------------------------------------------------------

_Q08_SQL = f"""
WITH all_nations AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
    {_REV} AS volume, n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA')
SELECT o_year,
  CAST(SUM(CAST(CASE WHEN supp_nation = '{_N1}' THEN volume
                ELSE 0e0 END AS DECIMAL(38,6))) AS DOUBLE)
    / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
FROM all_nations GROUP BY o_year ORDER BY o_year
"""


@spec(
    "q08_market_share",
    _Q08_SQL,
    "Conditional-share aggregate over a 7-way star join.",
    tags=("relational", "join", "agg"),
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_regionkey").alias("c_rk"))
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"))
    region = load(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .withColumn("o_year",
                    F.expr("CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)"))
        .withColumn("volume", F.expr(_REV))
    )
    share = (
        f"CAST(SUM(CAST(CASE WHEN supp_nation = '{_N1}' THEN volume"
        f" ELSE 0e0 END AS DECIMAL(38,6))) AS DOUBLE)"
        f" / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)"
    )
    return (
        j.groupBy("o_year")
        .agg(F.expr(share).alias("mkt_share"))
        .orderBy("o_year")
    )


# ----------------------------------------------------------------------
# q15 top supplier(s) by revenue (view + max subquery)
# ----------------------------------------------------------------------

_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {DSUM(_REV)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@spec(
    "q15_top_supplier",
    _Q15_SQL,
    "Aggregate view + scalar-max semi filter.",
    tags=("relational", "agg"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.expr(DSUM(_REV)).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    supp = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx),
                 F.col("total_revenue") == F.col("__mx"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ----------------------------------------------------------------------
# q17 small-quantity-order revenue (correlated avg subquery)
# ----------------------------------------------------------------------

_Q17_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
  / 7e0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 2e-1 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
"""


@spec(
    "q17_small_quantity",
    _Q17_SQL,
    "Correlated per-part average subquery decorrelated to a join.",
    tags=("relational", "join", "agg"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter("p_brand = 'Brand#1'")
    # decorrelate: per-part avg as a plain aggregate, then join
    avgs = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.expr("2e-1") * F.avg("l_quantity")).alias("__thr"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avgs, li.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)"
            " / 7e0").alias("avg_yearly"))
    )


# ----------------------------------------------------------------------
# Z-order layout profile: Morton-interleave (l_partkey, l_suppkey)
# and profile the top-of-key buckets. The SAME bit-interleave SQL text
# runs in both engines (pure BIGINT shifts — exact), and the per-bucket
# min/max spans demonstrate what the z-layout buys: every bucket is a
# tight hyper-rectangle in BOTH key dimensions, so files sorted by
# this key skip on parquet min/max stats for predicates on EITHER key.
# sinks.write_zordered is the companion writer.
# ----------------------------------------------------------------------

def _zprofile_sql() -> str:
    from xsarsea_spark.sources.sinks import zorder_sql

    z = zorder_sql(["l_partkey", "l_suppkey"], bits=21)
    return f"""
SELECT (({z}) >> 10) AS zbucket,
  COUNT(*) AS n_rows,
  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
FROM lineitem
GROUP BY 1
"""


@spec(
    "q_zorder_profile",
    _zprofile_sql(),
    description="Morton/z-order key bucket profile over lineitem "
                "(bit-interleave in pure BIGINT SQL) — the "
                "OPTIMIZE ZORDER data-skipping layout, verifiable "
                "cross-engine",
    tags=("relational", "layout"),
)
def q_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.sources.sinks import zorder_sql

    z = zorder_sql(["l_partkey", "l_suppkey"], bits=21)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.withColumn("zbucket", F.expr(f"({z}) >> 10"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


# ----------------------------------------------------------------------
# 2-D skyline (Pareto frontier): cheapest-large parts — minimize
# p_retailprice, maximize p_size. The oracle is the quadratic NOT
# EXISTS dominance definition; the Spark plan is the sorted
# formulation (zero-exchange Arrow local prefilter + one exact window
# pass over survivors), so the value match also certifies the sorted
# rewrite against the textbook definition.
# ----------------------------------------------------------------------

_SKYLINE_SQL = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice
         OR q.p_size > p.p_size))
"""


@spec(
    "q_skyline_parts",
    _SKYLINE_SQL,
    description="2-D skyline / Pareto frontier (min price, max size) "
                "— Arrow local-skyline prefilter with zero exchange, "
                "exact global window pass over the pruned survivors; "
                "value-checked against the quadratic NOT EXISTS "
                "dominance oracle",
    tags=("relational", "window"),
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.skyline import skyline2d

    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    return skyline2d(part, minimize="p_retailprice",
                     maximize="p_size")


# ----------------------------------------------------------------------
# Market-basket association rules over order item sets: support /
# confidence / lift for part pairs co-bought in >= 2 orders. The
# pair stage self-joins items WITHIN an order, so its volume is
# sum over orders of basket_size^2 — bounded by basket size (~4-7
# lineitems), linear in order count, never part^2. All measures are
# integer counts + single IEEE divisions (exact cross-engine).
# ----------------------------------------------------------------------

_BASKET_MIN = 2

_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items),
cnt AS (SELECT p, COUNT(*) AS cp FROM items GROUP BY p),
pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_both
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BASKET_MIN})
SELECT part_a, part_b, n_both,
  n_both / CAST(n.n_orders AS DOUBLE) AS support,
  n_both / CAST(ca.cp AS DOUBLE) AS conf_a_to_b,
  n_both / CAST(cb.cp AS DOUBLE) AS conf_b_to_a,
  (n_both * n.n_orders) / CAST(ca.cp * cb.cp AS DOUBLE) AS lift
FROM pairs
JOIN cnt ca ON ca.p = part_a
JOIN cnt cb ON cb.p = part_b
CROSS JOIN n
"""


@spec(
    "q_market_basket",
    _BASKET_SQL,
    description="Market-basket association rules (support / "
                "confidence / lift) for part pairs co-bought in >= 2 "
                "orders — within-order pair join bounded by basket "
                "size, integer counts + exact IEEE divisions",
    tags=("relational", "join"),
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize

    li = load(spark, sf_dir, "lineitem")
    items = li.selectExpr("l_orderkey AS o", "l_partkey AS p") \
        .distinct()
    # 4 consumers below (n, cnt, and both sides of the pair join),
    # each demanding a different output partitioning — the executed
    # plan showed 0 ReusedExchange and 5 lineitem scans, i.e. the
    # distinct re-ran per consumer. Truncate once; every consumer
    # reads the deduped (order, part) pairs, not lineitem.
    items = materialize(items)
    n = items.agg(F.countDistinct("o").alias("n_orders"))
    cnt = items.groupBy("p").agg(F.count(F.lit(1)).alias("cp"))
    a = items.selectExpr("o", "p AS part_a")
    b = items.selectExpr("o", "p AS part_b")
    pairs = (
        a.join(b, on="o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _BASKET_MIN)
    )
    return (
        pairs
        .join(cnt.selectExpr("p AS part_a", "cp AS ca"), on="part_a")
        .join(cnt.selectExpr("p AS part_b", "cp AS cb"), on="part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "n_both",
            F.expr("n_both / CAST(n_orders AS DOUBLE)")
            .alias("support"),
            F.expr("n_both / CAST(ca AS DOUBLE)").alias("conf_a_to_b"),
            F.expr("n_both / CAST(cb AS DOUBLE)").alias("conf_b_to_a"),
            F.expr("(n_both * n_orders) / CAST(ca * cb AS DOUBLE)")
            .alias("lift"),
        )
    )


# ----------------------------------------------------------------------
# Deterministic PageRank over the part<->supplier bipartite graph
# (edges = distinct (partkey, suppkey) pairs of a 10% part slice,
# both orientations). The oracle chains one CTE per iteration — and
# because every round's in-edge sum is quantized-then-DECIMAL, N
# Spark join/agg rounds match N SQL CTE levels BIT-EXACTLY: the first
# oracle-exact iterative graph algorithm in the suite (dup_cluster's
# closure oracle checks reachability, not numerics).
# ----------------------------------------------------------------------

def _pagerank_oracle() -> str:
    from xsarsea_spark.operators.pagerank import (DAMPING, ITERS,
                                                  pagerank_contrib_expr)

    d = DAMPING
    contrib = pagerank_contrib_expr("r.rank", "deg")
    sql = f"""
WITH pairs AS (
  SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS p,
                  'S' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem WHERE l_partkey % 10 = 0),
e AS (SELECT p AS src, s AS dst FROM pairs
      UNION ALL SELECT s, p FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, 1e0 / n AS rank FROM nodes CROSS JOIN nn)"""
    for i in range(1, ITERS + 1):
        sql += f""",
r{i} AS (
  SELECT nodes.node,
    (1e0 - {d}e0) / n + {d}e0 * coalesce(s.in_sum, 0e0) AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN (
    SELECT e.dst AS node,
      CAST(SUM(CAST({contrib} AS DECIMAL(38,12))) AS DOUBLE)
        AS in_sum
    FROM e JOIN deg USING (src) JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) s ON s.node = nodes.node)"""
    return sql + f"\nSELECT node, rank FROM r{ITERS}"


@spec(
    "graph_pagerank",
    _pagerank_oracle(),
    description="PageRank on the part-supplier bipartite graph: "
                "fixed Pregel-style join/agg rounds, quantized "
                "DECIMAL in-sums make every iteration bit-exact "
                "against the chained-CTE oracle",
    tags=("relational", "graph", "iterative"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.pagerank import pagerank

    li = load(spark, sf_dir, "lineitem")
    pairs = (
        li.filter(F.col("l_partkey") % 10 == 0)
        .selectExpr("'P' || CAST(l_partkey AS STRING) AS p",
                    "'S' || CAST(l_suppkey AS STRING) AS s")
        .distinct()
    )
    edges = pairs.selectExpr("p AS src", "s AS dst").unionAll(
        pairs.selectExpr("s AS src", "p AS dst"))
    return pagerank(edges, dangling=False)


# ----------------------------------------------------------------------
# Incremental aggregate maintenance: a Q1-grain summary maintained as
# BASE (shipped before the cutoff) + DELTA (the increment) partials,
# merged by re-aggregating the partial rows — counts and DECIMAL sums
# add, min/max fold — and value-checked against the full recompute.
# This is the partial-aggregate mergeability contract every
# incremental ETL / materialized-view pipeline depends on; exact
# DECIMAL sums make the merge bit-equal to the one-shot aggregate
# regardless of how the data was split.
# ----------------------------------------------------------------------

_INC_CUTOFF = "1997-01-01"

_INC_MERGE_SQL = f"""
SELECT l_returnflag, l_linestatus,
  COUNT(*) AS count_order,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
    AS sum_base_price,
  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@spec(
    "q_incremental_agg_merge",
    _INC_MERGE_SQL,
    description="Incremental aggregate maintenance: base + delta "
                "partial aggregates merged by re-aggregation "
                "(counts/DECIMAL sums add, min/max fold) — bit-equal "
                "to the one-shot recompute, the mergeability "
                "contract of incremental ETL",
    tags=("relational", "incremental"),
)
def q_incremental_agg_merge(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("count_order"),
            F.expr("SUM(CAST(l_quantity AS DECIMAL(38,6)))")
            .alias("__sq"),
            F.expr("SUM(CAST(l_extendedprice AS DECIMAL(38,6)))")
            .alias("__sp"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )

    base = partial(li.filter(f"l_shipdate < DATE '{_INC_CUTOFF}'"))
    delta = partial(li.filter(f"l_shipdate >= DATE '{_INC_CUTOFF}'"))
    merged = base.unionByName(delta)
    return (
        merged.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("SUM(count_order)").alias("count_order"),
            F.expr("CAST(SUM(__sq) AS DOUBLE)").alias("sum_qty"),
            F.expr("CAST(SUM(__sp) AS DOUBLE)")
            .alias("sum_base_price"),
            F.min("min_ship").alias("min_ship"),
            F.max("max_ship").alias("max_ship"),
        )
    )


# ----------------------------------------------------------------------
# Pareto (80/20) revenue concentration: suppliers ranked by revenue,
# cumulative share, and the "needed to reach 80%" flag. Ranking and
# cumulative sums ride ONE global window over the supplier-level
# aggregate (O(suppliers) rows, not O(lineitem)); revenue sums are
# exact DECIMAL so rank order and shares are engine-identical.
# ----------------------------------------------------------------------

_PARETO_SQL = f"""
WITH r AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(({_REV}) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
    SUM(CAST(({_REV}) AS DECIMAL(38,6))) AS __d
  FROM lineitem GROUP BY l_suppkey),
t AS (SELECT CAST(SUM(__d) AS DOUBLE) AS total FROM r),
w AS (
  SELECT l_suppkey, revenue,
    ROW_NUMBER() OVER (ORDER BY revenue DESC, l_suppkey) AS rnk,
    CAST(SUM(__d) OVER (ORDER BY revenue DESC, l_suppkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      AS cum_rev
  FROM r)
SELECT l_suppkey, revenue, rnk,
  cum_rev / t.total AS cum_share,
  (cum_rev - revenue) / t.total < 0.8 AS in_top80
FROM w, t
"""


@spec(
    "q_supplier_pareto",
    _PARETO_SQL,
    description="Pareto 80/20 revenue concentration per supplier: "
                "rank, cumulative share and the needed-to-reach-80% "
                "flag over ONE window on the supplier aggregate "
                "(O(suppliers) rows) — exact DECIMAL sums make rank "
                "and shares engine-identical",
    tags=("relational", "window"),
)
def q_supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    li = load(spark, sf_dir, "lineitem")
    r = li.groupBy("l_suppkey").agg(
        F.expr(f"CAST(SUM(CAST(({_REV}) AS DECIMAL(38,6)))"
               " AS DOUBLE)").alias("revenue"),
        F.expr(f"SUM(CAST(({_REV}) AS DECIMAL(38,6)))").alias("__d"),
    )
    t = r.agg(F.expr("CAST(SUM(__d) AS DOUBLE)").alias("total"))
    # rank + cumulative DECIMAL revenue via the distributed two-pass
    # rank: the supplier aggregate is O(suppliers) — small here, a
    # billion rows at warehouse scale, so no single-task window
    g = global_rank(r, [F.desc("revenue"), F.asc("l_suppkey")],
                    rank_col="rnk", running_sums={"__cum": "__d"})
    return (
        g.withColumn("cum_rev", F.expr("CAST(__cum AS DOUBLE)"))
        .crossJoin(F.broadcast(t))
        .select(
            "l_suppkey", "revenue", "rnk",
            F.expr("cum_rev / total").alias("cum_share"),
            F.expr("(cum_rev - revenue) / total < 0.8")
            .alias("in_top80"),
        )
    )


# ----------------------------------------------------------------------
# Open-order backlog: how many orders are in flight on each day an
# order opens or completes — the classic concurrent-intervals query,
# computed as +1/-1 boundary deltas and one running integer sum over
# the DATE axis (bounded by the calendar, never by order count).
# Completion = the order's last ship date.
# ----------------------------------------------------------------------

_BACKLOG_SQL = """
WITH span AS (
  SELECT o_orderkey, o_orderdate AS d0, MAX(l_shipdate) AS d1
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderdate),
delta AS (
  SELECT d0 AS day, CAST(1 AS BIGINT) AS dlt FROM span
  UNION ALL
  SELECT d1 AS day, CAST(-1 AS BIGINT) AS dlt FROM span),
daily AS (
  SELECT day, SUM(dlt) AS net FROM delta GROUP BY day)
SELECT day,
  CAST(SUM(net) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS open_orders,
  CAST(net AS BIGINT) AS net_change
FROM daily
"""


@spec(
    "q_orders_backlog",
    _BACKLOG_SQL,
    description="Open-order backlog (concurrent intervals): +1/-1 "
                "boundary deltas per order span, one running integer "
                "sum over the date axis — bounded by the calendar, "
                "never by order count",
    tags=("relational", "window", "timeseries"),
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    span = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("d1"))
    )
    delta = span.selectExpr(
        "o_orderdate AS day", "CAST(1 AS BIGINT) AS dlt"
    ).unionAll(span.selectExpr(
        "d1 AS day", "CAST(-1 AS BIGINT) AS dlt"))
    daily = delta.groupBy("day").agg(F.expr("SUM(dlt)").alias("net"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
        F.col("net").cast("bigint").alias("net_change"),
    )
