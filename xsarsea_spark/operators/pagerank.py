"""Deterministic PageRank — iterative graph ranking with an exact
cross-engine oracle.

Iterative algorithms are usually exiled to "rows-only" checks because
per-round floating sums are partition-order dependent. Here every
round's contribution sum runs through the same barrier the rest of the
suite uses — per-term quantization then DECIMAL accumulation — so N
rounds of Spark joins produce BIT-IDENTICAL ranks to the oracle's N
chained SQL CTEs: the damping arithmetic (a + b * x) is pure IEEE
add/multiply (exact in both engines), division by out-degree is one
IEEE divide (exact), and the only order-sensitive step (the sum over
in-edges) is order-free in DECIMAL.

Scale design: the rank frame is O(nodes), edges O(graph); each round
is one shuffle join (ranks onto edge sources, partitioned by node) and
one hash agg onto destinations — the standard Pregel schedule
expressed relationally. Dangling nodes keep their rank mass out of
circulation (teleport-only), matching the simple formulation; rounds
are a fixed driver loop (bounded, like Lloyd's in pipeline.ivf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.engine import materialize
from xsarsea_spark.operators.exactsum import QTRUNC, decimal_sum

__all__ = ["pagerank", "pagerank_contrib_expr", "triangle_counts"]

_Q = 12          # quantization decimals for each edge contribution
ITERS = 4        # rounds
DAMPING = "0.85"  # spelled as both engines parse it to the same double


def pagerank_contrib_expr(rank_col: str, deg_col: str) -> str:
    """Quantized per-edge contribution — same SQL text both engines."""

    return QTRUNC(f"{rank_col} / CAST({deg_col} AS DOUBLE)", _Q)


def pagerank(edges: DataFrame, dangling: bool = True) -> DataFrame:
    """Rank nodes of a directed (src, dst) edge list over ``ITERS``
    rounds with damping ``DAMPING``; returns (node, rank).

    ``dangling=False`` skips the per-round reseed join for graphs
    where every node has an in-edge (e.g. any symmetrized edge list)
    — one join per round instead of two. Rounds build ONE linear
    lazy DAG (each rank frame feeds exactly the next round), so the
    run executes as a single Spark job.
    """
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    g = materialize(edges.join(deg, on="src"))
    base = f"(1e0 - {DAMPING}e0) / {n}e0"
    ranks = nodes.withColumn("rank", F.expr(f"1e0 / {n}e0"))
    for _ in range(ITERS):
        contrib = (
            g.join(ranks, g["src"] == ranks["node"])
            .select(F.col("dst").alias("node"),
                    F.expr(pagerank_contrib_expr("rank", "deg"))
                    .alias("c"))
            .groupBy("node")
            .agg(F.expr(decimal_sum("c", _Q)).alias("in_sum"))
        )
        if dangling:
            ranks = nodes.join(contrib, on="node", how="left").select(
                "node",
                F.expr(f"{base} + {DAMPING}e0"
                       " * coalesce(in_sum, 0e0)").alias("rank"))
        else:
            ranks = contrib.select(
                "node",
                F.expr(f"{base} + {DAMPING}e0 * in_sum")
                .alias("rank"))
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts and local clustering coefficient for
    an undirected simple graph given as ORIENTED edges (src < dst,
    no duplicates) — the node-ordered wedge-join formulation of
    Suri & Vassilvitskii 2011 ("Counting Triangles and the Curse of
    the Last Reducer").

    Wedges (a < b < c) come from joining the oriented edge list with
    itself on the middle node; a join back to the edge list closes
    them, so each triangle is generated exactly once and no node
    neighborhood is ever materialized. Per-node counts explode each
    triangle to its three corners; degrees are one union + hash agg.

    Scale: two shuffle joins on node keys. Wedge volume is
    sum(d_out^2) under the node-order orientation — the classic hub
    mitigation, since orientation caps d_out for high-degree nodes.
    Returns (node, degree, triangles, clustering_coeff) for every
    node of the graph; the coefficient is 2T / (d (d-1)), NULL for
    degree-1 nodes (single IEEE divide, exact cross-engine).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    deg = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = e.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = e.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tri = (
        e1.join(e2, on="b")
        .join(e.select(F.col("s").alias("a"), F.col("d").alias("c")),
              on=["a", "c"])
    )
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, on="node", how="left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.expr("CAST(coalesce(triangles, 0) AS BIGINT)")
            .alias("triangles"),
            F.expr("2 * coalesce(triangles, 0)"
                   " / CAST(nullif(degree * (degree - 1), 0)"
                   " AS DOUBLE)").alias("clustering_coeff"),
        )
    )
