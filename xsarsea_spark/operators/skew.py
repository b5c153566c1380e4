"""Skew-aware join: salting for hot keys.

AQE's skew-join handling splits oversized *partitions*, but it only
works for sort-merge joins and after-the-fact; salting is the
explicit, planner-independent treatment when a key's row count is so
large that a single join task would dominate the stage (the classic
power-law user in an events table).

``salted_join`` splits each hot key's rows across ``N_SALTS``
sub-keys and replicates only the hot keys' build-side rows
``N_SALTS`` times — cold keys join exactly as before, so the overhead
is bounded by (hot keys) x (n_salts) build rows. The result is
row-identical to a plain equi-join (salting only re-buckets the
shuffle), which the suite asserts against a plain-join DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join"]

N_SALTS = 8          # sub-keys per hot key
HOT_THRESHOLD = 20   # a key with more fact rows than this is hot


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
) -> DataFrame:
    """Equi-join ``facts`` with ``dim`` on column ``on``, salting the
    shuffle for hot keys.

    The hot keys are the keys with more than ``HOT_THRESHOLD`` rows in
    ``facts`` (one aggregation; the hot-key list is assumed dim-sized
    and is broadcast). Fact rows of hot keys get a balanced salt (hashed
    row id — which salt a row lands on is partitioning-dependent, but
    the JOIN RESULT is row-identical regardless since every salt sees
    the full dim row); dim rows of hot keys are replicated across all
    salts; cold rows use salt 0 on both sides.
    """
    hot_keys = (
        facts.groupBy(on).agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > HOT_THRESHOLD)
        .select(on)
    )
    hot = F.broadcast(hot_keys.withColumn("__hot", F.lit(True)))

    f = (
        facts.join(hot, on=on, how="left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__hot").isNotNull(),
                F.expr(
                    f"CAST(conv(substring(md5(CAST({on} AS STRING) ||"
                    f" '#' || CAST(monotonically_increasing_id()"
                    f" AS STRING)), 1, 8), 16, 10) AS BIGINT)"
                    f" % {N_SALTS}"
                ).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("__hot")
    )
    salts = facts.sparkSession.range(N_SALTS).select(
        F.col("id").cast("int").alias("__salt"))
    d = (
        dim.join(hot, on=on, how="left")
        .withColumn("__is_hot", F.col("__hot").isNotNull())
        .drop("__hot")
    )
    d_hot = (
        d.filter(F.col("__is_hot")).drop("__is_hot")
        .crossJoin(F.broadcast(salts))
    )
    d_cold = (
        d.filter(~F.col("__is_hot")).drop("__is_hot")
        .withColumn("__salt", F.lit(0))
    )
    d_all = d_hot.unionByName(d_cold)
    return f.join(d_all, on=[on, "__salt"]).drop("__salt")
