"""Distributed exact global rank / ntile — no single-partition sort.

``row_number()`` / ``ntile()`` over an UNPARTITIONED window funnel the
whole input through one task: fine on a vocabulary-sized frame at test
scale, a scale-killer on a 100-TB corpus. These helpers compute the
identical values with the classic two-pass distributed rank:

1. ``repartitionByRange`` on the order key — range partition *i*
   holds rows that sort strictly before partition *i+1* (the order
   keys used here are made unique with a tie-break column, so no key
   straddles a boundary);
2. per-partition counts -> cumulative offsets (a window over
   ``n_partitions`` rows — bounded by cluster size, not data);
3. ``row_number`` WITHIN each range partition + broadcast-joined
   offset = the exact global rank.

The frame is materialized (``engine.materialize``) after the range
partitioning because ``repartitionByRange`` samples its boundaries:
recomputing the lineage in the counts job and the rank job could pick
different boundaries and desync offsets from partition contents.

``ntile_distributed`` layers Spark/SQL-standard NTILE semantics on
top of the exact rank: with ``N`` rows and ``n`` buckets, the first
``N mod n`` buckets get ``floor(N/n) + 1`` rows.

Reference parity note: the reference engine (umr-lops/xsarsea) has no
ranking surface; this operator backs the prefix-filter rarity order
(set-similarity joins) and curriculum binning of the pipeline
extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xsarsea_spark.engine import get_conf, materialize

__all__ = ["global_rank", "ntile_distributed", "ntile_grouped",
           "prefix_max"]

CONF_DEBUG_CHECKS = "spark.xsarsea.debug.checks"


def global_rank(df: DataFrame, order_by: list[Column],
                rank_col: str = "__rank",
                partitions: int | None = None,
                running_sums: dict[str, str] | None = None) -> DataFrame:
    """``df`` + ``rank_col`` = 1-based dense row_number under the
    TOTAL order ``order_by`` (callers must pass a tie-broken, i.e.
    unique, key), computed without any corpus-wide window.

    ``running_sums`` maps output column -> input column to accumulate
    as an inclusive running total under the same order (the classic
    cumulative-sum window, distributed the same two-pass way:
    per-partition totals + broadcast offsets + local cumsum). Input
    columns MUST be exact types (DECIMAL / integer) — double partial
    sums are not associative, so a double running sum could differ
    from the single-partition window by rounding order.
    """
    spark = df.sparkSession
    n = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sums = running_sums or {}
    ranged = materialize(
        df.repartitionByRange(n, *order_by)
        .withColumn("__pid", F.spark_partition_id()))
    counts = ranged.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(src).alias(f"__t_{out}") for out, src in sums.items()])
    # cumulative offsets: a window over <= n rows (cluster-sized)
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        *[F.sum(f"__t_{out}").over(w_off).alias(f"__o_{out}")
          for out in sums])
    w_local = Window.partitionBy("__pid").orderBy(*order_by)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, 0)
    out = (
        ranged.withColumn("__lr", F.row_number().over(w_local))
        .join(F.broadcast(offsets), on="__pid")
        .withColumn(rank_col,
                    (F.col("__off") + F.col("__lr")).cast("long"))
    )
    for o, src in sums.items():
        out = out.withColumn(
            o, F.coalesce(F.col(f"__o_{o}"), F.lit(0))
            + F.sum(src).over(w_run))
    return out.drop("__pid", "__lr", "__off",
                    *[f"__o_{o}" for o in sums])


def prefix_max(df: DataFrame, order_by: list[Column], src: str,
               out_col: str,
               partitions: int | None = None) -> DataFrame:
    """``df`` + ``out_col`` = EXCLUSIVE running max of ``src`` under
    the total order ``order_by`` (the ``max(src) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING TO -1)`` window), distributed with the
    same two-pass shape as :func:`global_rank` — per-range-partition
    maxima + a cluster-sized offsets window + a local exclusive
    running max. NULL for the globally-first row. Order keys must be
    unique (max, unlike sum, is order-insensitive, but ties crossing
    a range boundary would make the EXCLUSIVE frame ambiguous). The
    contract is checked — not just documented — when
    ``spark.xsarsea.debug.checks=true``: one count-vs-countDistinct
    agg over the keys, raising on duplicates so a future caller
    fails loudly instead of getting wrong running maxima (the check
    needs plain ascending Columns, not ``.asc()`` sort orders — all
    current callers comply)."""
    spark = df.sparkSession
    if get_conf(spark, CONF_DEBUG_CHECKS, "false").lower() == "true":
        chk = df.agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct(F.struct(*order_by)).alias("__d")).first()
        if chk["__n"] != chk["__d"]:
            raise ValueError(
                "prefix_max: order_by keys are not unique "
                f"({chk['__n']} rows, {chk['__d']} distinct keys) — "
                "ties straddling a range-partition boundary make the "
                "exclusive frame ambiguous; add a tie-breaking key")
    n = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = materialize(
        df.repartitionByRange(n, *order_by)
        .withColumn("__pid", F.spark_partition_id()))
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (ranged.groupBy("__pid").agg(F.max(src).alias("__m"))
               .select("__pid",
                       F.max("__m").over(w_off).alias("__pm")))
    w_excl = (Window.partitionBy("__pid").orderBy(*order_by)
              .rowsBetween(Window.unboundedPreceding, -1))
    return (ranged.join(F.broadcast(offsets), on="__pid")
            # greatest() skips NULLs: first row of a partition takes
            # the previous partitions' max; the globally-first row
            # gets NULL from both sides
            .withColumn(out_col, F.greatest(
                F.col("__pm"), F.max(src).over(w_excl)))
            .drop("__pid", "__pm"))


def _ntile_expr(rank_col: str, total_col: str, n: int):
    """Exact NTILE(``n``) bucket from a 1-based rank and a group
    total. Integral `div` throughout: double division is exact only
    below 2^53 ranks — floating point must not decide exact
    cross-engine values at the design scale. CASE short-circuits, so
    the `div base` branch never runs when base = 0 (N < n: every row
    lands in a big bucket)."""
    r, N = rank_col, total_col
    return F.expr(
        f"CAST(CASE WHEN {r} <= ({N} % {n}) * (({N} div {n}) + 1) "
        f"THEN ({r} - 1) div (({N} div {n}) + 1) + 1 "
        f"ELSE ({N} % {n}) "
        f"  + ({r} - ({N} % {n}) * (({N} div {n}) + 1) - 1) "
        f"    div ({N} div {n}) + 1 "
        f"END AS int)")


def ntile_distributed(df: DataFrame, n: int, order_by: list[Column],
                      bin_col: str = "bin",
                      partitions: int | None = None) -> DataFrame:
    """``df`` + ``bin_col`` = NTILE(``n``) under the total order
    ``order_by`` — value-identical to the SQL window function, built
    on :func:`global_rank` (no single-partition sort)."""
    ranked = global_rank(df, order_by, rank_col="__gr",
                         partitions=partitions)
    total = ranked.groupBy().agg(F.count(F.lit(1)).alias("__N"))
    return (ranked.crossJoin(F.broadcast(total))
            .withColumn(bin_col, _ntile_expr("__gr", "__N", n))
            .drop("__gr", "__N"))


def ntile_grouped(df: DataFrame, n: int, group_cols: list[str],
                  order_by: list[Column], bin_col: str = "bin",
                  partitions: int | None = None) -> DataFrame:
    """Per-group NTILE(``n``) — value-identical to ``NTILE(n) OVER
    (PARTITION BY group ORDER BY ...)`` — without a per-group window:
    ONE :func:`global_rank` over (group, order), then each group's
    (first rank, count) joined back to convert global ranks into
    in-group ranks. No assumption that a group fits in a partition
    (a language or source can be arbitrarily large); the per-group
    stats frame has one row per group and is broadcast, so the
    GROUP COUNT must be broadcast-sized — languages, sources,
    shards, not document ids.

    Contract: group keys must be NON-NULL — the offsets join back is
    null-unsafe equality, so a NULL-group row would be silently
    DROPPED (where the window function would bucket the NULL
    partition). Filter or coalesce NULL keys first. With
    ``spark.xsarsea.debug.checks=true`` a NULL group key raises."""
    if get_conf(df.sparkSession, CONF_DEBUG_CHECKS,
                "false").strip().lower() == "true":
        bad = df.filter(" OR ".join(
            f"{c} IS NULL" for c in group_cols)).limit(1).count()
        if bad:
            raise ValueError(
                "ntile_grouped: NULL group key (rows would be "
                "silently dropped by the offsets join) — filter or "
                f"coalesce {group_cols} first")
    keys = [F.col(c).asc() for c in group_cols]
    ranked = global_rank(df, keys + list(order_by), rank_col="__gr",
                         partitions=partitions)
    stats = ranked.groupBy(*group_cols).agg(
        F.min("__gr").alias("__g0"),
        F.count(F.lit(1)).alias("__N"))
    return (ranked.join(F.broadcast(stats), on=list(group_cols))
            .withColumn("__r", F.expr("__gr - __g0 + 1"))
            .withColumn(bin_col, _ntile_expr("__r", "__N", n))
            .drop("__gr", "__g0", "__N", "__r"))
