"""Declarative data-quality constraint checking (Deequ-style).

A rule set compiles into ONE aggregation pass over the table — every
completeness/range/set rule becomes a conditional-count expression in
the same hash aggregate, and uniqueness rules share one extra grouped
pass per key set. The report is a small (rule, n_violations, passed)
table: the shape a 100 TB ingest gate needs, where re-scanning the
batch once per rule would be ruinous.

All counters are integers — trivially exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.expr import spark_str_lit

__all__ = ["dq_report"]


def dq_report(df: DataFrame,
              not_null: list[str] = (),
              ranges: dict | None = None,
              in_set: dict | None = None,
              unique: list[list[str]] | None = None) -> DataFrame:
    """Evaluate constraints; returns (rule, n_violations, passed).

    - ``not_null``: columns that must be non-null
    - ``ranges``: {col: (lo_sql, hi_sql)} inclusive bounds (violations
      counted on non-null values outside [lo, hi])
    - ``in_set``: {col: [allowed...]} membership
    - ``unique``: key-column lists that must identify rows uniquely
    """
    aggs = []
    for c in not_null:
        aggs.append(F.expr(
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
        ).alias(f"not_null:{c}"))
    for c, (lo, hi) in (ranges or {}).items():
        aggs.append(F.expr(
            f"SUM(CASE WHEN {c} IS NOT NULL AND"
            f" ({c} < {lo} OR {c} > {hi}) THEN 1 ELSE 0 END)"
        ).alias(f"range:{c}"))
    for c, allowed in (in_set or {}).items():
        lits = ", ".join(spark_str_lit(str(v)) for v in allowed)
        aggs.append(F.expr(
            f"SUM(CASE WHEN {c} IS NOT NULL AND"
            f" {c} NOT IN ({lits}) THEN 1 ELSE 0 END)"
        ).alias(f"in_set:{c}"))
    spark = df.sparkSession
    reports = []
    if aggs:
        wide = df.agg(*aggs)
        names = wide.columns
        stack = ", ".join(
            f"'{n}', CAST(`{n}` AS BIGINT)" for n in names)
        reports.append(wide.selectExpr(
            f"stack({len(names)}, {stack}) AS (rule, n_violations)"))
    for keys in (unique or []):
        kl = ", ".join(keys)
        dup = (
            df.groupBy(*[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(F.coalesce(F.expr("SUM(__n - 1)"), F.lit(0))
                 .alias("n_violations"))
            .selectExpr(f"'unique:{kl}' AS rule",
                        "CAST(n_violations AS BIGINT) AS n_violations")
        )
        reports.append(dup)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.withColumn("passed", F.col("n_violations") == 0)
