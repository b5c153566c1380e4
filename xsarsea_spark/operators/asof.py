"""As-of (nearest / latest-prior) join.

Parity target: the reference's nearest-coordinate alignment joins —
``rolling_gradients.sel(windows_at, method='nearest')``
(gradients.py:199-205) and ``histogram.interp(..., method='nearest')``
(gradients.py:232-244) — generalized to the classic time-series as-of
join the events surface needs.

Spark has no native ASOF JOIN. ``asof_join`` is the general backward
as-of via union + partitioned window: tag both sides, union on the
ordering key, and carry the last right row forward with
``last(..., ignorenulls=True)`` over a per-key window. One shuffle on
(key, time), no range join explosion. (On a REGULAR grid nearest is
closed-form index arithmetic instead — the inversion's
``_nearest_idx`` and ``gradient_histogram``'s window assignment.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the most recent
    right row with ``right.on <= left.on`` (per ``by`` keys), each
    right column ``c`` as ``c_asof``.

    Implemented as union + window (one shuffle on (by, on)): right
    rows are tagged, both sides are interleaved in event order with
    right rows sorting BEFORE left rows at equal timestamps, and each
    right payload column is carried forward with last(ignorenulls).
    """
    by = list(by or [])
    right_cols = list(right_cols or
                      [c for c in right.columns
                       if c != on and c not in by])
    lt = left.withColumn("__side", F.lit(1))
    for c in right_cols:
        lt = lt.withColumn(f"__r_{c}", F.lit(None).cast(
            dict(right.dtypes)[c]))
    rt = right.select(
        *by, on,
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    ).withColumn("__side", F.lit(0))
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    allrows = lt.select(rt.columns).unionByName(rt.select(rt.columns))

    w = (
        Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    ).orderBy(F.col(on).asc(), F.col("__side").asc()).rowsBetween(
        Window.unboundedPreceding, 0)
    for c in right_cols:
        allrows = allrows.withColumn(
            f"__r_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    out = allrows.filter(F.col("__side") == 1).drop("__side")
    for c in right_cols:
        out = out.withColumnRenamed(f"__r_{c}", f"{c}_asof")
    return out
