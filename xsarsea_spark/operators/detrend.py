"""sigma0 detrending (roughness normalization).

Parity target: xsarsea ``detrend.py:9-68`` (``sigma0_detrend``):
normalize sigma0 by the GMF-modeled incidence-angle trend of the first
image line, yielding a "roughness" image.

Spark-first plan (SURVEY.md §7.1):

    profile = px.filter(line == first).groupBy(sample)
                .agg(avg(gmf(incidence, wspd0, phi0)))
    mean    = exact scalar mean of the profile
    out     = px LEFT JOIN broadcast(profile) ON sample
                 .withColumn(sigma0_detrend, sigma0 / (profile/mean))

The profile is tiny (one row per sample column) so the join is always
a broadcast hash join — no shuffle of the big pixel table. The profile
mean uses an exact DECIMAL sum so results are partition-order
independent (and hash-match the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.expr import double_lit
from xsarsea_spark.functions.gmfs import GMF_REGISTRY, gmf_sql
from xsarsea_spark.operators.exactsum import DAVG, QTRUNC

__all__ = ["sigma0_detrend"]


def sigma0_detrend(
    px: DataFrame,
    model: str = "gmf_cmod5n",
    wind_speed_gmf: float = 10.0,
    wind_dir_gmf: float = 45.0,
    first_line: int = 0,
    quantize: int | None = None,
) -> DataFrame:
    """Detrended (roughness) sigma0: ``sigma0 / broadcast(profile_ratio)``.

    The profile (sample, gmf_ratio) is the GMF sigma0 of line
    ``first_line`` at (``wind_speed_gmf``, ``wind_dir_gmf``) divided by
    its scene mean.

    ``quantize``: reproducible mode — truncate the GMF (libm) output to
    a 1e-k decimal grid so the result is bit-identical across engines
    and partitionings (see :func:`xsarsea_spark.operators.exactsum.QTRUNC`).
    """
    if model not in GMF_REGISTRY:
        raise KeyError(f"unknown model {model!r}")
    wspd_lit = double_lit(wind_speed_gmf)
    phi_lit = double_lit(wind_dir_gmf)
    sig_sql = gmf_sql(model, inc="incidence", wspd=wspd_lit, phi=phi_lit)

    # project the (large) GMF expression ONCE into a column, then
    # quantize/aggregate the column reference — keeps whole-stage
    # codegen small (QTRUNC + DAVG would otherwise inline the full
    # Fourier expansion 4x)
    first = (
        px.filter(F.col("line") == first_line)
        .select("sample", F.expr(sig_sql).alias("__gmf"))
    )
    g = QTRUNC("__gmf", quantize) if quantize is not None else "__gmf"
    profile = first.groupBy("sample").agg(
        F.expr(DAVG(g, scale=18)).alias("sigma0_gmf_sample")
    )
    # window-over-() on the tiny profile: computes the exact scalar mean
    # without a driver round-trip and keeps the plan fully lazy.
    profile = profile.select(
        "sample",
        (
            F.col("sigma0_gmf_sample")
            / F.expr(
                "CAST(SUM(CAST(sigma0_gmf_sample AS DECIMAL(38,18))) "
                "OVER () AS DOUBLE) / COUNT(sigma0_gmf_sample) OVER ()"
            )
        ).alias("gmf_ratio"),
    )
    return (
        px.join(F.broadcast(profile), on="sample", how="left")
        .withColumn("sigma0_detrend", F.col("sigma0") / F.col("gmf_ratio"))
        .drop("gmf_ratio")
    )
