"""NESZ (noise-equivalent sigma zero) flattening.

Parity target: xsarsea ``windspeed/utils.py:94-163``
(``nesz_flattening``): per image line, fit ``noise_db ~ a*incidence + b``
(1st-order polyfit) and rebuild a flattened linear noise floor
``10**((inc*a + b - 1)/10)``, after NaN-filling noise from per-sample
column means.

Spark-first plan: the per-line polyfit is the closed-form normal
equations over exact DECIMAL sums — a single hash aggregation over
(line), then a broadcast join back. No UDF at all (the reference needed
``np.apply_along_axis`` + ``np.polyfit``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import DAVG, DSUM, QTRUNC

__all__ = ["nesz_flattening"]


def nesz_flattening(px: DataFrame) -> DataFrame:
    """Returns ``px`` with the flattened linear noise column ``nesz_flat``.

    Reproducible: the per-sample mean of ``nesz`` uses an exact DECIMAL
    sum, the dB conversion is quantized to a 1e-6 dB grid, and the
    per-line fit over ``incidence`` uses the closed-form normal
    equations over exact DECIMAL sums instead of ``regr_slope`` /
    ``regr_intercept`` (whose accumulation order differs between
    engines and partitionings). Same math, bit-stable results.
    """
    # 0) NaN -> NULL so every aggregate below skips NaN exactly like the
    # reference's isfinite-filtered nanmean/polyfit (the DECIMAL sums
    # skip NULL but propagate NaN)
    nan_safe = F.when(
        F.col("nesz").isNull() | F.isnan("nesz"), F.lit(None)
    ).otherwise(F.col("nesz"))
    px = px.withColumn("__noise_nn", nan_safe)
    # 1) NaN-fill from per-sample column means (utils.py:140-143)
    col_means = px.groupBy("sample").agg(
        F.expr(DAVG("__noise_nn", scale=12)).alias("__noise_colmean"))
    filled = px.join(F.broadcast(col_means), on="sample",
                     how="left").withColumn(
        "__noise_filled",
        F.coalesce(F.col("__noise_nn"), F.col("__noise_colmean")))
    # 2) to dB (epsilon-free here: reference uses 10*log10(noise))
    filled = filled.withColumn(
        "__noise_db", F.expr(QTRUNC("10e0 * log10(__noise_filled)", 6)))
    # 3) per-line 1st-order fit: the closed-form normal equations over
    # exact DECIMAL sums
    y = "CASE WHEN __noise_db IS NULL THEN NULL ELSE __noise_db END"
    x = "CASE WHEN __noise_db IS NULL THEN NULL ELSE incidence END"
    fits = filled.groupBy("line").agg(
        F.expr(DSUM("(incidence) * __noise_db", 12)).alias("__sxy"),
        F.expr(DSUM(f"({x})", 12)).alias("__sx"),
        F.expr(DSUM(f"({y})", 12)).alias("__sy"),
        F.expr(DSUM("(incidence) * CASE WHEN __noise_db IS NULL "
                    "THEN NULL ELSE incidence END", 12)).alias("__sxx"),
        F.expr("CAST(COUNT(__noise_db) AS DOUBLE)").alias("__n"),
    )
    fits = fits.select(
        "line",
        F.expr(
            "(__n * __sxy - __sx * __sy) / (__n * __sxx - __sx * __sx)"
        ).alias("__a"),
        F.expr(
            "(__sy - ((__n * __sxy - __sx * __sy) /"
            " (__n * __sxx - __sx * __sx)) * __sx) / __n"
        ).alias("__b"),
    )
    # 4) rebuild flattened linear noise (utils.py:155-161)
    out_sql = QTRUNC("power(10e0, ((incidence * __a + __b) - 1e0) / 10e0)",
                     12)
    return (
        filled.join(F.broadcast(fits), on="line", how="left")
        .withColumn("nesz_flat", F.expr(out_sql))
        .drop("__noise_nn", "__noise_colmean", "__noise_filled",
              "__noise_db", "__a", "__b")
    )
