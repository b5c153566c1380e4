"""Raster-operator query battery: resampling, regridding, raster joins,
crops — the remaining scan/projection/join surface of SURVEY.md §2.

All inputs are the deterministic synthetic scene (suite.science), so
every query here is fully DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.functions.gmfs import gmf_sql
from xsarsea_spark.operators.exactsum import QTRUNC
from xsarsea_spark.operators.interp import GridAxis, interp_join
from xsarsea_spark.operators.lut import grid_df
from xsarsea_spark.suite.base import spec
from xsarsea_spark.suite.science import scene_df, scene_sql


# ----------------------------------------------------------------------
# Area-average block downscale (cv2.resize INTER_AREA analog,
# gradients.py:336-362): block means of value AND coordinates.
# ----------------------------------------------------------------------

_RS_F = 4          # downscale factor; scene dims divide evenly


_RESAMPLE_ORACLE = f"""
WITH px AS ({scene_sql(['sigma0'])})
SELECT CAST(FLOOR(line / {_RS_F}) AS BIGINT) AS bline,
  CAST(FLOOR(sample / {_RS_F}) AS BIGINT) AS bsample,
  SUM(line) / {float(_RS_F * _RS_F)!r}e0 AS line_c,
  SUM(sample) / {float(_RS_F * _RS_F)!r}e0 AS sample_c,
  CAST(SUM(CAST(sigma0 AS DECIMAL(38,9))) AS DOUBLE)
    / {float(_RS_F * _RS_F)!r}e0 AS sigma0_mean
FROM px GROUP BY 1, 2
"""


@spec(
    "sigma0_resample",
    _RESAMPLE_ORACLE,
    description="INTER_AREA block downscale: value + coordinate block "
                "means in one hash agg (gradients.py:336-362)",
    tags=("raster", "agg"),
)
def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = scene_df(spark, ["sigma0"])
    f2 = float(_RS_F * _RS_F)
    return px.groupBy(
        F.expr(f"CAST(FLOOR(line / {_RS_F}) AS BIGINT)").alias("bline"),
        F.expr(f"CAST(FLOOR(sample / {_RS_F}) AS BIGINT)").alias("bsample"),
    ).agg(
        (F.sum("line") / F.lit(f2)).alias("line_c"),
        (F.sum("sample") / F.lit(f2)).alias("sample_c"),
        F.expr(
            f"CAST(SUM(CAST(sigma0 AS DECIMAL(38,9))) AS DOUBLE)"
            f" / {f2!r}e0"
        ).alias("sigma0_mean"),
    )


# ----------------------------------------------------------------------
# Grid-to-grid LUT regrid (models.py:154-174): low-res GMF LUT
# interpolated onto the high-res lattice.
# ----------------------------------------------------------------------

_RG_LO = [GridAxis("incidence", 16.0, 5.0, 11),
          GridAxis("wspd", 3.0, 4.0, 20)]
_RG_HI = [("incidence", 16.0, 2.5, 21), ("wspd", 3.0, 2.0, 39)]

_RG_GMF_Q = QTRUNC(gmf_sql("gmf_s1_v2", inc="(16e0 + i * 5e0)",
                           wspd="(3e0 + w * 4e0)"), 10)


def _regrid_oracle() -> str:
    def idx(x, x0, step, n):
        t = f"(({x} - {x0!r}e0) / {step!r}e0)"
        return t, f"LEAST(GREATEST(FLOOR({t}), 0), {n - 2})"

    t_i, i_i = idx("p.incidence", 16.0, 5.0, 11)
    t_w, i_w = idx("p.wspd", 3.0, 4.0, 20)
    blend = (
        "l00.g * ((1e0 - f_inc) * (1e0 - f_w))"
        " + l10.g * (f_inc * (1e0 - f_w))"
        " + l01.g * ((1e0 - f_inc) * f_w)"
        " + l11.g * (f_inc * f_w)"
    )
    return f"""
WITH lo AS (
  SELECT i AS incidence_idx, w AS wspd_idx, {_RG_GMF_Q} AS g
  FROM (SELECT range AS i FROM range(11))
  CROSS JOIN (SELECT range AS w FROM range(20))),
hi AS (
  SELECT 16e0 + i * 2.5e0 AS incidence, 3e0 + w * 2e0 AS wspd
  FROM (SELECT range AS i FROM range(21))
  CROSS JOIN (SELECT range AS w FROM range(39))),
pts AS (
  SELECT p.incidence, p.wspd,
    {i_i} AS i_inc, LEAST(GREATEST({t_i} - {i_i}, 0e0), 1e0) AS f_inc,
    {i_w} AS i_w, LEAST(GREATEST({t_w} - {i_w}, 0e0), 1e0) AS f_w
  FROM hi p)
SELECT pts.incidence, pts.wspd, {QTRUNC(blend, 10)} AS sigma0_hr
FROM pts
JOIN lo l00 ON l00.incidence_idx = i_inc     AND l00.wspd_idx = i_w
JOIN lo l10 ON l10.incidence_idx = i_inc + 1 AND l10.wspd_idx = i_w
JOIN lo l01 ON l01.incidence_idx = i_inc     AND l01.wspd_idx = i_w + 1
JOIN lo l11 ON l11.incidence_idx = i_inc + 1 AND l11.wspd_idx = i_w + 1
"""


@spec(
    "lut_regrid",
    _regrid_oracle(),
    description="Low-res -> high-res grid-to-grid LUT regrid "
                "(models.py:154-174): generated target lattice + one "
                "corner-struct broadcast interp join",
    tags=("raster", "interp"),
)
def q_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = grid_df(spark, _RG_LO).selectExpr(
        "incidence_idx", "wspd_idx",
        f"{QTRUNC(gmf_sql('gmf_s1_v2', inc='incidence', wspd='wspd'), 10)}"
        " AS g",
    )
    hi = None
    for name, x0, step, n in _RG_HI:
        a = spark.range(n).select(
            (F.lit(x0) + F.col("id") * F.lit(step)).alias(name))
        hi = a if hi is None else hi.crossJoin(a)
    out = interp_join(hi, lo, _RG_LO, value_col="g", out_col="__v")
    return out.selectExpr(
        "incidence", "wspd", f"{QTRUNC('__v', 10)} AS sigma0_hr")


# ----------------------------------------------------------------------
# Ancillary wind raster join: coarse (u10, v10) model raster
# bilinearly interpolated onto the pixel grid (the xsar set_raster
# analog — SURVEY.md §2.3 'ancillary wind raster join').
# ----------------------------------------------------------------------

_AW_AXES = [GridAxis("line", 0.0, 8.0, 16), GridAxis("sample", 0.0, 8.0, 20)]
_AW_U = "3e0 + (((li * 13 + sa * 29) % 160) / 10e0)"
_AW_V = "-8e0 + (((li * 17 + sa * 7) % 160) / 10e0)"


def _anc_oracle() -> str:
    def idx(x, x0, step, n):
        t = f"(({x} - {x0!r}e0) / {step!r}e0)"
        return t, f"LEAST(GREATEST(FLOOR({t}), 0), {n - 2})"

    t_l, i_l = idx("p.line", 0.0, 8.0, 16)
    t_s, i_s = idx("p.sample", 0.0, 8.0, 20)

    def blend(col):
        return (
            f"l00.{col} * ((1e0 - f_l) * (1e0 - f_s))"
            f" + l10.{col} * (f_l * (1e0 - f_s))"
            f" + l01.{col} * ((1e0 - f_l) * f_s)"
            f" + l11.{col} * (f_l * f_s)"
        )

    return f"""
WITH px AS ({scene_sql(['sigma0'])}),
ras AS (
  SELECT li AS line_idx, sa AS sample_idx, {_AW_U} AS u10, {_AW_V} AS v10
  FROM (SELECT range AS li FROM range(16))
  CROSS JOIN (SELECT range AS sa FROM range(20))),
pts AS (
  SELECT p.line, p.sample, p.sigma0,
    {i_l} AS i_l, LEAST(GREATEST({t_l} - {i_l}, 0e0), 1e0) AS f_l,
    {i_s} AS i_s, LEAST(GREATEST({t_s} - {i_s}, 0e0), 1e0) AS f_s
  FROM px p)
SELECT pts.line, pts.sample, pts.sigma0,
  {blend('u10')} AS anc_u, {blend('v10')} AS anc_v
FROM pts
JOIN ras l00 ON l00.line_idx = i_l     AND l00.sample_idx = i_s
JOIN ras l10 ON l10.line_idx = i_l + 1 AND l10.sample_idx = i_s
JOIN ras l01 ON l01.line_idx = i_l     AND l01.sample_idx = i_s + 1
JOIN ras l11 ON l11.line_idx = i_l + 1 AND l11.sample_idx = i_s + 1
"""


@spec(
    "ancillary_wind_join",
    _anc_oracle(),
    description="Coarse ECMWF-style wind raster bilinearly joined onto "
                "the pixel grid — two-component interp via one "
                "broadcast corner-struct join each",
    tags=("raster", "join"),
)
def q_ancillary(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = scene_df(spark, ["sigma0"])
    ras = None
    for nm, n in (("line_idx", 16), ("sample_idx", 20)):
        a = spark.range(n).select(F.col("id").alias(nm))
        ras = a if ras is None else ras.crossJoin(a)
    ras = ras.selectExpr(
        "line_idx", "sample_idx",
        f"{_AW_U.replace('li', 'line_idx').replace('sa', 'sample_idx')}"
        " AS u10",
        f"{_AW_V.replace('li', 'line_idx').replace('sa', 'sample_idx')}"
        " AS v10",
    )
    out = interp_join(px, ras, _AW_AXES, value_col=["u10", "v10"],
                      out_col=["anc_u", "anc_v"])
    return out.select("line", "sample", "sigma0", "anc_u", "anc_v")


# ----------------------------------------------------------------------
# Rectangular crop + strided subsample + pol filter in one pass
# (SURVEY.md §2.2: partition-prunable predicates).
# ----------------------------------------------------------------------

_CROP_ORACLE = f"""
WITH px AS ({scene_sql(['sigma0', 'incidence'])})
SELECT line, sample, sigma0, incidence,
  CASE WHEN (line + sample) % 2 = 0 THEN 'VV' ELSE 'VH' END AS pol
FROM px
WHERE line >= 16 AND line < 96 AND sample >= 20 AND sample < 120
  AND line % 4 = 0 AND sample % 4 = 0
  AND CASE WHEN (line + sample) % 2 = 0 THEN 'VV' ELSE 'VH' END = 'VV'
"""


@spec(
    "scene_crop_subsample",
    _CROP_ORACLE,
    description="Rectangular crop + strided subsample + pol slice "
                "(isel/sel analogs) — all pushdown-friendly predicates",
    tags=("raster", "filter"),
)
def q_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = scene_df(spark, ["sigma0", "incidence"]).withColumn(
        "pol",
        F.expr("CASE WHEN (line + sample) % 2 = 0 THEN 'VV'"
               " ELSE 'VH' END"),
    )
    return px.filter(
        (F.col("line") >= 16) & (F.col("line") < 96)
        & (F.col("sample") >= 20) & (F.col("sample") < 120)
        & (F.col("line") % 4 == 0) & (F.col("sample") % 4 == 0)
        & (F.col("pol") == "VV")
    )
