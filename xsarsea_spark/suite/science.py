"""Science-operator query battery (SAR wind pillar) with DuckDB oracles.

Each query runs the real engine operator (detrend, nesz flattening,
LUT interpolation, GMF/angle/dsig expressions) over a *synthetic scene*
generated from pure integer/rational arithmetic — the same closed-form
expressions are evaluated by Spark and by the DuckDB oracle, so inputs
are bit-identical in both engines (IEEE 754 +,-,*,/ and floor are
exactly specified; only libm calls differ, and those are quantized via
operators.exactsum.QTRUNC — see that docstring).

Reference parity targets are cited per query (xsarsea file:line).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.functions.angles import (
    db_to_linear,
    dir_meteo_to_oceano,
    dir_meteo_to_sample,
    dir_oceano_to_meteo,
    dir_sample_to_meteo,
    dir_to_180,
    dir_to_360,
    linear_to_db,
)
from xsarsea_spark.functions.dsig import get_dsig_sql, get_dsig_wspd_sql
from xsarsea_spark.functions.gmfs import gmf_sql
from xsarsea_spark.operators.exactsum import QTRUNC
from xsarsea_spark.suite.base import spec

# ----------------------------------------------------------------------
# Synthetic scene: shared closed-form column expressions.
#
# line/sample come from range(); every derived column is integer
# arithmetic + one exact division, so Spark and DuckDB materialize
# bit-identical doubles. NaN injection uses (0e0/0e0), which both
# engines evaluate to NaN.
# ----------------------------------------------------------------------

N_LINES = 128
N_SAMPLES = 160

_SCENE_COLS = {
    # incidence sweeps 17..56.75 deg across the swath (regular grid)
    "incidence": "17e0 + sample * 25e-2",
    # copol sigma0: smooth incidence trend + deterministic speckle
    # (always > 0: min 2e-2 - 159*5e-5 ~ 0.012)
    "sigma0": (
        "2e-2 - 5e-5 * sample"
        " + 1e-2 * (((line * 48271 + sample * 69621) % 100003) / 100003e0)"
        " + 2e-2 * (((line * 16807 + sample * 12345) % 65537) / 65537e0)"
    ),
    # crosspol sigma0 (smaller magnitude)
    "sigma0_cr": (
        "2e-3"
        " + 15e-4 * (((line * 22695477 + sample * 1103515245) % 99991)"
        " / 99991e0)"
    ),
    # noise floor with ~1.4% NaN holes (NaN-fill path of nesz_flattening)
    "nesz": (
        "CASE WHEN (line * 31 + sample * 17) % 73 = 0"
        " THEN CAST('NaN' AS DOUBLE)"
        " ELSE 12e-4 + 4e-4 * (((line * 131 + sample * 523) % 997) / 997e0)"
        " END"
    ),
    # ancillary wind (antenna/azimuth components, m/s; signed).
    # anc_im is never exactly 0 (x.x5 grid): the 180-deg ambiguity
    # resolution ties exactly at anc_im = 0, where cross-engine ulp
    # noise would make the sign choice non-deterministic.
    "anc_re": "3e0 + (((line * 7 + sample * 13) % 200) / 10e0)",
    "anc_im": "-1205e-2 + (((line * 11 + sample * 3) % 240) / 10e0)",
    # per-pixel crosspol cost weight (pure arithmetic, engine-exact)
    "dsig_cr": "5e-2 + 1e-2 * ((line * 3 + sample * 7) % 7)",
    # scattered wind-speed lookup points for LUT interpolation
    "wspd_pt": "3e0 + (((line * 37 + sample * 101) % 770) / 10e0)",
    # angles in degrees for the convention conversions
    "ang": "-720e0 + (((line * 13 + sample * 29) % 14400) / 10e0)",
    "heading": "-180e0 + (((line * 5 + sample * 7) % 3600) / 10e0)",
}


def scene_df(spark: SparkSession, cols: list[str],
             n_lines: int = N_LINES, n_samples: int = N_SAMPLES) -> DataFrame:
    """Spark-side synthetic scene with the requested derived columns.

    One ``range`` split into (line, sample): a cross join of two ranges
    would put a BroadcastExchange into every plan built on the scene.
    """
    px = spark.range(n_lines * n_samples).selectExpr(
        f"id div {n_samples} AS line", f"id % {n_samples} AS sample")
    return px.selectExpr(
        "line", "sample", *[f"{_SCENE_COLS[c]} AS {c}" for c in cols]
    )


def scene_sql(cols: list[str], n_lines: int = N_LINES,
              n_samples: int = N_SAMPLES) -> str:
    """DuckDB CTE body producing the bit-identical scene."""
    proj = ",\n    ".join(f"{_SCENE_COLS[c]} AS {c}" for c in cols)
    return (
        f"SELECT line, sample,\n    {proj}\n"
        f"  FROM (SELECT range AS line FROM range({n_lines})) "
        f"CROSS JOIN (SELECT range AS sample FROM range({n_samples}))"
    )


# ----------------------------------------------------------------------
# GMF evaluation sweep — the whole analytic-GMF family on one lattice.
# Parity: xsarsea gmfs_impl.py:8-707 (values), gmfs.py:266-348
# (grid-evaluation verb). Quantized to 1e-10 (libm barrier).
# ----------------------------------------------------------------------

_GMF_EVAL_MODELS = [
    "gmf_cmod5", "gmf_cmod5n", "gmf_cmod5n_pr_zhangA",
    "gmf_cmod5n_pr_mouche1", "gmf_cmodifr2", "gmf_dummy",
    "gmf_rs2_v2", "gmf_s1_v2", "gmf_rcm_noaa", "gmf_s1_v3_ew_rec",
    "gmf_rs2_v3", "gmf_rcm_v3", "gmf_rcm_v4", "gmf_rs2_v4",
]

_GMF_GRID = (
    "SELECT 16e0 + i * 25e-1 AS incidence, 3e0 + w * 16e-1 AS wspd,"
    " p * 12e0 AS phi"
    " FROM (SELECT range AS i FROM range(21))"
    " CROSS JOIN (SELECT range AS w FROM range(30))"
    " CROSS JOIN (SELECT range AS p FROM range(16))"
)


def _gmf_eval_projection() -> str:
    # Q9 (not 10): with 14 x 10k values this is the largest
    # quantization surface in the suite — the coarser grid cuts the
    # cross-engine boundary-straddle probability ~10x while keeping
    # >= 5 significant digits on the smallest crosspol values
    cols = []
    for m in _GMF_EVAL_MODELS:
        cols.append(f"{QTRUNC(gmf_sql(m), 9)} AS {m}")
    return ",\n  ".join(cols)


_GMF_EVAL_ORACLE = f"""
SELECT incidence, wspd, phi,
  {_gmf_eval_projection()}
FROM ({_GMF_GRID})
"""


@spec(
    "gmf_eval_family",
    _GMF_EVAL_ORACLE,
    description="All 14 analytic GMFs evaluated on an "
                "(incidence, wspd, phi) lattice, quantized at 1e-10",
    tags=("science", "gmf"),
)
def q_gmf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Evaluated through the Expr layer's NumPy backend in mapInPandas
    # rather than 14 giant SQL projections: the unrolled SQL form costs
    # ~7 s of one-shot janino compilation (the data work is ~0.5 s).
    # np.floor(x * 1e9) / 1e9 is the same IEEE op sequence as QTRUNC,
    # with NaN passing through floor natively (DuckDB semantics).
    import numpy as np
    import pandas as pd

    from xsarsea_spark.functions.gmfs import gmf_numpy

    i = spark.range(21).select((16.0 + F.col("id") * 2.5).alias("incidence"))
    w = spark.range(30).select((3.0 + F.col("id") * 1.6).alias("wspd"))
    p = spark.range(16).select((F.col("id") * 12.0).alias("phi"))
    grid = i.crossJoin(w).crossJoin(p)
    schema = ("incidence double, wspd double, phi double, "
              + ", ".join(f"{m} double" for m in _GMF_EVAL_MODELS))

    def _eval(batches):
        for pdf in batches:
            inc = pdf["incidence"].to_numpy(np.float64)
            ws = pdf["wspd"].to_numpy(np.float64)
            ph = pdf["phi"].to_numpy(np.float64)
            out = {"incidence": inc, "wspd": ws, "phi": ph}
            for m in _GMF_EVAL_MODELS:
                v = gmf_numpy(m, inc, ws, ph)
                out[m] = np.floor(v * 1e9) / 1e9
            yield pd.DataFrame(out)

    return grid.mapInPandas(_eval, schema)


# ----------------------------------------------------------------------
# Angle-convention conversions. Parity: xsarsea detrend.py:96-201.
# Pure arithmetic (+ libm-free modular wrap) except db<->linear, which
# get the quantization barrier.
# ----------------------------------------------------------------------

from xsarsea_spark.expr import var as _var  # noqa: E402

_ANGLE_PROJ = {
    "meteo_to_sample": dir_meteo_to_sample(_var("ang"), _var("heading")).sql(),
    "sample_to_meteo": dir_sample_to_meteo(_var("ang"), _var("heading")).sql(),
    "meteo_to_oceano": dir_meteo_to_oceano(_var("ang")).sql(),
    "oceano_to_meteo": dir_oceano_to_meteo(_var("ang")).sql(),
    "to_180": dir_to_180(_var("ang")).sql(),
    "to_360": dir_to_360(_var("ang")).sql(),
    # db2lin input kept in [-18, 18) dB so the QTRUNC FLOOR stays
    # within BIGINT range on the Spark side
    "db2lin": QTRUNC(db_to_linear(_var("(heading / 10e0)")).sql(), 10),
    "lin2db": QTRUNC(linear_to_db(_var("sigma0")).sql(), 8),
}

_ANGLES_ORACLE = f"""
WITH px AS ({scene_sql(['ang', 'heading', 'sigma0'])})
SELECT line, sample,
  {", ".join(f"{e} AS {n}" for n, e in _ANGLE_PROJ.items())}
FROM px
"""


@spec(
    "angle_conventions",
    _ANGLES_ORACLE,
    description="Six angle-convention conversions + dB<->linear "
                "(detrend.py:96-201, models.py:210-222)",
    tags=("science", "scalar"),
)
def q_angles(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = scene_df(spark, ["ang", "heading", "sigma0"])
    return px.selectExpr(
        "line", "sample",
        *[f"{e} AS {n}" for n, e in _ANGLE_PROJ.items()],
    )


# ----------------------------------------------------------------------
# dsig uncertainty weights. Parity: xsarsea windspeed/utils.py:18-91.
# ----------------------------------------------------------------------

_DSIG_PROJ = {
    "dsig_s1_v2": QTRUNC(
        get_dsig_sql("gmf_s1_v2", "incidence", "sigma0_cr", "nesz_f"), 10),
    "dsig_rs2_v2": QTRUNC(
        get_dsig_sql("gmf_rs2_v2", "incidence", "sigma0_cr", "nesz_f"), 10),
    "dsig_cmodms1ahw": QTRUNC(
        get_dsig_sql("nc_lut_cmodms1ahw", "incidence", "sigma0_cr",
                     "nesz_f"), 10),
    "alpha_rs2_v3": QTRUNC(
        get_dsig_wspd_sql("dsig_wspd_rs2_v3", "anc_re", "snr"), 10),
    "alpha_s1_ew": QTRUNC(
        get_dsig_wspd_sql("dsig_wspd_s1_ew_rec_v3", "anc_re", "snr"), 10),
    "alpha_rcm_v3": QTRUNC(
        get_dsig_wspd_sql("dsig_wspd_rcm_v3", "anc_re", "snr"), 10),
}

# NaN-free noise column for the weights (weights expect a valid floor)
_NESZ_F = "12e-4 + 4e-4 * (((line * 131 + sample * 523) % 997) / 997e0)"
_SNR = f"sigma0_cr / ({_NESZ_F})"

_DSIG_ORACLE = f"""
WITH px AS ({scene_sql(['incidence', 'sigma0_cr', 'anc_re'])}),
  w AS (SELECT line, sample, incidence, sigma0_cr, anc_re,
               {_NESZ_F} AS nesz_f, {_SNR} AS snr FROM px)
SELECT line, sample,
  {", ".join(f"{e} AS {n}" for n, e in _DSIG_PROJ.items())}
FROM w
"""


@spec(
    "dsig_weights",
    _DSIG_ORACLE,
    description="get_dsig / get_dsig_wspd inversion uncertainty weights "
                "(windspeed/utils.py:18-91)",
    tags=("science", "scalar"),
)
def q_dsig(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = scene_df(spark, ["incidence", "sigma0_cr", "anc_re"])
    w = px.selectExpr(
        "line", "sample", "incidence", "sigma0_cr", "anc_re",
        f"{_NESZ_F} AS nesz_f", f"{_SNR} AS snr",
    )
    return w.selectExpr(
        "line", "sample",
        *[f"{e} AS {n}" for n, e in _DSIG_PROJ.items()],
    )


# ----------------------------------------------------------------------
# sigma0 detrend (roughness). Parity: xsarsea detrend.py:9-68.
# ----------------------------------------------------------------------

_DETREND_GMF_Q = QTRUNC(gmf_sql("gmf_cmod5n", inc="incidence",
                                wspd="10.0e0", phi="45.0e0"), 10)

_DETREND_ORACLE = f"""
WITH px AS ({scene_sql(['incidence', 'sigma0'])}),
profile AS (
  SELECT sample,
    CAST(SUM(CAST(({_DETREND_GMF_Q}) AS DECIMAL(38,18))) AS DOUBLE)
      / COUNT({_DETREND_GMF_Q}) AS sigma0_gmf_sample
  FROM px WHERE line = 0 GROUP BY sample),
norm AS (
  SELECT sample,
    sigma0_gmf_sample /
      (CAST(SUM(CAST(sigma0_gmf_sample AS DECIMAL(38,18))) OVER ()
            AS DOUBLE) / COUNT(sigma0_gmf_sample) OVER ()) AS gmf_ratio
  FROM profile)
SELECT px.line, px.sample, px.sigma0,
  {QTRUNC('px.sigma0 / norm.gmf_ratio', 10)} AS sigma0_detrend
FROM px JOIN norm USING (sample)
"""


@spec(
    "sigma0_detrend",
    _DETREND_ORACLE,
    description="Roughness normalization by first-line GMF profile "
                "(detrend.py:9-68); broadcast join, no shuffle of px",
    tags=("science", "detrend"),
)
def q_detrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.detrend import sigma0_detrend

    px = scene_df(spark, ["incidence", "sigma0"])
    out = sigma0_detrend(px, model="gmf_cmod5n", quantize=10)
    return out.selectExpr(
        "line", "sample", "sigma0",
        f"{QTRUNC('sigma0_detrend', 10)} AS sigma0_detrend",
    )


# ----------------------------------------------------------------------
# NESZ flattening. Parity: xsarsea windspeed/utils.py:94-163.
# ----------------------------------------------------------------------

_NESZ_DB_Q = QTRUNC("10e0 * log10(__noise_filled)", 6)

_NESZ_ORACLE = f"""
WITH px AS ({scene_sql(['incidence', 'nesz'])}),
nn AS (
  SELECT line, sample, incidence,
    CASE WHEN isnan(nesz) THEN NULL ELSE nesz END AS noise_nn
  FROM px),
colmeans AS (
  SELECT sample,
    (CAST(SUM(CAST((CASE WHEN isnan(noise_nn) THEN NULL ELSE (noise_nn) END)
       AS DECIMAL(38,12))) AS DOUBLE)
     / COUNT(CASE WHEN isnan(noise_nn) THEN NULL ELSE (noise_nn) END))
      AS colmean
  FROM nn GROUP BY sample),
filled AS (
  SELECT line, sample, incidence,
    COALESCE(noise_nn, colmean) AS __noise_filled
  FROM nn JOIN colmeans USING (sample)),
dbq AS (
  SELECT line, sample, incidence, {_NESZ_DB_Q} AS ndb FROM filled),
sums AS (
  SELECT line,
    CAST(SUM(CAST((CASE WHEN isnan((incidence) * ndb) THEN NULL
      ELSE ((incidence) * ndb) END) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST((CASE WHEN isnan((CASE WHEN ndb IS NULL THEN NULL
      ELSE incidence END)) THEN NULL ELSE ((CASE WHEN ndb IS NULL THEN NULL
      ELSE incidence END)) END) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
    CAST(SUM(CAST((CASE WHEN isnan((CASE WHEN ndb IS NULL THEN NULL
      ELSE ndb END)) THEN NULL ELSE ((CASE WHEN ndb IS NULL THEN NULL
      ELSE ndb END)) END) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
    CAST(SUM(CAST((CASE WHEN isnan((incidence) * CASE WHEN ndb IS NULL
      THEN NULL ELSE incidence END) THEN NULL ELSE ((incidence) *
      CASE WHEN ndb IS NULL THEN NULL ELSE incidence END) END)
      AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
    CAST(COUNT(ndb) AS DOUBLE) AS n
  FROM dbq GROUP BY line),
fits AS (
  SELECT line,
    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS a,
    (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS b
  FROM sums)
SELECT d.line, d.sample,
  {QTRUNC('power(10e0, ((d.incidence * f.a + f.b) - 1e0) / 10e0)', 12)}
    AS nesz_flat
FROM dbq d JOIN fits f ON d.line = f.line
"""


@spec(
    "nesz_flattening",
    _NESZ_ORACLE,
    description="Per-line noise polyfit + flattened floor "
                "(windspeed/utils.py:94-163); pure built-in aggregates",
    tags=("science", "nesz"),
)
def q_nesz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.nesz import nesz_flattening

    px = scene_df(spark, ["incidence", "nesz"])
    out = nesz_flattening(px)
    return out.select("line", "sample", "nesz_flat")


# ----------------------------------------------------------------------
# LUT build + scattered-point multilinear interpolation.
# Parity: xsarsea models.py:331-335 (lut.interp) + gmfs.py:351-395
# (LUT generation). 2-D crosspol LUT; one broadcast corner-struct join.
# ----------------------------------------------------------------------

_ILUT_INC0, _ILUT_INC_STEP, _ILUT_INC_N = 16.0, 2.0, 26
_ILUT_W0, _ILUT_W_STEP, _ILUT_W_N = 3.0, 1.0, 78

def _interp_oracle() -> str:
    # bracketing index + fraction per axis (same closed form as
    # operators.interp._index_points)
    def idx(x, x0, step, n):
        t = f"(({x} - {x0}e0) / {step}e0)"
        i0 = f"LEAST(GREATEST(FLOOR({t}), 0), {n - 2})"
        return t, i0

    t_i, i_i = idx("p.incidence", _ILUT_INC0, _ILUT_INC_STEP, _ILUT_INC_N)
    t_w, i_w = idx("p.wspd_pt", _ILUT_W0, _ILUT_W_STEP, _ILUT_W_N)
    blend = (
        "l00.g * ((1e0 - f_inc) * (1e0 - f_w))"
        " + l10.g * (f_inc * (1e0 - f_w))"
        " + l01.g * ((1e0 - f_inc) * f_w)"
        " + l11.g * (f_inc * f_w)"
    )
    return f"""
WITH px AS ({scene_sql(['incidence', 'wspd_pt'])}),
lut AS (
  SELECT i AS incidence_idx, w AS wspd_idx,
    {QTRUNC(gmf_sql('gmf_rs2_v2', inc='(16e0 + i * 2e0)',
                    wspd='(3e0 + w * 1e0)'), 10)} AS g
  FROM (SELECT range AS i FROM range({_ILUT_INC_N}))
  CROSS JOIN (SELECT range AS w FROM range({_ILUT_W_N}))),
pts AS (
  SELECT p.line, p.sample, p.incidence, p.wspd_pt,
    {i_i} AS i_inc,
    LEAST(GREATEST({t_i} - {i_i}, 0e0), 1e0) AS f_inc,
    {i_w} AS i_w,
    LEAST(GREATEST({t_w} - {i_w}, 0e0), 1e0) AS f_w
  FROM px p)
SELECT pts.line, pts.sample,
  {QTRUNC(blend, 10)} AS sigma0_interp
FROM pts
JOIN lut l00 ON l00.incidence_idx = i_inc     AND l00.wspd_idx = i_w
JOIN lut l10 ON l10.incidence_idx = i_inc + 1 AND l10.wspd_idx = i_w
JOIN lut l01 ON l01.incidence_idx = i_inc     AND l01.wspd_idx = i_w + 1
JOIN lut l11 ON l11.incidence_idx = i_inc + 1 AND l11.wspd_idx = i_w + 1
"""


@spec(
    "lut_interp",
    _interp_oracle(),
    description="GMF->LUT build + scattered-point bilinear interp "
                "(models.py:331-335); single broadcast corner-struct join",
    tags=("science", "interp"),
)
def q_lut_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.interp import GridAxis, interp_join
    from xsarsea_spark.operators.lut import grid_df

    axes = [
        GridAxis("incidence", _ILUT_INC0, _ILUT_INC_STEP, _ILUT_INC_N),
        GridAxis("wspd", _ILUT_W0, _ILUT_W_STEP, _ILUT_W_N),
    ]
    lut = grid_df(spark, axes).selectExpr(
        "incidence_idx", "wspd_idx",
        f"{QTRUNC(gmf_sql('gmf_rs2_v2', inc='incidence', wspd='wspd'), 10)}"
        " AS g",
    )
    px = scene_df(spark, ["incidence", "wspd_pt"])
    out = interp_join(
        px, lut, axes, value_col="g",
        point_cols={"wspd": "wspd_pt"}, out_col="__interp",
    )
    return out.selectExpr(
        "line", "sample", f"{QTRUNC('__interp', 10)} AS sigma0_interp"
    )


# ----------------------------------------------------------------------
# Crosspol-only wind inversion (mapInPandas kernel vs SQL argmin).
# Parity: xsarsea windspeed.py:252-276 (crosspol cost argmin).
#
# Output wind speeds are LUT *grid values* (x0 + i*step, identical
# arithmetic in NumPy and DuckDB), so the comparison is exact: libm
# ulp noise in the costs can only flip the argmin at near-ties, which
# the synthetic scene avoids.
# ----------------------------------------------------------------------

_CRLUT_W_N = 771          # wspd 3..80 step 0.1 (axis_from_range)
_CRLUT_I_N = 51           # incidence 16..66 step 1

_CR_LUTDB = (
    "10e0 * log10(("
    + gmf_sql("gmf_rs2_v2", inc="(16e0 + i * 1e0)", wspd="(3e0 + w * 1e-1)")
    + ") + 1e-15)"
)

_INV_CR_ORACLE = f"""
WITH px AS ({scene_sql(['incidence', 'sigma0_cr', 'dsig_cr'])}),
obs AS (
  SELECT line, sample, dsig_cr,
    10e0 * log10(sigma0_cr + 1e-15) AS s0cr_db,
    LEAST(GREATEST(FLOOR((incidence - 16e0) / 1e0 + 5e-1), 0),
          {_CRLUT_I_N - 1}) AS ii
  FROM px),
crlut AS MATERIALIZED (
  SELECT w, i, 3e0 + w * 1e-1 AS wspd, {_CR_LUTDB} AS lutdb
  FROM (SELECT range AS w FROM range({_CRLUT_W_N}))
  CROSS JOIN (SELECT range AS i FROM range({_CRLUT_I_N})))
SELECT line, sample, wspd AS wspd_cr
FROM obs o JOIN crlut l ON l.i = o.ii
QUALIFY row_number() OVER (
  PARTITION BY o.line, o.sample
  ORDER BY ((l.lutdb - o.s0cr_db) / o.dsig_cr)
           * ((l.lutdb - o.s0cr_db) / o.dsig_cr), l.w) = 1
"""


@spec(
    "inversion_crosspol",
    _INV_CR_ORACLE,
    description="Crosspol wind inversion: Arrow-batched mapInPandas "
                "argmin over a broadcast NumPy LUT (windspeed.py:252-276)",
    tags=("science", "inversion"),
)
def q_inv_crosspol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.inversion import invert_from_model

    px = scene_df(spark, ["incidence", "sigma0_cr", "dsig_cr"])
    out = invert_from_model(
        px,
        cr_model="gmf_rs2_v2",
        sigma0_cr_col="sigma0_cr",
        dsig_cr_col="dsig_cr",
        keep_cols=["line", "sample"],
        lut_cr_wspd_step=0.1,
    )
    # crosspol-only: phi = 0, so wind_dual_re IS the retrieved speed
    return out.select("line", "sample",
                      F.col("wind_dual_re").alias("wspd_cr"))


# ----------------------------------------------------------------------
# Dual-pol wind inversion (copol Bayesian argmin + crosspol coupling +
# 180-deg ambiguity resolution + low-wind blend).
# Parity: xsarsea windspeed.py:183-282 (kernel), 426-428 (blend).
# ----------------------------------------------------------------------

_DP_LINES = 16            # 16 x 160 = 2560 px keeps the oracle join ~5M
_DP_W_N, _DP_P_N, _DP_I_N = 51, 37, 51     # wspd 0.2+1k, phi 5k, inc 16+1k
_DP_CRW_N = 258                            # cr wspd 3 + 0.3k (skips 5.0)
_DEG2RAD = "1.7453292519943295e-2"         # np.radians multiplier (exact)

_DP_COLUT_DB = (
    "10e0 * log10(("
    + gmf_sql("gmf_cmod5n", inc="(16e0 + i * 1e0)", wspd="(2e-1 + w * 1e0)",
              phi="(p * 5e0)")
    + ") + 1e-15)"
)
_DP_CRLUT_DB = (
    "10e0 * log10(("
    + gmf_sql("gmf_rs2_v2", inc="(16e0 + i * 1e0)", wspd="(3e0 + w * 3e-1)")
    + ") + 1e-15)"
)


def _dp_oracle() -> str:
    c = _DEG2RAD
    ju = f"((l.wspd * cos(l.phi * {c}) - o.anc_re) / 2e0)"
    jv = f"((l.wspd * sin(l.phi * {c}) - ABS(o.anc_im)) / 2e0)"
    js = "((l.lutdb - o.s0co_db) / 1e-1)"
    j1 = f"{ju} * {ju} + {jv} * {jv} + {js} * {js}"
    d1 = f"ABS(atan2(sin(th - phir), cos(th - phir)))"
    d2 = f"ABS(atan2(sin(th + phir), cos(th + phir)))"
    js2 = "((l.lutdb - c.s0cr_db) / c.dsig_cr)"
    jw2 = ("((l.wspd - sqrt(c.co_re * c.co_re + c.co_im * c.co_im)) / 2e0)")
    j2 = f"{js2} * {js2} + {jw2} * {jw2}"
    blend = "sqrt(co_re*co_re + co_im*co_im) < 5e0 OR " \
            "sqrt(dual_re*dual_re + dual_im*dual_im) < 5e0"
    return f"""
WITH px AS ({scene_sql(['incidence', 'sigma0', 'sigma0_cr', 'anc_re',
                        'anc_im', 'dsig_cr'])}),
obs AS (
  SELECT line, sample, anc_re, anc_im, dsig_cr,
    10e0 * log10(sigma0 + 1e-15) AS s0co_db,
    10e0 * log10(sigma0_cr + 1e-15) AS s0cr_db,
    LEAST(GREATEST(FLOOR((incidence - 16e0) / 1e0 + 5e-1), 0),
          {_DP_I_N - 1}) AS ii
  FROM px WHERE line < {_DP_LINES}),
colut AS MATERIALIZED (
  SELECT w, p, i, 2e-1 + w * 1e0 AS wspd, p * 5e0 AS phi,
         {_DP_COLUT_DB} AS lutdb
  FROM (SELECT range AS w FROM range({_DP_W_N}))
  CROSS JOIN (SELECT range AS p FROM range({_DP_P_N}))
  CROSS JOIN (SELECT range AS i FROM range({_DP_I_N}))),
stage1 AS (
  SELECT o.line, o.sample, o.anc_re, o.anc_im, o.dsig_cr, o.s0cr_db,
         o.ii, l.wspd AS wspd_co, l.phi AS phi_co
  FROM obs o JOIN colut l ON l.i = o.ii
  QUALIFY row_number() OVER (
    PARTITION BY o.line, o.sample ORDER BY {j1}, l.w, l.p) = 1),
amb AS (
  SELECT *, atan2(anc_im, anc_re) AS th,
         phi_co * {c} AS phir
  FROM stage1),
co AS (
  SELECT line, sample, dsig_cr, s0cr_db, ii,
    wspd_co * cos(CASE WHEN {d1} <= {d2} THEN phir ELSE -phir END) AS co_re,
    wspd_co * sin(CASE WHEN {d1} <= {d2} THEN phir ELSE -phir END) AS co_im
  FROM amb),
crlut AS MATERIALIZED (
  SELECT w, i, 3e0 + w * 3e-1 AS wspd, {_DP_CRLUT_DB} AS lutdb
  FROM (SELECT range AS w FROM range({_DP_CRW_N}))
  CROSS JOIN (SELECT range AS i FROM range({_DP_I_N}))),
stage2 AS (
  SELECT c.line, c.sample, c.co_re, c.co_im, l.wspd AS wspd_dual
  FROM co c JOIN crlut l ON l.i = c.ii
  QUALIFY row_number() OVER (
    PARTITION BY c.line, c.sample ORDER BY {j2}, l.w) = 1),
dual AS (
  SELECT line, sample, co_re, co_im,
    wspd_dual * cos(atan2(co_im, co_re)) AS dual_re,
    wspd_dual * sin(atan2(co_im, co_re)) AS dual_im
  FROM stage2)
SELECT line, sample,
  {QTRUNC('co_re', 6)} AS wind_co_re,
  {QTRUNC('co_im', 6)} AS wind_co_im,
  {QTRUNC(f'CASE WHEN {blend} THEN co_re ELSE dual_re END', 6)}
    AS wind_dual_re,
  {QTRUNC(f'CASE WHEN {blend} THEN co_im ELSE dual_im END', 6)}
    AS wind_dual_im
FROM dual
"""


@spec(
    "inversion_dualpol",
    _dp_oracle(),
    description="Dual-pol Bayesian wind inversion with ambiguity "
                "resolution and low-wind blend (windspeed.py:183-282)",
    tags=("science", "inversion"),
)
def q_inv_dualpol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.inversion import invert_from_model

    px = scene_df(spark, ["incidence", "sigma0", "sigma0_cr", "anc_re",
                          "anc_im", "dsig_cr"]).filter(
        F.col("line") < _DP_LINES
    )
    out = invert_from_model(
        px,
        co_model="gmf_cmod5n",
        cr_model="gmf_rs2_v2",
        dsig_co=0.1,
        sigma0_co_col="sigma0",
        sigma0_cr_col="sigma0_cr",
        dsig_cr_col="dsig_cr",
        anc_re_col="anc_re",
        anc_im_col="anc_im",
        keep_cols=["line", "sample"],
        lut_wspd_step=1.0,
        lut_phi_step=5.0,
        lut_cr_wspd_step=0.3,
    )
    return out.selectExpr(
        "line", "sample",
        f"{QTRUNC('wind_co_re', 6)} AS wind_co_re",
        f"{QTRUNC('wind_co_im', 6)} AS wind_co_im",
        f"{QTRUNC('wind_dual_re', 6)} AS wind_dual_re",
        f"{QTRUNC('wind_dual_im', 6)} AS wind_dual_im",
    )


# ----------------------------------------------------------------------
# Crosspol inversion with ENGINE-computed dsig (get_dsig wired into
# the inversion chain end-to-end; windspeed/utils.py:47-91 +
# windspeed.py:252-276).
# ----------------------------------------------------------------------

_DSIG_RS2_SQL = get_dsig_sql("gmf_rs2_v2", "incidence", "sigma0_cr",
                             "nesz_f")

_INV_DSIG_ORACLE = f"""
WITH px AS ({scene_sql(['incidence', 'sigma0_cr'])}),
obs AS (
  SELECT line, sample,
    {_DSIG_RS2_SQL.replace('nesz_f', f'({_NESZ_F})')} AS dsig_cr,
    10e0 * log10(sigma0_cr + 1e-15) AS s0cr_db,
    LEAST(GREATEST(FLOOR((incidence - 16e0) / 1e0 + 5e-1), 0),
          {_CRLUT_I_N - 1}) AS ii
  FROM px),
crlut AS MATERIALIZED (
  SELECT w, i, 3e0 + w * 1e-1 AS wspd, {_CR_LUTDB} AS lutdb
  FROM (SELECT range AS w FROM range({_CRLUT_W_N}))
  CROSS JOIN (SELECT range AS i FROM range({_CRLUT_I_N})))
SELECT line, sample, wspd AS wspd_cr
FROM obs o JOIN crlut l ON l.i = o.ii
QUALIFY row_number() OVER (
  PARTITION BY o.line, o.sample
  ORDER BY ((l.lutdb - o.s0cr_db) / o.dsig_cr)
           * ((l.lutdb - o.s0cr_db) / o.dsig_cr), l.w) = 1
"""


@spec(
    "inversion_crosspol_dsig",
    _INV_DSIG_ORACLE,
    description="Crosspol inversion with engine-computed get_dsig "
                "uncertainty weight (windspeed/utils.py:47-91 wired "
                "into the kernel chain)",
    tags=("science", "inversion"),
)
def q_inv_crosspol_dsig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.inversion import invert_from_model

    px = scene_df(spark, ["incidence", "sigma0_cr"]).withColumn(
        "nesz_f", F.expr(_NESZ_F)
    ).withColumn("dsig_cr", F.expr(_DSIG_RS2_SQL))
    out = invert_from_model(
        px,
        cr_model="gmf_rs2_v2",
        sigma0_cr_col="sigma0_cr",
        dsig_cr_col="dsig_cr",
        keep_cols=["line", "sample"],
        lut_cr_wspd_step=0.1,
    )
    return out.select("line", "sample",
                      F.col("wind_dual_re").alias("wspd_cr"))


# ----------------------------------------------------------------------
# Complex wind-vector ops over (re, im) pairs (windspeed.py:236-247;
# Spark has no complex type — SURVEY.md §1.2).
# ----------------------------------------------------------------------

from xsarsea_spark.functions.complexw import (angle_diff_rad,  # noqa: E402
                                              wind_dir_deg, wind_im,
                                              wind_re, wind_speed)

_CW_PROJ = {
    "speed": QTRUNC(wind_speed(_var("anc_re"), _var("anc_im")).sql(), 9),
    "dir_deg": QTRUNC(wind_dir_deg(_var("anc_re"), _var("anc_im")).sql(), 9),
    "rebuilt_re": QTRUNC(wind_re(_var("anc_re"), _var("heading")).sql(), 9),
    "rebuilt_im": QTRUNC(wind_im(_var("anc_re"), _var("heading")).sql(), 9),
    "dphi": QTRUNC(angle_diff_rad(_var("anc_re"), _var("anc_im"),
                                  _var("(3e0 + sample * 1e-2)"),
                                  _var("(1e0 + line * 1e-2)")).sql(), 9),
}

_CW_ORACLE = f"""
WITH px AS ({scene_sql(['anc_re', 'anc_im', 'heading'])})
SELECT line, sample,
  {", ".join(f"{e} AS {n}" for n, e in _CW_PROJ.items())}
FROM px
"""


@spec(
    "wind_vector_ops",
    _CW_ORACLE,
    description="Complex wind-vector helper set on (re, im) pairs: "
                "modulus, argument, rebuild, conjugate-product angle "
                "difference (windspeed.py:236-247)",
    tags=("science", "scalar"),
)
def q_wind_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = scene_df(spark, ["anc_re", "anc_im", "heading"])
    return px.selectExpr(
        "line", "sample",
        *[f"{e} AS {n}" for n, e in _CW_PROJ.items()],
    )
