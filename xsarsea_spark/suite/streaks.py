"""Gradients-pillar query battery (wind-streak direction histograms).

- ``local_gradients_pyramid`` / ``streaks_full``: the fused
  tile+halo stencil pyramid and the full multi-scale chain, both with
  EXACT composed-SQL oracles (fixed-tap-order convolution CTEs, exact
  percentile medians, DECIMAL bin sums); tile bit-exactness vs the
  whole-image NumPy chain is additionally asserted in
  tests/test_gradients.py.
- ``gradient_histogram``: the per-window weighted angular histogram
  (two-pass: exact percentile median, DECIMAL-exact weighted bin sums)
  — fully oracle-checked against DuckDB.
- ``streak_direction``: circular smoothing (composed 31-tap kernel as
  one modular join) + per-window argmax peak — fully oracle-checked.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.expr import double_lit
from xsarsea_spark.operators.exactsum import DSUM
from xsarsea_spark.operators.gradients import CIRC_KERNEL, N_ANGLES
from xsarsea_spark.suite.base import spec
from xsarsea_spark.suite.science import scene_df, scene_sql


# ----------------------------------------------------------------------
# Synthetic /4-resolution gradient field (pure arithmetic — identical
# in Spark and DuckDB). ~3% of pixels are exactly 0 (invalid path).
# ----------------------------------------------------------------------

_LG_NL, _LG_NS = 96, 120

_LG_COLS = (
    "CASE WHEN (line * 13 + sample * 7) % 31 = 0 THEN 0e0"
    " ELSE -1e0 + 2e0 * (((line * 48271 + sample * 69621) % 99991)"
    " / 99991e0) END AS g2_re",
    "CASE WHEN (line * 13 + sample * 7) % 31 = 0 THEN 0e0"
    " ELSE -1e0 + 2e0 * (((line * 16807 + sample * 12345) % 65521)"
    " / 65521e0) END AS g2_im",
    "(((line * 131 + sample * 523) % 997) / 997e0) AS c",
)


def _lg_field_df(spark: SparkSession) -> DataFrame:
    lines = spark.range(_LG_NL).select(F.col("id").alias("line"))
    samples = spark.range(_LG_NS).select(F.col("id").alias("sample"))
    return lines.crossJoin(samples).selectExpr("line", "sample", *_LG_COLS)


_LG_FIELD_SQL = f"""
SELECT line, sample, {", ".join(_LG_COLS)}
FROM (SELECT range AS line FROM range({_LG_NL}))
CROSS JOIN (SELECT range AS sample FROM range({_LG_NS}))
"""


# ----------------------------------------------------------------------
# gradient_histogram — oracle-checked
# ----------------------------------------------------------------------

_GH_WINDOW, _GH_STEP = 16, 8
_GH_START = float(-np.pi / 2 + (np.pi / N_ANGLES) / 2.0)
_GH_BSTEP = float(np.pi / N_ANGLES)


def _gh_oracle() -> str:
    wpx = double_lit(float(_GH_WINDOW * _GH_WINDOW))
    return f"""
WITH lg AS ({_LG_FIELD_SQL}),
cand AS (SELECT * FROM (VALUES (0), (1)) t(k)),
w AS (
  SELECT lg.*,
    sqrt(g2_re * g2_re + g2_im * g2_im) AS abs_g2,
    CAST(FLOOR(line / {_GH_STEP}) - cl.k AS BIGINT) AS wl,
    CAST(FLOOR(sample / {_GH_STEP}) - cs.k AS BIGINT) AS ws
  FROM lg CROSS JOIN cand cl CROSS JOIN cand cs
  WHERE FLOOR(line / {_GH_STEP}) - cl.k >= 0
    AND line < (FLOOR(line / {_GH_STEP}) - cl.k) * {_GH_STEP} + {_GH_WINDOW}
    AND FLOOR(sample / {_GH_STEP}) - cs.k >= 0
    AND sample <
        (FLOOR(sample / {_GH_STEP}) - cs.k) * {_GH_STEP} + {_GH_WINDOW}),
v AS (SELECT * FROM w WHERE NOT isnan(abs_g2) AND abs_g2 > 0e0),
meds AS (
  SELECT wl, ws, median(abs_g2) AS med, COUNT(*) AS nvalid
  FROM v GROUP BY wl, ws),
binned AS (
  SELECT v.wl, v.ws, meds.nvalid,
    CAST(LEAST(GREATEST(FLOOR((atan2(g2_im, g2_re) - ({double_lit(_GH_START)}))
      / ({double_lit(_GH_BSTEP)}) + 5e-1), 0), {N_ANGLES - 1}) AS INT) AS k,
    (abs_g2 / (abs_g2 + med)) * c AS wgt
  FROM v JOIN meds ON v.wl = meds.wl AND v.ws = meds.ws)
SELECT wl AS win_line, ws AS win_sample,
  ({double_lit(_GH_START)}) + k * ({double_lit(_GH_BSTEP)}) AS angle,
  {DSUM('wgt', 9)} / {wpx} AS weight,
  nvalid / {wpx} AS used_ratio
FROM binned
GROUP BY wl, ws, k, nvalid
"""


@spec(
    "gradient_histogram",
    _gh_oracle(),
    description="Per-window weighted angular histogram with overlapping "
                "windows (gradients.py:828-879): explode-to-window, "
                "exact percentile median, DECIMAL-exact bin sums",
    tags=("science", "gradients"),
)
def q_gradient_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.gradients import gradient_histogram

    lg = _lg_field_df(spark)
    return gradient_histogram(
        lg, window=_GH_WINDOW, step=_GH_STEP,
        line_col="line", sample_col="sample",
    )


# ----------------------------------------------------------------------
# circ_smooth + peak — oracle-checked
# ----------------------------------------------------------------------

_SD_NW_L, _SD_NW_S, _SD_NANG = 6, 8, 72

_SD_HIST_COLS = (
    "(((wl * 7919 + ws * 104729 + b * 131) % 9973) / 9973e0) AS weight"
)

_SD_HIST_SQL = f"""
SELECT wl AS win_line, ws AS win_sample, b AS angle_idx, {_SD_HIST_COLS}
FROM (SELECT range AS wl FROM range({_SD_NW_L}))
CROSS JOIN (SELECT range AS ws FROM range({_SD_NW_S}))
CROSS JOIN (SELECT range AS b FROM range({_SD_NANG}))
"""


def _sd_taps_values() -> str:
    rows = []
    half = len(CIRC_KERNEL) // 2
    for i, wv in enumerate(CIRC_KERNEL):
        if wv != 0.0:
            rows.append(f"({i - half}, {double_lit(float(wv))})")
    return ", ".join(rows)


def _sd_oracle() -> str:
    n = _SD_NANG
    return f"""
WITH hist AS ({_SD_HIST_SQL}),
taps AS (SELECT * FROM (VALUES {_sd_taps_values()}) t(d, tapw)),
sm AS (
  SELECT win_line, win_sample,
    (((angle_idx + d) % {n}) + {n}) % {n} AS bin,
    {DSUM('weight * tapw', 9)} AS wsm
  FROM hist CROSS JOIN taps
  GROUP BY win_line, win_sample, (((angle_idx + d) % {n}) + {n}) % {n})
SELECT win_line, win_sample,
  ({double_lit(_GH_START)}) + bin * ({double_lit(_GH_BSTEP)}) AS streak_angle,
  wsm AS peak_weight
FROM sm
QUALIFY row_number() OVER (
  PARTITION BY win_line, win_sample ORDER BY wsm DESC, bin ASC) = 1
"""


@spec(
    "streak_direction",
    _sd_oracle(),
    description="Circular histogram smoothing (composed 31-tap modular "
                "join, gradients.py:882-923) + per-window argmax peak",
    tags=("science", "gradients"),
)
def q_streak_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.gradients import streak_direction

    wl = spark.range(_SD_NW_L).select(F.col("id").alias("win_line"))
    ws = spark.range(_SD_NW_S).select(F.col("id").alias("win_sample"))
    b = spark.range(_SD_NANG).select(F.col("id").alias("angle_idx"))
    hist = wl.crossJoin(ws).crossJoin(b).selectExpr(
        "win_line", "win_sample", "angle_idx",
        "(((win_line * 7919 + win_sample * 104729 + angle_idx * 131)"
        " % 9973) / 9973e0) AS weight",
    )
    return streak_direction(hist, n_angles=_SD_NANG)


# ----------------------------------------------------------------------
# local_gradients pyramid — rows-only (stencil accumulation order is
# engine-internal; bit-exactness vs the NumPy chain is pytest-asserted)
# ----------------------------------------------------------------------


@spec(
    "local_gradients_pyramid",
    None,
    description="Fused tile+halo stencil pyramid: R2 -> sqrt -> Scharr "
                "-> complex square -> R2 -> quality (gradients.py:588-"
                "721); one applyInPandas shuffle per scene",
    tags=("science", "gradients"),
)
def q_local_gradients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.gradients import local_gradients
    from xsarsea_spark.suite.science import N_LINES, N_SAMPLES

    px = scene_df(spark, ["sigma0"])
    return local_gradients(px, N_LINES, N_SAMPLES, tile=64, halo=24)


# ----------------------------------------------------------------------
# Stacked multi-scale histogram mean (Gradients sweep over
# (downscale_factor, window_size), gradients.py:248-334 + the
# hist.mean(['downscale_factor','window_size']) reduction) — the
# parameter sweep is carried as COLUMNS through one plan, reduced by a
# single hash agg, instead of N separate runs.
# ----------------------------------------------------------------------

_ST_PARAMS = ((1, 16), (1, 32), (2, 16), (2, 32))


def _stack_hist_cols(ds: int, ws: int) -> str:
    return (f"(((wl * 7919 + ws * 104729 + b * 131 + {ds} * 17"
            f" + {ws} * 13) % 9973) / 9973e0)")


def _stacked_sql_parts() -> list[str]:
    parts = []
    for ds, ws in _ST_PARAMS:
        parts.append(f"""
SELECT {ds} AS downscale, {ws} AS window_size,
  wl AS win_line, ws_ AS win_sample, b AS angle_idx,
  {_stack_hist_cols(ds, ws).replace('ws *', 'ws_ *')} AS weight
FROM (SELECT range AS wl FROM range(6))
CROSS JOIN (SELECT range AS ws_ FROM range(8))
CROSS JOIN (SELECT range AS b FROM range(72))""")
    return parts


_STACK_ORACLE = f"""
WITH stacked AS ({" UNION ALL ".join(_stacked_sql_parts())})
SELECT win_line, win_sample, angle_idx,
  CAST(SUM(CAST(weight AS DECIMAL(38,12))) AS DOUBLE)
    / COUNT(weight) AS weight_mean
FROM stacked GROUP BY win_line, win_sample, angle_idx
"""


@spec(
    "stacked_histogram_mean",
    _STACK_ORACLE,
    description="Multi-scale (downscale, window) histogram stack as a "
                "unionByName + single mean reduction (gradients.py:"
                "248-334); the sweep is columns in one plan",
    tags=("science", "gradients", "setop"),
)
def q_stacked_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    stacked = None
    for ds, ws in _ST_PARAMS:
        wl = spark.range(6).select(F.col("id").alias("win_line"))
        wsd = spark.range(8).select(F.col("id").alias("win_sample"))
        b = spark.range(72).select(F.col("id").alias("angle_idx"))
        part = wl.crossJoin(wsd).crossJoin(b).selectExpr(
            f"{ds} AS downscale", f"{ws} AS window_size",
            "win_line", "win_sample", "angle_idx",
            _stack_hist_cols(ds, ws)
            .replace("wl", "win_line").replace("ws *", "win_sample *")
            .replace("b *", "angle_idx *") + " AS weight",
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    return stacked.groupBy("win_line", "win_sample", "angle_idx").agg(
        F.expr(
            "CAST(SUM(CAST(weight AS DECIMAL(38,12))) AS DOUBLE)"
            " / COUNT(weight)"
        ).alias("weight_mean")
    )


# ----------------------------------------------------------------------
# Central-symmetry mirror union (circ_hist plotting math,
# gradients.py:945-946): [-pi/2, pi/2) histogram mirrored to 360 deg.
# ----------------------------------------------------------------------

_MIRROR_ORACLE = f"""
WITH hist AS ({_SD_HIST_SQL})
SELECT win_line, win_sample,
  ({double_lit(_GH_START)}) + angle_idx * ({double_lit(_GH_BSTEP)}) AS angle,
  weight
FROM hist
UNION ALL
SELECT win_line, win_sample,
  -(({double_lit(_GH_START)}) + angle_idx * ({double_lit(_GH_BSTEP)})) AS angle,
  weight
FROM hist
"""


@spec(
    "histogram_mirror_union",
    _MIRROR_ORACLE,
    description="Central-symmetry mirror union to 360 deg "
                "(gradients.py:945-946) — union with negated angles",
    tags=("science", "gradients", "setop"),
)
def q_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    wl = spark.range(_SD_NW_L).select(F.col("id").alias("win_line"))
    ws = spark.range(_SD_NW_S).select(F.col("id").alias("win_sample"))
    b = spark.range(_SD_NANG).select(F.col("id").alias("angle_idx"))
    hist = wl.crossJoin(ws).crossJoin(b).selectExpr(
        "win_line", "win_sample", "angle_idx",
        "(((win_line * 7919 + win_sample * 104729 + angle_idx * 131)"
        " % 9973) / 9973e0) AS weight",
    )
    ang = (F.lit(_GH_START) + F.col("angle_idx") * F.lit(_GH_BSTEP))
    pos = hist.select("win_line", "win_sample", ang.alias("angle"),
                      "weight")
    neg = hist.select("win_line", "win_sample", (-ang).alias("angle"),
                      "weight")
    return pos.unionByName(neg)


# ----------------------------------------------------------------------
# Rain/texture mask — rows-only (fused multi-stencil tile pass; tile
# bit-exactness vs the NumPy chain is pytest-asserted)
# ----------------------------------------------------------------------


@spec(
    "rain_mask_filtering",
    None,
    description="Zhao-2021 rain/texture mask: Mean operator, high-pass "
                "residual vs zoomed smooth, gradient contrast, quality "
                "(gradients.py:758-825) — ONE fused tile+halo pass",
    tags=("science", "gradients"),
)
def q_rain_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.gradients import filtering_parameters
    from xsarsea_spark.suite.science import N_LINES, N_SAMPLES

    px = scene_df(spark, ["sigma0"])
    return filtering_parameters(px, N_LINES, N_SAMPLES)


# ----------------------------------------------------------------------
# Full multi-scale streaks pipeline — rows-only end-to-end chain
# (Gradients.histogram, gradients.py:248-334): per downscale factor,
# resample -> stencil pyramid -> windowed histogram -> stack union ->
# mean -> circular smooth -> peak.
# ----------------------------------------------------------------------


@spec(
    "streaks_full",
    None,
    description="End-to-end wind-streak chain over (downscale 1,2): "
                "block resample, fused stencil pyramid, windowed "
                "histogram, stack mean, circ smooth, argmax peak",
    tags=("science", "gradients"),
)
def q_streaks_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.gradients import (gradient_histogram,
                                                   local_gradients,
                                                   streak_direction)
    from xsarsea_spark.suite.science import N_LINES, N_SAMPLES

    px = scene_df(spark, ["sigma0"])
    stacked = None
    for ds in (1, 2):
        if ds == 1:
            img, nl, ns = px, N_LINES, N_SAMPLES
        else:
            nl, ns = N_LINES // ds, N_SAMPLES // ds
            # fixed-order 2x2 block mean: each conditional MAX picks
            # exactly one pixel, so the (p00+p01+p10+p11)/4 addition
            # order is deterministic (a groupBy avg would sum in
            # partition order)
            cell = ("MAX(CASE WHEN line % 2 = {dl} AND sample % 2 = {dsm}"
                    " THEN sigma0 END)")
            img = px.groupBy(
                F.expr("CAST(FLOOR(line / 2) AS BIGINT)").alias("line"),
                F.expr("CAST(FLOOR(sample / 2) AS BIGINT)")
                .alias("sample"),
            ).agg(F.expr(
                "(" + " + ".join(
                    cell.format(dl=dl, dsm=dsm)
                    for dl in (0, 1) for dsm in (0, 1))
                + ") / 4e0").alias("sigma0"))
        lg = local_gradients(img, nl, ns, tile=64, halo=24)
        hist = gradient_histogram(lg, window=8, step=8)
        # windows are in /4 units per downscale; rebase to the ds=1
        # window grid so the stack aligns (coarser factors cover the
        # same ground with the same key after rescaling)
        part = hist.select(
            (F.col("win_line") * ds).alias("win_line"),
            (F.col("win_sample") * ds).alias("win_sample"),
            "angle", "weight",
        ).withColumn("downscale", F.lit(ds))
        stacked = part if stacked is None else stacked.unionByName(part)
    mean_hist = stacked.groupBy("win_line", "win_sample", "angle").agg(
        F.avg("weight").alias("weight"))
    start = float(-__import__("numpy").pi / 2
                  + (__import__("numpy").pi / 72) / 2.0)
    bstep = float(__import__("numpy").pi / 72)
    dense = mean_hist.withColumn(
        "angle_idx",
        F.expr(f"CAST(FLOOR((angle - ({start!r})) / ({bstep!r}) + 5e-1)"
               " AS INT)"),
    )
    return streak_direction(dense, n_angles=72)


# ----------------------------------------------------------------------
# EXACT oracle for the stencil pyramid: every convolution is emitted
# as fixed-tap-order join+sum SQL that mirrors _correlate2's
# accumulation order term by term (all kernel weights are dyadic, so
# products are exactly rounded identically in both engines; additions
# happen in the same order) — no quantization needed.
# ----------------------------------------------------------------------

from xsarsea_spark.operators.gradients import B2 as _B2K  # noqa: E402
from xsarsea_spark.operators.gradients import B4 as _B4K  # noqa: E402
from xsarsea_spark.operators.gradients import SCHARR_X as _SXK  # noqa: E402
from xsarsea_spark.operators.gradients import SCHARR_Y as _SYK  # noqa: E402
from xsarsea_spark.suite.science import N_LINES as _NL  # noqa: E402
from xsarsea_spark.suite.science import N_SAMPLES as _NS  # noqa: E402


def _reflect(expr: str, n: int, mode: str) -> str:
    """Single-bounce boundary index mapping (reach << n)."""
    if mode == "symmetric":        # np.pad 'symmetric': -1 -> 0
        return (f"CASE WHEN ({expr}) < 0 THEN -({expr}) - 1 "
                f"WHEN ({expr}) >= {n} THEN {2 * n} - ({expr}) - 1 "
                f"ELSE ({expr}) END")
    # 'reflect' (cv2 BORDER_REFLECT_101): -1 -> 1
    return (f"CASE WHEN ({expr}) < 0 THEN -({expr}) "
            f"WHEN ({expr}) >= {n} THEN {2 * n} - ({expr}) - 2 "
            f"ELSE ({expr}) END")


def _taps(kernel) -> list:
    """(di, dj, w) in _correlate2's accumulation order."""
    kh, kw = kernel.shape
    out = []
    for i in range(kh):
        for j in range(kw):
            w = float(kernel[i, j])
            if w != 0.0:
                out.append((i - kh // 2, j - kw // 2, w))
    return out


def _conv_cte(name, src, nl, ns, kernels: dict, mode: str) -> str:
    """One CTE joining src once per tap position; each output column
    is a fixed-order weighted sum over its kernel's taps."""
    positions = []
    for taps in kernels.values():
        for (di, dj, _w) in taps:
            if (di, dj) not in positions:
                positions.append((di, dj))
    joins = []
    alias = {}
    for k, (di, dj) in enumerate(positions):
        alias[(di, dj)] = f"t{k}"
        joins.append(
            f"JOIN {src} t{k} ON t{k}.l ="
            f" {_reflect(f'g.l + {di}', nl, mode)}"
            f" AND t{k}.s = {_reflect(f'g.s + {dj}', ns, mode)}"
        )
    cols = []
    for out_col, taps in kernels.items():
        src_col = out_col.split(":")[1] if ":" in out_col else "v"
        out_name = out_col.split(":")[0]
        terms = " + ".join(
            f"{double_lit(w)} * {alias[(di, dj)]}.{src_col}"
            for (di, dj, w) in taps)
        cols.append(f"{terms} AS {out_name}")
    return (
        f"{name} AS MATERIALIZED (\n  SELECT g.l, g.s, {', '.join(cols)}\n"
        f"  FROM (SELECT a.range AS l, b.range AS s FROM range({nl}) a"
        f" CROSS JOIN range({ns}) b) g\n  " + "\n  ".join(joins) + ")"
    )


def _coarsen_cte(name, src, nl2, ns2, cols: list) -> str:
    """(v(2l,2s) + v(2l,2s+1) + v(2l+1,2s) + v(2l+1,2s+1)) / 4."""
    joins = [
        f"JOIN {src} t0 ON t0.l = 2 * g.l     AND t0.s = 2 * g.s",
        f"JOIN {src} t1 ON t1.l = 2 * g.l     AND t1.s = 2 * g.s + 1",
        f"JOIN {src} t2 ON t2.l = 2 * g.l + 1 AND t2.s = 2 * g.s",
        f"JOIN {src} t3 ON t3.l = 2 * g.l + 1 AND t3.s = 2 * g.s + 1",
    ]
    exprs = [f"(t0.{c} + t1.{c} + t2.{c} + t3.{c}) / 4e0 AS {c}"
             for c in cols]
    return (
        f"{name} AS MATERIALIZED (\n  SELECT g.l, g.s, {', '.join(exprs)}\n"
        f"  FROM (SELECT a.range AS l, b.range AS s FROM range({nl2}) a"
        f" CROSS JOIN range({ns2}) b) g\n  " + "\n  ".join(joins) + ")"
    )


def _pyramid_parts(p: str, nl: int, ns: int) -> list:
    """CTE chain for the stencil pyramid over an existing image CTE
    ``{p}img(l, s, v)`` of shape (nl, ns). The final CTE ``{p}lg``
    carries (line4, sample4, line, sample, g2_re, g2_im, g3, c) at
    1/4 resolution — the exact column set ``local_gradients``
    returns."""
    nl2, ns2 = nl // 2, ns // 2
    nl4, ns4 = nl2 // 2, ns2 // 2
    b2 = _taps(_B2K)
    b4 = _taps(_B4K)
    sx = _taps(_SXK)
    sy = _taps(_SYK)
    return [
        _conv_cte(f"{p}r2a_pre", f"{p}img", nl, ns, {"v": b4},
                  "symmetric"),
        _coarsen_cte(f"{p}r2a_coar", f"{p}r2a_pre", nl2, ns2, ["v"]),
        _conv_cte(f"{p}r2a", f"{p}r2a_coar", nl2, ns2, {"v": b2},
                  "symmetric"),
        f"{p}ampl AS MATERIALIZED (SELECT l, s, sqrt(v) AS v FROM {p}r2a)",
        _conv_cte(f"{p}grad", f"{p}ampl", nl2, ns2,
                  {"gx": sx, "gy": sy}, "reflect"),
        f"{p}g2 AS MATERIALIZED (SELECT l, s, gx * gx - gy * gy AS re,"
        f" 2e0 * (gx * gy) AS im FROM {p}grad)",
        f"{p}g2a AS MATERIALIZED (SELECT l, s, re, im,"
        f" sqrt(re * re + im * im) AS ab FROM {p}g2)",
        _conv_cte(f"{p}r2b_pre", f"{p}g2a", nl2, ns2,
                  {"re:re": b4, "im:im": b4, "ab:ab": b4}, "symmetric"),
        _coarsen_cte(f"{p}r2b_coar", f"{p}r2b_pre", nl4, ns4,
                     ["re", "im", "ab"]),
        _conv_cte(f"{p}r2b", f"{p}r2b_coar", nl4, ns4,
                  {"re:re": b2, "im:im": b2, "ab:ab": b2}, "symmetric"),
        f"{p}fin AS MATERIALIZED (SELECT l, s, re, im, ab,"
        f" sqrt(re * re + im * im) AS r FROM {p}r2b)",
        f"""{p}lg AS MATERIALIZED (
SELECT l AS line4, s AS sample4,
  4e0 * l + 1.5e0 AS line, 4e0 * s + 1.5e0 AS sample,
  sqrt((r + re) / 2e0) AS g2_re,
  (CASE WHEN im >= 0e0 THEN 1e0 ELSE -1e0 END)
    * sqrt(GREATEST((r - re) / 2e0, 0e0)) AS g2_im,
  ab AS g3,
  CASE WHEN r / (ab + {double_lit(0.00001)}) <= 1e0
       THEN r / (ab + {double_lit(0.00001)}) ELSE 0e0 END AS c
FROM {p}fin)""",
    ]


def _lg_exact_oracle() -> str:
    parts = [
        f"img AS MATERIALIZED (SELECT line AS l, sample AS s, sigma0 AS v FROM"
        f" ({scene_sql(['sigma0'])}))",
    ] + _pyramid_parts("", _NL, _NS)
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT line4, sample4, line, sample, g2_re, g2_im, g3, c"
          " FROM lg"
    )


# upgrade the rows-only pyramid spec to a full oracle
REGISTRY = __import__("xsarsea_spark.suite.base",
                      fromlist=["REGISTRY"]).REGISTRY
REGISTRY["local_gradients_pyramid"].oracle = _lg_exact_oracle()
REGISTRY["local_gradients_pyramid"].description = (
    "Fused tile+halo stencil pyramid (R2 -> sqrt -> Scharr -> complex "
    "square -> R2 -> quality) — EXACT oracle: every convolution "
    "emitted as fixed-tap-order join+sum SQL mirroring the kernel's "
    "accumulation order (dyadic weights, no quantization)")


# ----------------------------------------------------------------------
# EXACT oracle for the full multi-scale streaks chain: per downscale,
# fixed-order block mean -> pyramid CTEs (_pyramid_parts) -> windowed
# histogram (window=8, step=8 on /4 indices) -> rebase + stack ->
# mean (<=2 addends, commutative-exact) -> circular smooth -> peak.
# ----------------------------------------------------------------------

def _sf_hist_ctes(p: str) -> list:
    k_expr = (f"CAST(LEAST(GREATEST(FLOOR((atan2(g2_im, g2_re) -"
              f" ({double_lit(_GH_START)}))"
              f" / ({double_lit(_GH_BSTEP)}) + 5e-1),"
              f" 0), 71) AS INT)")
    return [
        f"""{p}w AS MATERIALIZED (
  SELECT g2_re, g2_im, c,
    sqrt(g2_re * g2_re + g2_im * g2_im) AS abs_g2,
    CAST(FLOOR(line4 / 8) AS BIGINT) AS wl,
    CAST(FLOOR(sample4 / 8) AS BIGINT) AS ws
  FROM {p}lg)""",
        f"""{p}v AS MATERIALIZED (
  SELECT * FROM {p}w WHERE NOT isnan(abs_g2) AND abs_g2 > 0e0)""",
        f"""{p}meds AS MATERIALIZED (
  SELECT wl, ws, median(abs_g2) AS med FROM {p}v GROUP BY wl, ws)""",
        f"""{p}hist AS MATERIALIZED (
  SELECT wl, ws, {k_expr} AS k,
    {DSUM('(abs_g2 / (abs_g2 + med)) * c', 9)} / 64e0 AS weight
  FROM {p}v JOIN {p}meds USING (wl, ws)
  GROUP BY 1, 2, 3)""",
    ]


def _streaks_full_oracle() -> str:
    nl2, ns2 = _NL // 2, _NS // 2
    cell = ("MAX(CASE WHEN line % 2 = {dl} AND sample % 2 = {dsm}"
            " THEN sigma0 END)")
    block = " + ".join(cell.format(dl=dl, dsm=dsm)
                       for dl in (0, 1) for dsm in (0, 1))
    parts = [
        f"scene AS MATERIALIZED ({scene_sql(['sigma0'])})",
        "d1_img AS MATERIALIZED (SELECT line AS l, sample AS s,"
        " sigma0 AS v FROM scene)",
        f"""d2_img AS MATERIALIZED (
  SELECT CAST(FLOOR(line / 2) AS BIGINT) AS l,
    CAST(FLOOR(sample / 2) AS BIGINT) AS s,
    ({block}) / 4e0 AS v
  FROM scene GROUP BY 1, 2)""",
    ]
    parts += _pyramid_parts("d1_", _NL, _NS)
    parts += _pyramid_parts("d2_", nl2, ns2)
    parts += _sf_hist_ctes("d1_")
    parts += _sf_hist_ctes("d2_")
    ang = f"({double_lit(_GH_START)}) + k * ({double_lit(_GH_BSTEP)})"
    parts += [
        f"""stacked AS MATERIALIZED (
  SELECT wl AS win_line, ws AS win_sample, {ang} AS angle, weight
  FROM d1_hist
  UNION ALL
  SELECT wl * 2, ws * 2, {ang}, weight FROM d2_hist)""",
        """mh AS MATERIALIZED (
  SELECT win_line, win_sample, angle,
    SUM(weight) / COUNT(weight) AS weight
  FROM stacked GROUP BY 1, 2, 3)""",
        f"""dense AS MATERIALIZED (
  SELECT win_line, win_sample,
    CAST(FLOOR((angle - ({double_lit(_GH_START)})) / ({double_lit(_GH_BSTEP)})
         + 5e-1) AS INT) AS angle_idx,
    weight
  FROM mh)""",
        f"taps AS (SELECT * FROM (VALUES {_sd_taps_values()}) t(d, tapw))",
        f"""sm AS MATERIALIZED (
  SELECT win_line, win_sample,
    (((angle_idx + d) % 72) + 72) % 72 AS bin,
    {DSUM('weight * tapw', 9)} AS wsm
  FROM dense CROSS JOIN taps
  GROUP BY 1, 2, 3)""",
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT win_line, win_sample,
  ({double_lit(_GH_START)}) + bin * ({double_lit(_GH_BSTEP)}) AS streak_angle,
  wsm AS peak_weight
FROM sm
QUALIFY row_number() OVER (
  PARTITION BY win_line, win_sample ORDER BY wsm DESC, bin ASC) = 1
""")


REGISTRY["streaks_full"].oracle = _streaks_full_oracle()
REGISTRY["streaks_full"].description = (
    "End-to-end wind-streak chain over (downscale 1,2): fixed-order "
    "block resample, fused stencil pyramid, windowed histogram, stack "
    "mean, circ smooth, argmax peak — EXACT oracle composed from the "
    "fixed-tap-order convolution SQL, exact percentile medians and "
    "DECIMAL bin sums")


# ----------------------------------------------------------------------
# EXACT oracle for the rain/texture mask (Zhao-2021 chain): sqrt ->
# R2 -> {local std/mean, high-pass vs zoomed smooth} on /2, pyramid
# g3/c -> gradient contrast on /4, clipped fusions — every stage
# mirrors filtering_parameters_numpy's op order term by term. The
# bilinear zoom is a 4-tap position-mapped join with the same
# clamped (i - 0.5) / 2 coordinate mapping.
# ----------------------------------------------------------------------

from xsarsea_spark.operators.gradients import B42 as _B42K  # noqa: E402


def _zoom2_cte(name: str, src: str, nlo: int, nso: int,
               nli: int, nsi: int) -> str:
    """Factor-2 bilinear upsample CTE: out (nlo x nso) from src
    (nli x nsi), zoom2_numpy's clamped shift-invariant mapping."""
    y0 = (f"LEAST(GREATEST(CAST(FLOOR((g.l - 5e-1) / 2e0) AS BIGINT),"
          f" 0), {nli - 2})")
    x0 = (f"LEAST(GREATEST(CAST(FLOOR((g.s - 5e-1) / 2e0) AS BIGINT),"
          f" 0), {nsi - 2})")
    fy = (f"LEAST(GREATEST((g.l - 5e-1) / 2e0 - ({y0}), 0e0), 1e0)")
    fx = (f"LEAST(GREATEST((g.s - 5e-1) / 2e0 - ({x0}), 0e0), 1e0)")
    return f"""{name} AS MATERIALIZED (
  SELECT g.l, g.s,
    ta.v * (1e0 - ({fy})) * (1e0 - ({fx}))
    + tb.v * (1e0 - ({fy})) * ({fx})
    + tc.v * ({fy}) * (1e0 - ({fx}))
    + td.v * ({fy}) * ({fx}) AS v
  FROM (SELECT a.range AS l, b.range AS s FROM range({nlo}) a
        CROSS JOIN range({nso}) b) g
  JOIN {src} ta ON ta.l = {y0} AND ta.s = {x0}
  JOIN {src} tb ON tb.l = {y0} AND tb.s = ({x0}) + 1
  JOIN {src} tc ON tc.l = ({y0}) + 1 AND tc.s = {x0}
  JOIN {src} td ON td.l = ({y0}) + 1 AND td.s = ({x0}) + 1)"""


def _clip01(x: str) -> str:
    return f"LEAST(GREATEST({x}, 0e0), 1e0)"


def _rain_oracle() -> str:
    nl, ns = _NL, _NS
    nl2, ns2 = nl // 2, ns // 2
    nl4, ns4 = nl2 // 2, ns2 // 2
    b2, b4, b42 = _taps(_B2K), _taps(_B4K), _taps(_B42K)
    eps = double_lit(0.00001)
    parts = [
        f"scene AS MATERIALIZED ({scene_sql(['sigma0'])})",
        # image = sqrt(sigma0); the pyramid runs on the SAME image
        "fp2_img AS MATERIALIZED (SELECT line AS l, sample AS s,"
        " sqrt(sigma0) AS v FROM scene)",
        # r2 = R2(image) on the /2 grid
        _conv_cte("fr_pre", "fp2_img", nl, ns, {"v": b4}, "symmetric"),
        _coarsen_cte("fr_coar", "fr_pre", nl2, ns2, ["v"]),
        _conv_cte("fr_r2", "fr_coar", nl2, ns2, {"v": b2}, "symmetric"),
        # j = Mean(r2), j1 = Mean(r2^2): B4 then dilated B42
        _conv_cte("fj_a", "fr_r2", nl2, ns2, {"v": b4}, "symmetric"),
        _conv_cte("fj", "fj_a", nl2, ns2, {"v": b42}, "symmetric"),
        "fr_sq AS MATERIALIZED (SELECT l, s, v * v AS v FROM fr_r2)",
        _conv_cte("fj1_a", "fr_sq", nl2, ns2, {"v": b4}, "symmetric"),
        _conv_cte("fj1", "fj1_a", nl2, ns2, {"v": b42}, "symmetric"),
        # P2 ingredients: coarsen r2, smooth, zoom back to /2
        _coarsen_cte("fsm_coar", "fr_r2", nl4, ns4, ["v"]),
        _conv_cte("fsm", "fsm_coar", nl4, ns4, {"v": b2}, "symmetric"),
        _zoom2_cte("fzoom", "fsm", nl2, ns2, nl4, ns4),
    ]
    # pyramid for g3 and c (on sqrt image)
    parts += _pyramid_parts("fp2_", nl, ns)
    parts += [
        # g4 = Mean(g3) on the /4 grid
        "fg3 AS MATERIALIZED (SELECT line4 AS l, sample4 AS s, g3 AS v"
        " FROM fp2_lg)",
        _conv_cte("fg4_a", "fg3", nl4, ns4, {"v": b4}, "symmetric"),
        _conv_cte("fg4", "fg4_a", nl4, ns4, {"v": b42}, "symmetric"),
        # /2-grid fusions f1, f2
        f"""ff12 AS MATERIALIZED (
  SELECT r.l, r.s,
    {_clip01(f"-5e1 * (sqrt(GREATEST(j1.v - j.v * j.v, 0e0))"
             f" / (j.v + {eps})) + 2.75e0")} AS f1,
    {_clip01(f"-5e3 * (((r.v - z.v) * (r.v - z.v))"
             f" / ((j.v * j.v) + {eps})) + 3e0")} AS f2
  FROM fr_r2 r
  JOIN fj j ON j.l = r.l AND j.s = r.s
  JOIN fj1 j1 ON j1.l = r.l AND j1.s = r.s
  JOIN fzoom z ON z.l = r.l AND z.s = r.s)""",
        _coarsen_cte("ff1d", "ff12", nl4, ns4, ["f1", "f2"]),
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT g.line4, g.sample4, d.f1, d.f2,
  {_clip01(f"-2.5e0 * (g.g3 / (g4.v + {eps})) + 4e0")} AS f3,
  {_clip01("-1e1 * sqrt(g.c) + 6.3e0")} AS f4,
  sqrt(25e-2 * (d.f1 * d.f1 + d.f2 * d.f2
    + ({_clip01(f"-2.5e0 * (g.g3 / (g4.v + {eps})) + 4e0")})
      * ({_clip01(f"-2.5e0 * (g.g3 / (g4.v + {eps})) + 4e0")})
    + ({_clip01("-1e1 * sqrt(g.c) + 6.3e0")})
      * ({_clip01("-1e1 * sqrt(g.c) + 6.3e0")}))) AS F
FROM fp2_lg g
JOIN fg4 g4 ON g4.l = g.line4 AND g4.s = g.sample4
JOIN ff1d d ON d.l = g.line4 AND d.s = g.sample4
""")


REGISTRY["rain_mask_filtering"].oracle = _rain_oracle()
REGISTRY["rain_mask_filtering"].description = (
    "Zhao-2021 rain/texture mask (local std/mean, high-pass vs zoomed "
    "smooth, gradient contrast, quality) — ONE fused tile+halo pass; "
    "EXACT composed oracle incl. a 4-tap position-mapped bilinear "
    "zoom join")
