"""Wind-streak gradients pillar (Koch 2004 multi-scale histogram method).

Parity targets (xsarsea ``gradients.py``):

- ``local_gradients`` (588-634): Scharr x/y -> complex square -> R2
  half-size reduce -> quality index ``c``;
- ``convolve2d`` / ``smoothing`` / ``R2`` (637-721): B2/B4 smoothing
  with symmetric boundary, anti-moire half-size reduction;
- ``gradient_histogram`` (828-879): per-window weighted angular
  histogram (median-normalized weights, 72 bins over [-pi/2, pi/2));
- ``circ_smooth`` (882-923): circular smoothing with Bx/Bx2/Bx4/Bx8;
- ``Gradients2D.histogram`` (88-125): windowing + normalization.

Spark-first physical design (SURVEY.md §2.5):

- The stencil pyramid (Scharr, B2/B4, R2) is ONE fused
  ``applyInPandas`` pass over **tiles with halo** — the Spark analog of
  dask's ``map_overlap`` (reference ``gradients.py:655-667``): each
  tile is shipped with ``halo`` extra pixels per side, the whole
  NumPy chain runs per tile, and only interior output pixels are
  emitted. One shuffle per scene regardless of pyramid depth.
- The windowed histogram is a pure built-in two-pass aggregation:
  ``percentile(|G2|, 0.5)`` per window, then an exact-DECIMAL weighted
  bin sum — no UDF.
- ``circ_smooth`` composes the four reference kernels into a single
  31-tap circular kernel (convolution is associative) and applies it
  as one modular self-join — pure built-ins.

Determinism: all convolution weights are dyadic rationals (exactly
representable), accumulation is in fixed tap order, so results are
bit-stable under re-partitioning; the histogram bin index uses
``floor(t + 0.5)`` (round-half-up) instead of NumPy's
round-half-to-even — they differ only for angles exactly on a bin
edge, a measure-zero set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "local_gradients",
    "local_gradients_numpy",
    "gradient_histogram",
    "circ_smooth",
    "streak_direction",
    "B2", "B4", "SCHARR_X", "SCHARR_Y", "CIRC_KERNEL",
]


def _dlit(v: float) -> str:
    """Double literal, exponent form (DOUBLE in Spark and DuckDB)."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "e0"

# ----------------------------------------------------------------------
# Kernels (all dyadic -> exact float weights)
# ----------------------------------------------------------------------

B2 = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64) / 16.0


def _conv_full(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    out = np.zeros((a.shape[0] + b.shape[0] - 1,
                    a.shape[1] + b.shape[1] - 1))
    for i in range(a.shape[0]):
        for j in range(a.shape[1]):
            out[i:i + b.shape[0], j:j + b.shape[1]] += a[i, j] * b
    return out


B4 = _conv_full(B2, B2)          # 5x5, B2*B2 (gradients.py:707)

# cv2.Scharr correlation kernels (dx=1: derivative along sample axis)
SCHARR_X = np.array([[-3, 0, 3], [-10, 0, 10], [-3, 0, 3]],
                    dtype=np.float64)
SCHARR_Y = SCHARR_X.T.copy()


def _compose_circ_kernel() -> np.ndarray:
    """Bx * Bx2 * Bx4 * Bx8 composed into one 31-tap kernel
    (gradients.py:898-903; convolution is associative)."""
    bx = np.array([1, 2, 1], float) / 4
    bx2 = np.array([1, 0, 2, 0, 1], float) / 4
    bx4 = np.array([1, 0, 0, 0, 2, 0, 0, 0, 1], float) / 4
    bx8 = np.zeros(17)
    bx8[[0, 8, 16]] = np.array([1, 2, 1]) / 4
    k = bx
    for b in (bx2, bx4, bx8):
        k = np.convolve(k, b)
    return k


CIRC_KERNEL = _compose_circ_kernel()        # length 31, sums to 1


# ----------------------------------------------------------------------
# NumPy stencil chain (shared by the tile kernel and by tests)
# ----------------------------------------------------------------------

def _correlate2(arr: np.ndarray, kernel: np.ndarray,
                pad_mode: str) -> np.ndarray:
    """Fixed-tap-order 2-D correlation, 'same' output size."""
    kh, kw = kernel.shape
    rh, rw = kh // 2, kw // 2
    p = np.pad(arr, ((rh, rh), (rw, rw)), mode=pad_mode)
    out = np.zeros_like(arr)
    h, w = arr.shape
    for i in range(kh):
        for j in range(kw):
            wgt = kernel[i, j]
            if wgt != 0.0:
                out = out + wgt * p[i:i + h, j:j + w]
    return out


def _coarsen2(arr: np.ndarray) -> np.ndarray:
    """2x2 block mean, 'trim' boundary, fixed add order."""
    h, w = (arr.shape[0] // 2) * 2, (arr.shape[1] // 2) * 2
    a = arr[:h, :w]
    return (a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2]
            + a[1::2, 1::2]) / 4.0


def _r2(arr: np.ndarray) -> np.ndarray:
    """Anti-moire half-size reduce (gradients.py:689-721).

    The reference normalizes by conv2d(ones, B, boundary='symm'), which
    is identically 1.0 for unit-sum kernels — skipped here.
    """
    pre = _correlate2(arr, B4, "symmetric")
    red = _coarsen2(pre)
    return _correlate2(red, B2, "symmetric")


def local_gradients_numpy(sigma0: np.ndarray) -> dict:
    """Full-image reference chain (gradients.py:588-634 + i2/ampl of
    Gradients2D, gradients.py:132-140). Returns /4-resolution arrays."""
    i2 = _r2(sigma0)
    # R2 output can go negative under NaN propagation; sqrt(neg) -> NaN
    # is the wanted semantics — scope the errstate so the expected NaNs
    # don't spam RuntimeWarnings into the bench stdout tail
    with np.errstate(invalid="ignore"):
        ampl = np.sqrt(i2)
    # cv2.Scharr uses BORDER_REFLECT_101 ('reflect' in np.pad terms)
    gx = _correlate2(ampl, SCHARR_X, "reflect")
    gy = _correlate2(ampl, SCHARR_Y, "reflect")
    g2_re = gx * gx - gy * gy
    g2_im = 2.0 * (gx * gy)
    abs_g2 = np.sqrt(g2_re * g2_re + g2_im * g2_im)
    G2_re = _r2(g2_re)
    G2_im = _r2(g2_im)
    g3 = _r2(abs_g2)
    c = np.sqrt(G2_re * G2_re + G2_im * G2_im) / (g3 + 0.00001)
    c = np.where(c <= 1.0, c, 0.0)
    # principal complex sqrt of G2 (angles fold into [-pi/2, pi/2])
    r = np.sqrt(G2_re * G2_re + G2_im * G2_im)
    sr = np.sqrt((r + G2_re) / 2.0)
    si = np.where(G2_im >= 0.0, 1.0, -1.0) * np.sqrt(
        np.maximum((r - G2_re) / 2.0, 0.0)
    )
    return {"g2_re": sr, "g2_im": si, "g3": g3, "c": c}


# ----------------------------------------------------------------------
# Tile + halo distributed execution
# ----------------------------------------------------------------------

_LG_SCHEMA = T.StructType([
    T.StructField("line4", T.LongType()),
    T.StructField("sample4", T.LongType()),
    T.StructField("line", T.DoubleType()),
    T.StructField("sample", T.DoubleType()),
    T.StructField("g2_re", T.DoubleType()),
    T.StructField("g2_im", T.DoubleType()),
    T.StructField("g3", T.DoubleType()),
    T.StructField("c", T.DoubleType()),
])


def _with_halo_tiles(px: DataFrame, line_col: str, sample_col: str,
                     tile: int, halo: int) -> DataFrame:
    """Replicate each pixel into every tile whose halo region covers it
    (at most 4 copies for halo < tile) — the shuffle that implements
    halo exchange."""
    out = px
    for dim, col in (("l", line_col), ("s", sample_col)):
        t0 = F.floor(F.col(col) / tile)
        in_lo = (F.col(col) % tile) < halo
        in_hi = (F.col(col) % tile) >= (tile - halo)
        opts = F.array(
            t0.cast("long"),
            F.when(in_lo, (t0 - 1).cast("long")),
            F.when(in_hi, (t0 + 1).cast("long")),
        )
        out = out.withColumn(
            f"__t{dim}", F.explode(F.filter(opts, lambda x: x.isNotNull()))
        ).filter(F.col(f"__t{dim}") >= 0)
    return out


def local_gradients(
    px: DataFrame,
    n_lines: int,
    n_samples: int,
    value_col: str = "sigma0",
    line_col: str = "line",
    sample_col: str = "sample",
    tile: int | None = None,
    halo: int | None = None,
) -> DataFrame:
    """Distributed local_gradients: the full stencil pyramid as ONE
    tile+halo ``applyInPandas`` pass.

    Returns (line4, sample4, line, sample, g2_re, g2_im, g3, c) at 1/4
    the input resolution; ``line``/``sample`` are the block-mean
    coordinates (4*i + 1.5), matching the reference's coarsened coords.

    ``tile`` and ``halo`` must be multiples of 4 so per-tile coarsening
    aligns with the global grid. ``halo`` >= 18 covers the pyramid's
    total stencil reach (B4+coarsen+B2 twice + Scharr), so 20 is the
    minimum valid multiple of 4 — and the default: halo pixels are
    pure replication overhead (each shrinks the interior share of
    every shipped tile), and 20 measures ~20% faster than the old 32
    while remaining bit-exact (pytest-pinned vs halo=32 and the
    whole-image NumPy twin). Defaults read from
    ``spark.xsarsea.gradients.{tile,halo}`` (512/20) so a cluster
    deployment can size tiles to executor memory without code edits.
    """
    from xsarsea_spark.engine import get_conf_int
    if tile is None:
        tile = get_conf_int(px.sparkSession,
                            "spark.xsarsea.gradients.tile", 512)
    if halo is None:
        halo = get_conf_int(px.sparkSession,
                            "spark.xsarsea.gradients.halo", 20)
    if tile % 4 or halo % 4:
        raise ValueError("tile and halo must be multiples of 4")
    work = _with_halo_tiles(
        px.select(line_col, sample_col, value_col),
        line_col, sample_col, tile, halo,
    )

    out_l_max = (n_lines // 2) // 2
    out_s_max = (n_samples // 2) // 2

    def run(key, pdf):
        tl, ts = int(key[0]), int(key[1])
        o_l = max(tl * tile - halo, 0)
        o_s = max(ts * tile - halo, 0)
        e_l = min((tl + 1) * tile + halo, n_lines)
        e_s = min((ts + 1) * tile + halo, n_samples)
        if tl * tile >= n_lines or ts * tile >= n_samples:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="float64") for f in _LG_SCHEMA})
        arr = np.full((e_l - o_l, e_s - o_s), np.nan)
        li = pdf[line_col].to_numpy(dtype=np.int64) - o_l
        si = pdf[sample_col].to_numpy(dtype=np.int64) - o_s
        arr[li, si] = pdf[value_col].to_numpy(dtype=np.float64)
        res = local_gradients_numpy(arr)
        # interior /4-grid output range for this tile
        lo4_l = (tl * tile) // 4
        lo4_s = (ts * tile) // 4
        hi4_l = min(((tl + 1) * tile) // 4, out_l_max)
        hi4_s = min(((ts + 1) * tile) // 4, out_s_max)
        if hi4_l <= lo4_l or hi4_s <= lo4_s:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="float64") for f in _LG_SCHEMA})
        # local /4 indices of the interior block
        a_l, a_s = lo4_l - o_l // 4, lo4_s - o_s // 4
        b_l, b_s = a_l + (hi4_l - lo4_l), a_s + (hi4_s - lo4_s)
        l4, s4 = np.meshgrid(np.arange(lo4_l, hi4_l),
                             np.arange(lo4_s, hi4_s), indexing="ij")
        out = {
            "line4": l4.ravel(), "sample4": s4.ravel(),
            "line": (4.0 * l4 + 1.5).ravel(),
            "sample": (4.0 * s4 + 1.5).ravel(),
        }
        for k in ("g2_re", "g2_im", "g3", "c"):
            out[k] = res[k][a_l:b_l, a_s:b_s].ravel()
        return pd.DataFrame(out)

    return work.groupBy("__tl", "__ts").applyInPandas(run, schema=_LG_SCHEMA)


# ----------------------------------------------------------------------
# Windowed weighted direction histogram (pure built-ins, two-pass)
# ----------------------------------------------------------------------

def gradient_histogram(
    lg: DataFrame,
    window: int,
    step: int | None = None,
    n_angles: int = 72,
    line_col: str = "line4",
    sample_col: str = "sample4",
) -> DataFrame:
    """Per-window weighted angular histogram (gradients.py:828-879).

    ``lg`` carries (line4, sample4, g2_re, g2_im, c). Windows are
    ``window`` x ``window`` pixels stepped by ``step`` (default:
    non-overlapping). Overlapping windows are handled by exploding each
    pixel to all covering windows (<= ceil(window/step)^2 copies) and
    aggregating by window key — no materialized rolling dimension.

    Returns (win_line, win_sample, angle, weight, used_ratio): weight
    is the median-normalized quality-weighted bin sum divided by the
    window pixel count; used_ratio the valid-pixel fraction.
    """
    step = step or window
    ncand = -(-window // step)          # ceil
    cand = F.array(*[F.lit(i) for i in range(ncand)])

    # explode once per dim: pixel -> every covering window
    w = lg.withColumn("__kl", F.explode(cand)).withColumn(
        "__wl", (F.floor(F.col(line_col) / step) - F.col("__kl")).cast("long")
    ).filter(
        (F.col("__wl") >= 0)
        & (F.col(line_col) < F.col("__wl") * step + window)
    )
    w = w.withColumn("__ks", F.explode(cand)).withColumn(
        "__ws",
        (F.floor(F.col(sample_col) / step) - F.col("__ks")).cast("long"),
    ).filter(
        (F.col("__ws") >= 0)
        & (F.col(sample_col) < F.col("__ws") * step + window)
    )

    w = w.withColumn(
        "__abs_g2",
        F.expr("sqrt(g2_re * g2_re + g2_im * g2_im)"),
    ).withColumn(
        "__valid",
        F.expr("NOT isnan(__abs_g2) AND __abs_g2 > 0e0"),
    ).withColumn("__angle", F.expr("atan2(g2_im, g2_re)"))

    meds = (
        w.filter("__valid")
        .groupBy("__wl", "__ws")
        .agg(F.expr("percentile(__abs_g2, 0.5e0)").alias("__med"),
             F.count(F.lit(1)).alias("__nvalid"))
    )
    window_pixels = float(window * window)
    start = float(-np.pi / 2 + (np.pi / n_angles) / 2.0)
    bstep = float(np.pi / n_angles)

    binned = (
        w.filter("__valid")
        .join(meds, on=["__wl", "__ws"], how="inner")
        .withColumn(
            "__k",
            F.expr(
                f"CAST(LEAST(GREATEST(FLOOR((__angle - ({_dlit(start)}))"
                f" / ({_dlit(bstep)}) + 5e-1), 0), {n_angles - 1}) AS INT)"
            ),
        )
        .withColumn(
            "__w", F.expr("(__abs_g2 / (__abs_g2 + __med)) * c")
        )
    )
    from xsarsea_spark.suite.base import DSUM

    hist = binned.groupBy("__wl", "__ws", "__k").agg(
        F.expr(DSUM("__w", 9)).alias("__wsum"),
        F.first("__nvalid").alias("__nvalid"),
    )
    return hist.select(
        F.col("__wl").alias("win_line"),
        F.col("__ws").alias("win_sample"),
        (F.lit(start) + F.col("__k") * F.lit(bstep)).alias("angle"),
        (F.col("__wsum") / F.lit(window_pixels)).alias("weight"),
        (F.col("__nvalid") / F.lit(window_pixels)).alias("used_ratio"),
    )


def circ_smooth(hist: DataFrame, n_angles: int = 72,
                key_cols: tuple = ("win_line", "win_sample"),
                bin_col: str = "angle_idx",
                weight_col: str = "weight") -> DataFrame:
    """Circular histogram smoothing (gradients.py:882-923) as ONE
    modular self-join with the composed 31-tap kernel.

    ``hist`` must carry an integer bin column ``bin_col`` in
    [0, n_angles); missing bins are treated as weight 0 (dense input
    recommended). Returns the same keys + bin with smoothed weight.
    """
    taps = [(i - len(CIRC_KERNEL) // 2, float(wv))
            for i, wv in enumerate(CIRC_KERNEL) if wv != 0.0]
    tap_df = hist.sparkSession.createDataFrame(
        [(d, wv) for d, wv in taps], schema="__d INT, __tapw DOUBLE"
    )
    from xsarsea_spark.suite.base import DSUM

    j = hist.crossJoin(F.broadcast(tap_df)).withColumn(
        "__dst",
        ((F.col(bin_col) + F.col("__d")) % n_angles + n_angles) % n_angles,
    )
    out = j.groupBy(*key_cols, "__dst").agg(
        F.expr(DSUM(f"{weight_col} * __tapw", 9)).alias(weight_col)
    )
    return out.withColumnRenamed("__dst", bin_col)


def streak_direction(hist: DataFrame, n_angles: int = 72,
                     key_cols: tuple = ("win_line", "win_sample"),
                     bin_col: str = "angle_idx",
                     weight_col: str = "weight") -> DataFrame:
    """Histogram peak per window (argmax over bins — gradients.py:421-424)
    after circular smoothing; deterministic tie-break on bin index."""
    sm = circ_smooth(hist, n_angles=n_angles, key_cols=key_cols,
                     bin_col=bin_col, weight_col=weight_col)
    from pyspark.sql.window import Window

    win = Window.partitionBy(*key_cols).orderBy(
        F.col(weight_col).desc(), F.col(bin_col).asc()
    )
    start = float(-np.pi / 2 + (np.pi / n_angles) / 2.0)
    bstep = float(np.pi / n_angles)
    return (
        sm.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(
            *key_cols,
            (F.lit(start) + F.col(bin_col) * F.lit(bstep)).alias(
                "streak_angle"),
            F.col(weight_col).alias("peak_weight"),
        )
    )


# ----------------------------------------------------------------------
# Rain/texture mask (Zhao 2021): Mean operator, bilinear zoom,
# filtering_parameters (gradients.py:724-825)
# ----------------------------------------------------------------------

B22 = np.array(
    [[1, 0, 2, 0, 1], [0, 0, 0, 0, 0], [2, 0, 4, 0, 2],
     [0, 0, 0, 0, 0], [1, 0, 2, 0, 1]], dtype=np.float64) / 16.0
B42 = _conv_full(B22, B22)       # 9x9 dilated smoother


def mean_operator_numpy(arr: np.ndarray) -> np.ndarray:
    """Local Mean operator (gradients.py:724-755): B4 smooth then the
    dilated B42 smooth; the reference's conv(ones)/renorm denominators
    are identically 1.0 for these unit-sum kernels."""
    return _correlate2(_correlate2(arr, B4, "symmetric"), B42, "symmetric")


def zoom2_numpy(arr: np.ndarray, out_shape: tuple) -> np.ndarray:
    """Factor-2 bilinear upsample (ndimage.zoom order=1 analog).

    Coordinate mapping is the coarsen-consistent, SHIFT-INVARIANT one:
    coarse cell j sits at fine coordinate 2j + 0.5, so fine pixel i
    reads coarse position (i - 0.5) / 2 (clamped at edges). Unlike
    ndimage.zoom's shape-dependent scaling, this mapping is local —
    which is what makes the operator tile-decomposable.
    """
    h, w = arr.shape
    oh, ow = out_shape
    yi = (np.arange(oh) - 0.5) / 2.0
    xi = (np.arange(ow) - 0.5) / 2.0
    y0 = np.clip(np.floor(yi).astype(np.int64), 0, h - 2)
    x0 = np.clip(np.floor(xi).astype(np.int64), 0, w - 2)
    fy = np.clip((yi - y0), 0.0, 1.0)[:, None]
    fx = np.clip((xi - x0), 0.0, 1.0)[None, :]
    a = arr[y0][:, x0]
    b = arr[y0][:, x0 + 1]
    c = arr[y0 + 1][:, x0]
    d = arr[y0 + 1][:, x0 + 1]
    return (a * (1 - fy) * (1 - fx) + b * (1 - fy) * fx
            + c * fy * (1 - fx) + d * fy * fx)


def filtering_parameters_numpy(sigma0: np.ndarray) -> dict:
    """Zhao 2021 rain/texture mask (gradients.py:758-825).

    Deviation from the reference: f1/f2 live on the /2 grid and f3/f4
    on the /4 grid there; combining them via xarray alignment yields an
    empty intersection (disjoint coordinate sets), so the reference's
    final F is degenerate. Here all four parameters are brought to the
    /4 grid (f1, f2 block-averaged down by 2) and combined there —
    same physics, well-defined output.
    """
    image = np.sqrt(sigma0)
    r2 = _r2(image)                      # /2 grid
    lg = local_gradients_numpy(image)    # /4 grid (g3, c)
    g3, c = lg["g3"], lg["c"]
    j = mean_operator_numpy(r2)

    # P1: local std / mean (on /2)
    j1 = mean_operator_numpy(r2 * r2)
    j2 = np.sqrt(np.maximum(j1 - j * j, 0.0))
    p1 = j2 / (j + 0.00001)

    # P2: high-pass residual vs smoothed half-res (on /2)
    resampl = _coarsen2(r2)
    sm = _correlate2(resampl, B2, "symmetric")
    k = r2 - zoom2_numpy(sm, r2.shape)
    p2 = (k * k) / ((j * j) + 0.00001)

    # P3: gradient-magnitude contrast (on /4)
    g4 = mean_operator_numpy(g3)
    p3 = g3 / (g4 + 0.00001)

    # P4: quality (on /4)
    p4 = np.sqrt(c)

    f1 = np.clip(-50.0 * p1 + 2.75, 0.0, 1.0)
    f2 = np.clip(-5000.0 * p2 + 3.0, 0.0, 1.0)
    f3 = np.clip(-2.5 * p3 + 4.0, 0.0, 1.0)
    f4 = np.clip(-10.0 * p4 + 6.3, 0.0, 1.0)

    # bring f1/f2 to the /4 grid and combine
    h4, w4 = f3.shape
    f1d = _coarsen2(f1)[:h4, :w4]
    f2d = _coarsen2(f2)[:h4, :w4]
    F = np.sqrt(0.25 * (f1d * f1d + f2d * f2d + f3 * f3 + f4 * f4))
    return {"f1": f1d, "f2": f2d, "f3": f3, "f4": f4, "F": F}


_FP_SCHEMA = T.StructType(
    [T.StructField("line4", T.LongType()),
     T.StructField("sample4", T.LongType())]
    + [T.StructField(k, T.DoubleType()) for k in
       ("f1", "f2", "f3", "f4", "F")]
)


def filtering_parameters(
    px: DataFrame,
    n_lines: int,
    n_samples: int,
    value_col: str = "sigma0",
    line_col: str = "line",
    sample_col: str = "sample",
    tile: int | None = None,
    halo: int | None = None,
) -> DataFrame:
    """Distributed rain/texture mask: the whole Zhao-2021 chain fused
    into ONE tile+halo applyInPandas pass (halo 48 covers the deepest
    stencil chain: R2 + Mean-of-G3 on the /4 grid). Defaults read from
    ``spark.xsarsea.rainmask.{tile,halo}`` (256/48)."""
    from xsarsea_spark.engine import get_conf_int
    if tile is None:
        tile = get_conf_int(px.sparkSession,
                            "spark.xsarsea.rainmask.tile", 256)
    if halo is None:
        halo = get_conf_int(px.sparkSession,
                            "spark.xsarsea.rainmask.halo", 48)
    if tile % 4 or halo % 4:
        raise ValueError("tile and halo must be multiples of 4")
    work = _with_halo_tiles(
        px.select(line_col, sample_col, value_col),
        line_col, sample_col, tile, halo,
    )
    out_l_max = (n_lines // 2) // 2
    out_s_max = (n_samples // 2) // 2

    def run(key, pdf):
        tl, ts = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {f.name: pd.Series(dtype="float64") for f in _FP_SCHEMA})
        if tl * tile >= n_lines or ts * tile >= n_samples:
            return empty
        o_l = max(tl * tile - halo, 0)
        o_s = max(ts * tile - halo, 0)
        e_l = min((tl + 1) * tile + halo, n_lines)
        e_s = min((ts + 1) * tile + halo, n_samples)
        arr = np.full((e_l - o_l, e_s - o_s), np.nan)
        li = pdf[line_col].to_numpy(dtype=np.int64) - o_l
        si = pdf[sample_col].to_numpy(dtype=np.int64) - o_s
        arr[li, si] = pdf[value_col].to_numpy(dtype=np.float64)
        res = filtering_parameters_numpy(arr)
        lo4_l, lo4_s = (tl * tile) // 4, (ts * tile) // 4
        hi4_l = min(((tl + 1) * tile) // 4, out_l_max)
        hi4_s = min(((ts + 1) * tile) // 4, out_s_max)
        if hi4_l <= lo4_l or hi4_s <= lo4_s:
            return empty
        a_l, a_s = lo4_l - o_l // 4, lo4_s - o_s // 4
        b_l, b_s = a_l + (hi4_l - lo4_l), a_s + (hi4_s - lo4_s)
        l4, s4 = np.meshgrid(np.arange(lo4_l, hi4_l),
                             np.arange(lo4_s, hi4_s), indexing="ij")
        out = {"line4": l4.ravel(), "sample4": s4.ravel()}
        for k in ("f1", "f2", "f3", "f4", "F"):
            out[k] = res[k][a_l:b_l, a_s:b_s].ravel()
        return pd.DataFrame(out)

    return work.groupBy("__tl", "__ts").applyInPandas(run, schema=_FP_SCHEMA)
