"""Regular-grid interpolation joins (the engine's LUT-lookup primitive).

Parity target: xsarsea ``models.py:331-335`` (``lut.interp(incidence=...,
wspd=..., phi=...)``) — N-D linear interpolation of scattered points
into a gridded LUT — and ``models.py:154-167`` (grid-to-grid regrid).

Spark-first physical pattern (SURVEY.md §4), scale-audited:

- ``interp_join`` — the LUT is pre-shifted ONCE into a corner-struct
  table (each base cell carries its 2^d corner values, built with a
  single bounded shuffle over the LUT), then the point table does ONE
  broadcast hash join + a fixed-order multilinear blend expression.
  No shuffle of the point table, one broadcast regardless of
  dimensionality (the naive per-corner formulation would broadcast the
  LUT 2^d times — a scale-killer at the reference's 4.5e7-row
  high-res copol LUT).
- ``interp_kernel`` — meant for LUTs too big to broadcast-join
  comfortably (> ~10^6 rows; no query calls it, and nothing switches
  to it by LUT size), a ``mapInPandas`` kernel with the LUT shipped once
  per executor as a SparkContext broadcast of NumPy arrays; inside a
  batch the multilinear blend is vectorized NumPy (np.interp-style).

The LUT DataFrame must carry integer index columns (``<dim>_idx``),
which :func:`xsarsea_spark.operators.lut.gmf_to_lut` generates for
free from ``spark.range``.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["GridAxis", "interp_join", "interp_kernel", "corner_struct_lut"]


class GridAxis:
    """One regular grid axis: x = x0 + i*step, i in [0, n)."""

    def __init__(self, name: str, x0: float, step: float, n: int):
        self.name, self.x0, self.step, self.n = name, float(x0), float(step), int(n)

    @property
    def hi(self) -> float:
        return self.x0 + (self.n - 1) * self.step


def corner_struct_lut(
    lut: DataFrame, axes: Sequence[GridAxis],
    value_col: "str | Sequence[str]",
) -> DataFrame:
    """Pre-shift the LUT so each base cell row carries its 2^d corner
    values (columns ``__v_0 .. __v_{2^d-1}``, corner bit j = +1 on axis
    j). One bounded shuffle over the LUT, done once per plan.

    ``value_col`` may be a list: every listed column rides the SAME
    explode + groupBy (corner columns ``__v_{c}__{name}``), so a
    multi-field LUT (e.g. u/v wind components) costs one shuffle and
    one downstream broadcast join total, not one per field."""
    multi = not isinstance(value_col, str)
    vcols = list(value_col) if multi else [value_col]
    d = len(axes)
    n_corners = 1 << d

    def vname(c: int, v: str) -> str:
        return f"__v_{c}__{v}" if multi else f"__v_{c}"

    # each cell k contributes its value(s) to every base cell k - bits(c)
    contrib = lut.select(
        F.explode(
            F.array(*[F.lit(c) for c in range(n_corners)])
        ).alias("__corner"),
        *[F.col(f"{ax.name}_idx") for ax in axes],
        *[F.col(v).alias(f"__v__{v}") for v in vcols],
    )
    base_cols = []
    cond = None
    for j, ax in enumerate(axes):
        bit = F.shiftright(F.col("__corner"), j).bitwiseAND(F.lit(1))
        b = (F.col(f"{ax.name}_idx") - bit).alias(f"__b_{ax.name}")
        base_cols.append(b)
        c = (F.col(f"{ax.name}_idx") - bit) >= 0
        cond = c if cond is None else (cond & c)
    pivots = [
        F.max(
            F.when(F.col("__corner") == c, F.col(f"__v__{v}"))
        ).alias(vname(c, v))
        for v in vcols
        for c in range(n_corners)
    ]
    return (
        contrib.filter(cond)
        .groupBy(*base_cols)
        .agg(*pivots)
    )


def _index_points(
    points: DataFrame,
    axes: Sequence[GridAxis],
    point_cols: Mapping[str, str],
) -> DataFrame:
    """Add clamped bracketing index + fraction columns per axis."""
    pt = points
    for ax in axes:
        src = point_cols.get(ax.name, ax.name)
        t = (F.col(src) - F.lit(ax.x0)) / F.lit(ax.step)
        # clamp to grid interior so edge points extrapolate flat like
        # np.interp / bounds clamping rather than producing nulls
        i0 = F.least(
            F.greatest(F.floor(t), F.lit(0)), F.lit(ax.n - 2)
        ).cast("long")
        pt = pt.withColumn(f"__i_{ax.name}", i0).withColumn(
            f"__f_{ax.name}",
            F.least(F.greatest(t - i0, F.lit(0.0)), F.lit(1.0)),
        )
    return pt


def _blend_expr(axes: Sequence[GridAxis], suffix: str):
    """Fixed-corner-order multilinear blend => bit-deterministic."""
    d = len(axes)
    blend = None
    for corner in range(1 << d):
        w = None
        for j, ax in enumerate(axes):
            bit = (corner >> j) & 1
            f = F.col(f"__f_{ax.name}")
            term = f if bit else (F.lit(1.0) - f)
            w = term if w is None else (w * term)
        term = F.col(f"__v_{corner}{suffix}") * w
        blend = term if blend is None else (blend + term)
    return blend


def _oob_cond(axes: Sequence[GridAxis], point_cols: Mapping[str, str]):
    oob = None
    for ax in axes:
        src = point_cols.get(ax.name, ax.name)
        c = (F.col(src) < F.lit(ax.x0)) | (F.col(src) > F.lit(ax.hi))
        oob = c if oob is None else (oob | c)
    return oob


def interp_join(
    points: DataFrame,
    lut: DataFrame,
    axes: Sequence[GridAxis],
    value_col: "str | Sequence[str]" = "sigma0_model",
    point_cols: Mapping[str, str] | None = None,
    out_col: "str | Sequence[str]" = "value_interp",
    bounds: str = "clamp",
) -> DataFrame:
    """Multilinear interpolation of ``points`` into ``lut``.

    ``axes`` describe the LUT's regular grid; ``point_cols`` maps axis
    name -> column in ``points`` (defaults to the axis name). The LUT
    must have ``<axis>_idx`` integer columns and ``value_col``.

    ``value_col``/``out_col`` may be parallel lists to interpolate
    several LUT fields (e.g. u/v wind components) with ONE corner
    shuffle + ONE broadcast join instead of one pass per field.

    ``bounds``: ``'clamp'`` extrapolates flat outside the grid (like
    np.interp); ``'nan'`` nulls ``out_col`` for out-of-range points —
    the reference's xarray ``lut.interp`` behavior, keeping GMF values
    inside their declared validity ranges.
    """
    if bounds not in ("clamp", "nan"):
        raise ValueError("bounds must be 'clamp' or 'nan'")
    point_cols = dict(point_cols or {})
    d = len(axes)
    if d == 0 or d > 3:
        raise ValueError("interp_join supports 1-3 dimensions")
    multi = not isinstance(value_col, str)
    vcols = list(value_col) if multi else [value_col]
    ocols = list(out_col) if multi else [out_col]
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col lengths differ")

    pt = _index_points(points, axes, point_cols)
    corners = corner_struct_lut(lut, axes, value_col)

    cond = None
    for ax in axes:
        c = F.col(f"__i_{ax.name}") == F.col(f"__b_{ax.name}")
        cond = c if cond is None else (cond & c)
    out = pt.join(F.broadcast(corners), cond, "left")

    oob = _oob_cond(axes, point_cols) if bounds == "nan" else None
    drop = []
    for v, o in zip(vcols, ocols):
        suffix = f"__{v}" if multi else ""
        blend = _blend_expr(axes, suffix)
        if oob is not None:
            blend = F.when(oob, F.lit(None)).otherwise(blend)
        out = out.withColumn(o, blend)
        drop += [f"__v_{c}{suffix}" for c in range(1 << d)]
    drop += [f"__i_{ax.name}" for ax in axes]
    drop += [f"__f_{ax.name}" for ax in axes]
    drop += [f"__b_{ax.name}" for ax in axes]
    return out.drop(*drop)


def interp_kernel(
    points: DataFrame,
    lut_values: np.ndarray,
    axes: Sequence[GridAxis],
    bounds: str = "clamp",
) -> DataFrame:
    """Big-LUT path: multilinear interpolation via ``mapInPandas`` with
    the LUT NumPy grid (shape = axis lengths, C order) shipped once per
    executor as a SparkContext broadcast. Same numeric result as
    :func:`interp_join`, read from the points' axis-named columns into
    ``value_interp``; use when the LUT is too large to broadcast-join
    (> ~10^6 rows)."""
    if bounds not in ("clamp", "nan"):
        raise ValueError("bounds must be 'clamp' or 'nan'")
    srcs = [ax.name for ax in axes]
    meta = [(ax.x0, ax.step, ax.n, ax.hi) for ax in axes]
    spark = points.sparkSession
    b_lut = spark.sparkContext.broadcast(
        np.ascontiguousarray(lut_values, dtype=np.float64)
    )
    want_nan = bounds == "nan"

    schema = T.StructType(
        list(points.schema) + [T.StructField("value_interp", T.DoubleType())]
    )

    def gen(batches):
        grid = b_lut.value
        for pdf in batches:
            n = len(pdf)
            idx0, frac = [], []
            oob = np.zeros(n, dtype=bool)
            for (x0, step, nax, hi), src in zip(meta, srcs):
                x = pdf[src].to_numpy(dtype=np.float64, na_value=np.nan)
                t = (x - x0) / step
                i0 = np.clip(np.floor(t), 0, nax - 2)
                f = np.clip(t - i0, 0.0, 1.0)
                oob |= (x < x0) | (x > hi)
                idx0.append(i0.astype(np.int64))
                frac.append(f)
            acc = np.zeros(n, dtype=np.float64)
            for corner in range(1 << len(meta)):
                ix = tuple(
                    idx0[j] + ((corner >> j) & 1) for j in range(len(meta))
                )
                w = np.ones(n, dtype=np.float64)
                for j in range(len(meta)):
                    fj = frac[j]
                    w *= fj if ((corner >> j) & 1) else (1.0 - fj)
                acc += grid[ix] * w
            if want_nan:
                acc[oob] = np.nan
            out = pdf.copy()
            out["value_interp"] = acc
            yield out

    return points.mapInPandas(gen, schema=schema)
