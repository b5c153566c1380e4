"""Wind-field inversion from sigma0 (the engine's flagship kernel).

Parity target: xsarsea ``windspeed.py:17-439`` (``invert_from_model``):
per pixel, find the LUT entry minimizing a Bayesian cost
``J = Jwind + Jsig``; dual-pol runs a second stage over the crosspol
LUT coupled through ``|wind_co|``; wind vectors are complex (modulus =
speed, angle = direction relative to antenna).

Spark-first physical design (SURVEY.md §2.4): a pixel × LUT cross join
is infeasible at the reference's high-res LUT (~4.5e7 cells), so the
kernel is an Arrow-batched ``mapInPandas`` with the bounded LUT shipped
once per executor as a SparkContext broadcast of NumPy arrays — the
distributed analog of the reference's numba guvectorize over dask
chunks (``windspeed.py:284-323``). Inside a batch everything is
vectorized NumPy (row-chunked so memory stays ~tens of MB per task).

Complex wind is represented as (re, im) double column pairs
(SURVEY.md §1.2 — Spark has no complex type).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.functions.gmfs import GMF_REGISTRY
from xsarsea_spark.operators.lut import axis_from_range, gmf_lut_numpy

__all__ = ["invert_from_model", "prepare_luts"]

_D_ANTENNA = 2.0
_D_AZI = 2.0
_DWSPD_FG = 2.0
# LUT incidence step (degrees)
_INC_STEP = 1.0


@functools.lru_cache(maxsize=4)
def prepare_luts(
    co_model: str | None,
    cr_model: str | None,
    wspd_step: float = 0.2,
    phi_step: float = 2.5,
    cr_wspd_step: float = 0.1,
) -> dict:
    """Driver-side constant fold: materialize LUTs in dB as NumPy.

    Mirrors the reference's LUT preparation hoist
    (``windspeed.py:144-181``): dB conversion, coordinate vectors, and
    the per-(wspd, phi) cartesian wind components precomputed once.

    Memoized (a pure function of model names and steps): callers share
    the arrays, which are read-only so a mutation fails loudly.
    """
    out: dict = {"phi_180": False}
    if co_model:
        g = GMF_REGISTRY[co_model]
        axes = [
            axis_from_range("incidence", g.inc_range[0], g.inc_range[1],
                            _INC_STEP),
            axis_from_range("wspd", g.wspd_range[0], g.wspd_range[1], wspd_step),
            axis_from_range("phi", g.phi_range[0], g.phi_range[1], phi_step),
        ]
        lut = gmf_lut_numpy(co_model, axes)
        sig_db = 10.0 * np.log10(lut["sigma0"] + 1e-15)  # (inc, wspd, phi)
        c = lut["coords"]
        with np.errstate(invalid="ignore"):
            # per-(incidence, wspd) sigma0 band over phi, for the pruned
            # search's lower bound (NaN cells -> NaN band -> prune-safe:
            # an all-NaN phi slice can never win anyway)
            band_lo = np.nanmin(sig_db, axis=2)
            band_hi = np.nanmax(sig_db, axis=2)
        wspd_g, phi_g = np.meshgrid(c["wspd"], c["phi"], indexing="ij")
        out["co"] = {
            # (wspd, incidence, phi): one pixel's phi slice is a row
            "lut_db": np.ascontiguousarray(sig_db.transpose(1, 0, 2)),
            "band_lo": band_lo,  # (incidence, wspd)
            "band_hi": band_hi,
            "inc": c["incidence"],
            "wspd": c["wspd"],
            "phi": c["phi"],
            "u": wspd_g * np.cos(np.radians(phi_g)),  # antenna comp
            "v": wspd_g * np.sin(np.radians(phi_g)),  # azimuth comp
        }
        out["phi_180"] = (180.0 - (c["phi"][-1] - c["phi"][0])) < 2.0
    if cr_model:
        g = GMF_REGISTRY[cr_model]
        axes = [
            axis_from_range("incidence", g.inc_range[0], g.inc_range[1],
                            _INC_STEP),
            axis_from_range("wspd", g.wspd_range[0], g.wspd_range[1], cr_wspd_step),
        ]
        lut = gmf_lut_numpy(cr_model, axes)
        out["cr"] = {
            "lut_db": np.ascontiguousarray(
                (10.0 * np.log10(lut["sigma0"] + 1e-15)).transpose(1, 0)
            ),  # (wspd, incidence)
            "inc": lut["coords"]["incidence"],
            "wspd": lut["coords"]["wspd"],
        }
    for part in ("co", "cr"):
        for a in out.get(part, {}).values():
            a.flags.writeable = False
    return out


def _lut_broadcast(sc, key: tuple):
    """The broadcast of ``prepare_luts(*key)`` on ``sc``, made once per
    context: a second inversion ships no new 8 MB pickle, and Python
    workers keep the arrays they already read under the same broadcast
    id. The broadcasts live on the context object, so a new context
    starts with none and a stopped one is refused. ``prepare_luts``
    (memoized) is still called every time, so tracing it sees each
    inversion."""
    if sc._jsc is None:
        raise RuntimeError("SparkContext is stopped")
    luts = prepare_luts(*key)
    if not hasattr(sc, "_xsarsea_lut_broadcasts"):
        sc._xsarsea_lut_broadcasts = {}
    made = sc._xsarsea_lut_broadcasts
    if key not in made:
        made[key] = sc.broadcast(luts)
    return made[key]


def _nearest_idx(x: np.ndarray, x0: float, step: float, n: int) -> np.ndarray:
    """Nearest regular-grid index via floor(t + 0.5) — the same closed
    form the SQL oracle uses, so both engines bucket identically."""
    i = np.floor((x - x0) / step + 0.5)
    # NaN pixels are masked downstream by the NaN guard, but the int
    # cast itself must not see them (numpy emits "invalid value
    # encountered in cast"): park them on index 0 first — the guard
    # overwrites those lanes with NaN regardless of the index used.
    i = np.where(np.isnan(i), 0.0, i)
    return np.clip(i, 0, n - 1).astype(np.int64)


def _cost(u, v, sig, m_ant, m_azi, s0, dsig, j, t) -> None:
    """``J = Jwind + Jsig`` into ``j`` (``t`` is scratch), operands
    already broadcast to one shape. Both searches call this one
    elementwise op order, so their costs are bit-identical whatever the
    layout: (phi, pixel) blocks or gathered (pair, phi) rows."""
    np.subtract(u, m_ant, out=j)
    j /= _D_ANTENNA
    np.multiply(j, j, out=j)
    np.subtract(v, m_azi, out=t)
    t /= _D_AZI
    np.multiply(t, t, out=t)
    j += t
    np.subtract(sig, s0, out=t)
    t /= dsig
    np.multiply(t, t, out=t)
    j += t


def _copol_exhaustive(co, s0co, m_ant, m_azi, iis, dsig_co):
    """Reference search: every (wspd, phi) cell, one wspd slice at a
    time over (n_phi, chunk) blocks; a later wspd wins only when
    strictly lower, so ties keep the first (wspd, phi) in grid order
    and a NaN anywhere in a slice drops that slice."""
    b = len(s0co)
    n_phi = co["lut_db"].shape[2]
    j = np.empty((n_phi, b))
    t = np.empty((n_phi, b))
    jmin = np.full(b, np.inf)
    wspd_co = np.full(b, np.nan)
    phi_co = np.full(b, np.nan)
    cols = np.arange(b)
    for w in range(co["lut_db"].shape[0]):
        _cost(co["u"][w][:, None], co["v"][w][:, None],
              co["lut_db"][w][iis].T, m_ant[None, :], m_azi[None, :],
              s0co[None, :], dsig_co, j, t)
        p = np.argmin(j, axis=0)
        vmin = j[p, cols]
        upd = vmin < jmin
        jmin[upd] = vmin[upd]
        wspd_co[upd] = co["wspd"][w]
        phi_co[upd] = co["phi"][p[upd]]
    return wspd_co, phi_co


def _copol_pruned(co, s0co, m_ant, m_azi, iis, dsig_co):
    """Exact per-pixel pruning of the exhaustive search: the
    reference's restricted-search idea (``windspeed.py:220-276``) as a
    branch-and-bound that returns exhaustive's BIT-identical answer.

    1. Lower bound ``lb`` (pixel, wspd), the sum of two true lower
       bounds of the cost over every phi of that wspd:

       * wind prior: ``((w - |anc|)/D)^2 <= Jwind(w, phi)`` (distance
         to the circle of radius w; needs ``_D_ANTENNA == _D_AZI``);
       * sigma0 band: per (incidence, wspd) the LUT's [min, max] over
         phi; a pixel whose s0 falls outside it costs at least
         ``((nearest band edge - s0)/dsig)^2``. With the reference's
         dsig_co = 0.1 this cuts sharply.

    2. Upper bound: the cost at each pixel's ``argmin lb`` wspd and
       its two neighbours (NaN costs count as +inf).
    3. Live pairs: the (pixel, wspd) pairs with ``lb <= thr``, all
       evaluated in one gathered (pair, phi) pass. Every wspd that
       reaches a pixel's minimum is live, ties included, so none of
       them can be missed; the 1e-9 relative margin only under-prunes.
    4. Per pixel, the first live pair (ascending wspd) reaching the
       minimum wins, its phi the first minimum of the slice: the
       exhaustive tie-break. A slice holding a NaN never wins, as in
       the exhaustive loop.

    Work and memory scale with the live pairs: about 17 of 250 wspds
    per pixel on a GMF-consistent scene at the default LUT steps. A
    pixel with no finite upper bound keeps every wspd of finite bound
    alive, so the chunk caps the worst case at chunk x n_wspd rows.
    """
    b = len(s0co)
    n_w, n_inc, n_phi = co["lut_db"].shape
    lut_rows = co["lut_db"].reshape(n_w * n_inc, n_phi)

    def evaluate(pix, w):
        # (pair, phi) costs -> per pair first-min phi and its cost,
        # NaN (any NaN in the slice) mapped to +inf
        j = np.empty((len(pix), n_phi))
        t = np.empty_like(j)
        _cost(co["u"][w], co["v"][w], lut_rows[w * n_inc + iis[pix]],
              m_ant[pix][:, None], m_azi[pix][:, None],
              s0co[pix][:, None], dsig_co, j, t)
        p = np.argmin(j, axis=1)
        vmin = j[np.arange(len(pix)), p]
        vmin[np.isnan(vmin)] = np.inf
        return p, vmin

    # 1. lower bound (b, n_w); a NaN band gives NaN lb: never live
    lb = (co["wspd"][None, :] - np.hypot(m_ant, m_azi)[:, None]) / _D_ANTENNA
    np.multiply(lb, lb, out=lb)
    blo = co["band_lo"][iis]
    bhi = co["band_hi"][iis]
    s0 = s0co[:, None]
    gap = np.where(s0 < blo, blo - s0, np.where(s0 > bhi, s0 - bhi, 0.0))
    gap /= dsig_co
    np.multiply(gap, gap, out=gap)
    lb += gap

    # 2. per-pixel upper bound at argmin lb and its neighbours
    w0 = np.argmin(np.where(np.isnan(lb), np.inf, lb), axis=1)
    w3 = np.clip(w0[None, :] + np.array([[-1], [0], [1]]), 0, n_w - 1)
    _, v3 = evaluate(np.tile(np.arange(b), 3), w3.ravel())
    thr = v3.reshape(3, b).min(axis=0)
    thr = thr * (1.0 + 1e-9) + 1e-12        # inf stays inf: no prune

    # 3. live pairs, pixel-major with ascending wspd
    pix, w = np.nonzero(lb <= thr[:, None])
    p, vmin = evaluate(pix, w)

    # 4. first pair reaching each pixel's minimum
    wspd_co = np.full(b, np.nan)
    phi_co = np.full(b, np.nan)
    if len(pix):
        starts = np.flatnonzero(np.r_[True, pix[1:] != pix[:-1]])
        best = np.minimum.reduceat(vmin, starts)
        hit = np.flatnonzero((vmin == np.repeat(best, np.diff(
            np.r_[starts, len(pix)]))) & (vmin < np.inf))
        first = hit[np.r_[True, pix[hit][1:] != pix[hit][:-1]]]
        wspd_co[pix[first]] = co["wspd"][w[first]]
        phi_co[pix[first]] = co["phi"][p[first]]
    return wspd_co, phi_co


def _invert_batch(
    pdf: pd.DataFrame,
    luts: dict,
    dsig_co: float,
    cols: dict,
    chunk: int | None = None,
    search: str = "coarse",
) -> pd.DataFrame:
    # pruned: chunk bounds the (pixel, wspd) bound matrix and the
    # (pair, phi) cost rows, which stay cache-sized at 256 (measured
    # 128-256 flat, 1024 1.6x slower); exhaustive amortizes its
    # per-wspd loop over big chunks
    if chunk is None:
        chunk = 256 if search == "coarse" else 1024
    n = len(pdf)
    inc = pdf["incidence"].to_numpy(dtype=np.float64, na_value=np.nan)
    out_co = np.full(n, np.nan, dtype=np.complex128)
    out_dual = np.full(n, np.nan, dtype=np.complex128)

    has_co = "co" in luts and cols.get("sigma0_co_db") is not None
    has_cr = "cr" in luts and cols.get("sigma0_cr_db") is not None

    if has_co:
        s0co = pdf[cols["sigma0_co_db"]].to_numpy(np.float64, na_value=np.nan)
        anc = (
            pdf[cols["anc_re"]].to_numpy(np.float64, na_value=np.nan)
            + 1j * pdf[cols["anc_im"]].to_numpy(np.float64, na_value=np.nan)
        )
        co = luts["co"]
        argmin = _copol_pruned if search == "coarse" else _copol_exhaustive
        ii = _nearest_idx(inc, co["inc"][0],
                          co["inc"][1] - co["inc"][0], len(co["inc"]))
        valid = ~np.isnan(inc) & ~np.isnan(s0co) & ~np.isnan(np.abs(anc))
        idx = np.flatnonzero(valid)
        for s in range(0, len(idx), chunk):
            sel = idx[s: s + chunk]
            m_ant = np.real(anc[sel])
            m_azi = np.imag(anc[sel])
            if luts["phi_180"]:
                m_azi = np.abs(m_azi)
            wspd_co, phi_co = argmin(co, s0co[sel], m_ant, m_azi, ii[sel],
                                     dsig_co)
            sol = wspd_co * np.exp(1j * np.radians(phi_co))
            if luts["phi_180"]:
                sol2 = wspd_co * np.exp(-1j * np.radians(phi_co))
                d1 = np.abs(np.angle(anc[sel] / sol))
                d2 = np.abs(np.angle(anc[sel] / sol2))
                sol = np.where(d1 <= d2, sol, sol2)
            out_co[sel] = sol

    if has_cr:
        s0cr = pdf[cols["sigma0_cr_db"]].to_numpy(np.float64, na_value=np.nan)
        dsig_cr = pdf[cols["dsig_cr"]].to_numpy(np.float64, na_value=np.nan)
        cr = luts["cr"]
        ii = _nearest_idx(inc, cr["inc"][0],
                          cr["inc"][1] - cr["inc"][0], len(cr["inc"]))
        valid = ~np.isnan(inc) & ~np.isnan(s0cr) & ~np.isnan(dsig_cr)
        if has_co:
            # copol requested but ancillary NaN -> dual also NaN (guard
            # parity with windspeed.py:197-207)
            valid &= ~(~np.isnan(s0co) & np.isnan(np.abs(anc)))
        idx = np.flatnonzero(valid)
        n_crw = cr["lut_db"].shape[0]
        jc = np.empty((n_crw, chunk))
        tc = np.empty((n_crw, chunk))
        for s in range(0, len(idx), chunk):
            sel = idx[s: s + chunk]
            b = len(sel)
            jcb = jc[:, :b]
            tcb = tc[:, :b]
            # jsig = ((lut - s0) / dsig)^2 in-place (same op order as
            # the expression form -> bit-identical)
            np.take(cr["lut_db"], ii[sel], axis=1, out=jcb)
            jcb -= s0cr[sel][None, :]
            jcb /= dsig_cr[sel][None, :]
            np.multiply(jcb, jcb, out=jcb)
            wco = np.abs(out_co[sel])
            fg = ~np.isnan(wco)
            if fg.any():
                np.subtract(cr["wspd"][:, None], wco[None, :], out=tcb)
                tcb /= _DWSPD_FG
                np.multiply(tcb, tcb, out=tcb)
                np.add(jcb, tcb, out=jcb, where=fg[None, :])
            amin = np.argmin(jcb, axis=0)
            wspd_dual = cr["wspd"][amin]
            phi_dual = np.where(fg, np.angle(out_co[sel]), 0.0)
            out_dual[sel] = wspd_dual * np.exp(1j * phi_dual)

    if has_co and has_cr:
        # low-wind blend (windspeed.py:426-428): below 5 m/s the copol
        # solution is the dual-pol wind
        low = (np.abs(out_co) < 5.0) | (np.abs(out_dual) < 5.0)
        out_dual = np.where(low, out_co, out_dual)

    res = pdf[cols["keep"]].copy()
    res["wind_co_re"] = np.real(out_co)
    res["wind_co_im"] = np.imag(out_co)
    res["wind_dual_re"] = np.real(out_dual)
    res["wind_dual_im"] = np.imag(out_dual)
    return res


def invert_from_model(
    px: DataFrame,
    co_model: str | None = None,
    cr_model: str | None = None,
    dsig_co: float = 0.1,
    sigma0_co_col: str | None = None,
    sigma0_cr_col: str | None = None,
    dsig_cr_col: str | None = None,
    anc_re_col: str | None = None,
    anc_im_col: str | None = None,
    keep_cols: list | None = None,
    lut_wspd_step: float = 0.2,
    lut_phi_step: float = 2.5,
    lut_cr_wspd_step: float = 0.1,
    search: str = "coarse",
) -> DataFrame:
    """Distributed wind inversion; returns keep_cols + wind (re, im) pairs.

    Input sigma0 columns are LINEAR; dB conversion (with the reference's
    1e-15 clamp) happens inside the plan before the kernel.

    ``search`` picks the copol argmin strategy: ``"coarse"`` (default;
    exact per-pixel pruning, bit-identical to exhaustive — see
    ``_copol_pruned``) or ``"exhaustive"`` (every LUT cell, the
    reference the pruned search is tested against). LUTs come from the
    memoized :func:`prepare_luts` and are broadcast once per
    SparkContext, so repeated calls skip both the driver-side fold and
    the shipping.
    """
    spark = px.sparkSession
    b_luts = _lut_broadcast(spark.sparkContext, (
        co_model, cr_model, lut_wspd_step, lut_phi_step, lut_cr_wspd_step))

    keep_cols = list(keep_cols or [])
    work = px
    cols = {"keep": keep_cols, "sigma0_co_db": None,
            "sigma0_cr_db": None, "dsig_cr": None,
            "anc_re": anc_re_col, "anc_im": anc_im_col}
    if co_model and sigma0_co_col:
        work = work.withColumn(
            "__s0co_db", F.expr(f"10e0 * log10({sigma0_co_col} + 1e-15)")
        )
        cols["sigma0_co_db"] = "__s0co_db"
    if cr_model and sigma0_cr_col:
        work = work.withColumn(
            "__s0cr_db", F.expr(f"10e0 * log10({sigma0_cr_col} + 1e-15)")
        )
        cols["sigma0_cr_db"] = "__s0cr_db"
        cols["dsig_cr"] = dsig_cr_col

    in_cols = [c for c in
               ["incidence", cols["sigma0_co_db"], cols["sigma0_cr_db"],
                cols["dsig_cr"], anc_re_col, anc_im_col] + keep_cols
               if c is not None]
    work = work.select(*dict.fromkeys(in_cols))

    out_fields = [work.schema[c] for c in keep_cols] + [
        T.StructField(n, T.DoubleType())
        for n in ["wind_co_re", "wind_co_im", "wind_dual_re", "wind_dual_im"]
    ]
    schema = T.StructType(out_fields)

    def gen(batches):
        for pdf in batches:
            yield _invert_batch(pdf, b_luts.value, dsig_co, cols,
                                search=search)

    return work.mapInPandas(gen, schema=schema)
