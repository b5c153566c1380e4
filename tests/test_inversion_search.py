"""Golden equality of the pruned inversion search.

The ``coarse`` mode (exact per-pixel pruning over the wspd axis, see
``_copol_pruned``) must be BIT-identical to ``exhaustive`` — same
argmin, same first-minimum tie-break, same NaN propagation — on
random and GMF-consistent pixels, NaN corners, LUT incidence edges,
adversarial near-tie inputs, and at any chunk size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from xsarsea_spark.functions.gmfs import gmf_numpy
from xsarsea_spark.operators.inversion import (
    _invert_batch,
    invert_from_model,
    prepare_luts,
)

COLS = {
    "inc": "incidence",
    "keep": ["pid"],
    "sigma0_co_db": "s0co_db",
    "sigma0_cr_db": "s0cr_db",
    "dsig_cr": "dsig_cr",
    "anc_re": "anc_re",
    "anc_im": "anc_im",
}


def _pixels(n: int, seed: int, with_nans: bool = True) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    wspd = rng.uniform(0.5, 45.0, n)
    phi = rng.uniform(-180.0, 180.0, n)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "incidence": rng.uniform(17.0, 49.0, n),
            "s0co_db": rng.uniform(-30.0, 0.0, n),
            "s0cr_db": rng.uniform(-40.0, -15.0, n),
            "dsig_cr": rng.uniform(0.05, 1.5, n),
            "anc_re": wspd * np.cos(np.radians(phi)),
            "anc_im": wspd * np.sin(np.radians(phi)),
        }
    )
    if with_nans:
        for c in ["incidence", "s0co_db", "anc_re", "s0cr_db", "dsig_cr"]:
            pdf.loc[rng.choice(n, n // 20, replace=False), c] = np.nan
    return pdf


def _assert_bitequal(luts, pdf, **kw):
    a = _invert_batch(pdf, luts, 0.1, COLS, search="exhaustive")
    b = _invert_batch(pdf, luts, 0.1, COLS, search="coarse", **kw)
    for c in ["wind_co_re", "wind_co_im", "wind_dual_re", "wind_dual_im"]:
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy())


@pytest.fixture(scope="module")
def luts():
    # reference-scale steps: n_wspd ~ 250, n_phi ~ 73 — big enough
    # that coarse pruning actually engages
    return prepare_luts(
        "gmf_cmod5n", "gmf_rs2_v2",
        inc_step=1.0, wspd_step=0.2, phi_step=2.5, cr_wspd_step=0.1,
    )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_coarse_bitequal_exhaustive(luts, seed):
    _assert_bitequal(luts, _pixels(3000, seed))


def test_coarse_bitequal_on_near_ties(luts):
    """Pixels engineered so many (wspd, phi) cells cost the same:
    zero ancillary wind makes Jwind constant over phi, forcing the
    tie-break to do the work in both modes."""
    n = 500
    rng = np.random.default_rng(99)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "incidence": np.round(rng.uniform(17.0, 49.0, n)),  # on-grid
            "s0co_db": rng.choice([-20.0, -10.0, -5.0], n),
            "s0cr_db": rng.choice([-30.0, -25.0], n),
            "dsig_cr": np.full(n, 0.5),
            "anc_re": np.zeros(n),
            "anc_im": np.zeros(n),
        }
    )
    _assert_bitequal(luts, pdf)


@pytest.mark.parametrize("chunk", [1, 7, 256, 4096])
def test_chunk_never_changes_results(luts, chunk):
    _assert_bitequal(luts, _pixels(1000, 7), chunk=chunk)


def test_coarse_bitequal_on_gmf_consistent_pixels(luts):
    """Pixels the GMFs could have produced: sigma0 is the cmod5n and
    rs2_v2 forward model of a known wind times speckle, the ancillary
    wind is the truth plus noise. Nearly all of them have sigma0 inside
    the LUT's phi band at some wspd, as on real scenes, where the wind
    prior and the band decide the live set together; about 30 % of the
    uniform random pixels fall outside every band. Incidences include
    the LUT's edges, the nearest-row rounding points next to them, and
    values just beyond them (clipped to the edge row)."""
    n = 2000
    rng = np.random.default_rng(11)
    edges = np.array([16.0, 16.49, 16.5, 65.5, 65.51, 66.0, 15.2, 66.8])
    inc = np.concatenate([rng.uniform(16.0, 66.0, n - 4 * len(edges)),
                          np.repeat(edges, 4)])
    speed = rng.uniform(2.0, 25.0, n)
    theta = rng.uniform(-180.0, 180.0, n)
    truth = speed * np.exp(1j * np.radians(theta))
    inc_gmf = np.clip(inc, 16.0, 66.0)
    s0co = gmf_numpy("gmf_cmod5n", inc_gmf, speed, np.abs(theta)) \
        * rng.uniform(0.85, 1.15, n)
    s0cr = gmf_numpy("gmf_rs2_v2", inc_gmf, np.maximum(speed, 3.0)) \
        * rng.uniform(0.85, 1.15, n)
    anc = truth + rng.normal(0.0, 1.5, n) + 1j * rng.normal(0.0, 1.5, n)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "incidence": inc,
            "s0co_db": 10.0 * np.log10(s0co + 1e-15),
            "s0cr_db": 10.0 * np.log10(s0cr + 1e-15),
            "dsig_cr": np.full(n, 0.1),
            "anc_re": anc.real,
            "anc_im": anc.imag,
        }
    )
    assert np.isfinite(pdf.to_numpy()).all()
    _assert_bitequal(luts, pdf)


def test_spark_end_to_end_flag(spark, luts):
    """invert_from_model honors the conf flag and both modes agree
    through the full mapInPandas plan."""
    pdf = _pixels(800, 3)
    lin = pdf.copy()
    # invert_from_model takes LINEAR sigma0 and does its own dB inside
    lin["sigma0"] = 10.0 ** (lin.pop("s0co_db") / 10.0)
    lin["sigma0_cr"] = 10.0 ** (lin.pop("s0cr_db") / 10.0)
    df = spark.createDataFrame(lin)

    def run(mode):
        out = invert_from_model(
            df,
            co_model="gmf_cmod5n",
            cr_model="gmf_rs2_v2",
            dsig_co=0.1,
            sigma0_co_col="sigma0",
            sigma0_cr_col="sigma0_cr",
            dsig_cr_col="dsig_cr",
            anc_re_col="anc_re",
            anc_im_col="anc_im",
            keep_cols=["pid"],
            search=mode,
        )
        return out.orderBy("pid").toPandas()

    a, b = run("exhaustive"), run("coarse")
    for c in ["wind_co_re", "wind_co_im", "wind_dual_re", "wind_dual_im"]:
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy())


def test_prepare_luts_is_memoized_and_read_only(luts):
    again = prepare_luts(
        "gmf_cmod5n", "gmf_rs2_v2",
        inc_step=1.0, wspd_step=0.2, phi_step=2.5, cr_wspd_step=0.1,
    )
    assert again is luts
    for part in ("co", "cr"):
        with pytest.raises(ValueError):
            luts[part]["lut_db"][0] = 0.0


def test_coarse_bitequal_on_exact_ties_and_nan_slices():
    """A hand-built LUT where two wspds tie exactly (ancillary (2, 0)
    sits midway between wspd 1 and 3 at phi 0, and sigma0 matches every
    cell) and where one wspd slice holds a NaN: the first tied wspd
    must win, and a slice with a NaN must never win, as in the
    exhaustive loop. An all-NaN incidence row leaves its pixel NaN."""
    wspd = np.array([1.0, 3.0, 5.0])
    phi = np.array([0.0, 45.0, 90.0])
    lut_db = np.full((3, 3, 3), -10.0)      # (wspd, incidence, phi)
    lut_db[0, 1, 2] = np.nan                # wspd 1 unusable at inc 21
    lut_db[:, 2, :] = np.nan                # inc 22: no usable cell
    wg, pg = np.meshgrid(wspd, phi, indexing="ij")
    band = np.full((3, 3), -10.0)           # (incidence, wspd) over phi
    band[2] = np.nan
    luts = {"phi_180": False, "co": {
        "lut_db": lut_db, "band_lo": band, "band_hi": band,
        "inc": np.array([20.0, 21.0, 22.0]), "wspd": wspd, "phi": phi,
        "u": wg * np.cos(np.radians(pg)), "v": wg * np.sin(np.radians(pg)),
    }}
    pdf = pd.DataFrame({"pid": np.arange(3), "incidence": [20.0, 21.0, 22.0],
                        "s0co_db": -10.0, "anc_re": 2.0, "anc_im": 0.0})
    cols = dict(COLS, sigma0_cr_db=None)
    a = _invert_batch(pdf, luts, 0.1, cols, search="exhaustive")
    b = _invert_batch(pdf, luts, 0.1, cols, search="coarse")
    np.testing.assert_array_equal(a["wind_co_re"].to_numpy(),
                                  [1.0, 3.0, np.nan])
    for c in ["wind_co_re", "wind_co_im"]:
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy())
