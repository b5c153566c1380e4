"""GMF-consistent synthetic dual-pol SAR scene.

Every pixel is physically valid by construction:

- incidence runs ``17 + 40 * sample / n_samples`` degrees, inside the
  GMF range (16-66) at any swath width;
- the true wind is a smooth field (speed 5.5-14.5 m/s, direction
  swinging across the scene) whose phases come from the seed;
- ``sigma0`` and ``sigma0_cr`` are the cmod5n and rs2_v2 forward
  models of that wind, times independent seeded speckle in
  [0.85, 1.15], so every value is strictly positive;
- the ancillary wind is the truth plus seeded Gaussian noise.

Wind directions are complex numbers in the (antenna, azimuth) frame the
inversion uses; the GMF relative direction is the absolute angle of
that vector, folded into [0, 180] degrees.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from xsarsea_spark.functions.gmfs import GMF_REGISTRY, gmf_numpy

__all__ = ["CO_MODEL", "CR_MODEL", "DSIG_CR", "make_scene",
           "valid_px_frac"]

CO_MODEL = "gmf_cmod5n"
CR_MODEL = "gmf_rs2_v2"
DSIG_CR = 0.1
ANC_NOISE_MS = 1.0     # std of each ancillary wind component, m/s
SPECKLE = (0.85, 1.15)


def make_scene(n_lines: int, n_samples: int, seed: int) -> tuple:
    """Return ``(pixels, truth)``.

    ``pixels`` is a pandas frame with ``line, sample, incidence,
    sigma0, sigma0_cr, dsig_cr, anc_re, anc_im`` (sigma0 linear), one
    row per pixel in line-major order. ``truth`` is a complex array of
    the true wind in the same order.
    """
    rng = np.random.default_rng(seed)
    line, sample = np.meshgrid(np.arange(n_lines), np.arange(n_samples),
                               indexing="ij")
    y = line.ravel() / n_lines
    x = sample.ravel() / n_samples
    p = rng.uniform(0.0, 2 * np.pi, 4)
    speed = 10.0 + 3.0 * np.sin(2 * np.pi * y + p[0]) \
        + 1.5 * np.cos(2 * np.pi * x + p[1])
    theta = rng.uniform(-180.0, 180.0) \
        + 50.0 * np.sin(np.pi * x + p[2]) + 30.0 * np.cos(np.pi * y + p[3])
    truth = speed * np.exp(1j * np.radians(theta))
    phi = np.abs(np.degrees(np.angle(truth)))
    inc = 17.0 + 40.0 * x
    n = inc.size
    sigma0 = gmf_numpy(CO_MODEL, inc, speed, phi) * rng.uniform(*SPECKLE, n)
    sigma0_cr = gmf_numpy(CR_MODEL, inc, speed) * rng.uniform(*SPECKLE, n)
    anc = truth + ANC_NOISE_MS * (rng.standard_normal(n)
                                  + 1j * rng.standard_normal(n))
    pixels = pd.DataFrame({
        "line": line.ravel().astype(np.int64),
        "sample": sample.ravel().astype(np.int64),
        "incidence": inc,
        "sigma0": sigma0,
        "sigma0_cr": sigma0_cr,
        "dsig_cr": np.full(n, DSIG_CR),
        "anc_re": anc.real,
        "anc_im": anc.imag,
    })
    return pixels, truth


def valid_px_frac(pixels: pd.DataFrame) -> float:
    """Share of pixels both GMFs can invert: incidence inside both
    models' ranges and both sigma0 values finite and positive."""
    lo = max(GMF_REGISTRY[m].inc_range[0] for m in (CO_MODEL, CR_MODEL))
    hi = min(GMF_REGISTRY[m].inc_range[1] for m in (CO_MODEL, CR_MODEL))
    inc = pixels["incidence"].to_numpy()
    ok = (inc >= lo) & (inc <= hi)
    for c in ("sigma0", "sigma0_cr"):
        v = pixels[c].to_numpy()
        ok &= np.isfinite(v) & (v > 0)
    return float(ok.mean())
