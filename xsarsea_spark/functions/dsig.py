"""Inversion uncertainty weights (dsig) as dual-compiled expressions.

Parity targets: xsarsea ``windspeed/utils.py:47-91`` (``get_dsig`` —
per-model crosspol cost weight from SNR) and ``utils.py:18-44``
(``get_dsig_wspd`` — logistic alpha-blend with high-wind drop-off).

Built on :mod:`xsarsea_spark.expr` so each weight compiles identically
to Spark SQL, DuckDB SQL, and NumPy — the same coefficients are
published fit constants from the reference's formulation.
"""

from __future__ import annotations

import numpy as np

from xsarsea_spark.expr import (
    Expr,
    exp,
    greatest,
    least,
    lit,
    power,
    sqrt,
    var,
)

__all__ = ["get_dsig_expr", "get_dsig_sql", "get_dsig_numpy",
           "get_dsig_wspd_expr", "get_dsig_wspd_sql", "DSIG_NAMES",
           "DSIG_WSPD_NAMES"]

# logistic fit parameters (b, c0, gamma, k) per instrument family
DSIG_WSPD_NAMES = {
    "dsig_wspd_rs2_v3": (
        -0.4908643753212401, 16.763199934792965,
        1.3891445172991084, 20.616914824394343,
    ),
    "dsig_wspd_s1_ew_rec_v3": (
        -0.5858970325653666, 16.50039320910609,
        1.1032031322520397, 7.434663633997121,
    ),
    "dsig_wspd_rcm_v3": (
        -0.7920301376936547, 15.8288289109038,
        0.24040294696606557, 0.2538177092195224,
    ),
}

DSIG_NAMES = ("gmf_s1_v2", "gmf_rs2_v2", "sarwing_lut_cmodms1ahw",
              "nc_lut_cmodms1ahw")

# wind speed (m/s) of the logistic high-wind drop-off
_UMAX = 30.0

# sigmoid-in-incidence exponent fit for the S1 v2 weight
_S1V2_SIG = (1.57952257, 25.61843791, 1.46852088, 1.4058646)


def get_dsig_expr(name: str, inc, sigma0_cr, nesz_cr) -> Expr:
    """dsig_cr weight tree; args are Exprs or column-name strings."""
    inc = _v(inc)
    snr = _v(sigma0_cr) / _v(nesz_cr)
    if name == "gmf_s1_v2":
        c0, c1, d0, d1 = _S1V2_SIG
        c = lit(d0) + lit(d1) / (lit(1.0) + exp(-lit(c0) * (inc - lit(c1))))
        return lit(1.0) / sqrt(power(snr, c))
    if name == "gmf_rs2_v2":
        return lit(1.0) / sqrt(power(snr, lit(8.0)))
    if name in ("sarwing_lut_cmodms1ahw", "nc_lut_cmodms1ahw"):
        return power(lit(1.25) / snr, lit(4.0))
    raise ValueError(f"unknown dsig name {name!r}; compute your own dsig_cr")


def get_dsig_wspd_expr(name: str, u_crosspol, snr_cr) -> Expr:
    """Logistic alpha-blend weight in [0, 1] for crosspol wind speed."""
    if name not in DSIG_WSPD_NAMES:
        raise ValueError(f"unknown dsig_wspd name {name!r}")
    b, c0_base, gamma, k = DSIG_WSPD_NAMES[name]
    u = _v(u_crosspol)
    c0 = lit(c0_base) - lit(gamma) * _v(snr_cr)
    alpha_core = lit(1.0) / (lit(1.0) + exp(-lit(b) * (u - c0)))
    drop = lit(1.0) / (lit(1.0) + exp((u - lit(_UMAX)) * lit(k)))
    return least(greatest(alpha_core * drop, lit(0.0)), lit(1.0))


def get_dsig_sql(name: str, inc="incidence", sigma0_cr="sigma0_cr",
                 nesz_cr="nesz_cr") -> str:
    return get_dsig_expr(name, inc, sigma0_cr, nesz_cr).sql()


def get_dsig_wspd_sql(name: str, u_crosspol: str, snr_cr: str) -> str:
    return get_dsig_wspd_expr(name, u_crosspol, snr_cr).sql()


def get_dsig_numpy(name: str, inc, sigma0_cr, nesz_cr) -> np.ndarray:
    env = {"__inc": np.asarray(inc, dtype=np.float64),
           "__s0cr": np.asarray(sigma0_cr, dtype=np.float64),
           "__nesz": np.asarray(nesz_cr, dtype=np.float64)}
    return get_dsig_expr(name, "__inc", "__s0cr", "__nesz").ev(env)


def _v(x):
    return var(x) if isinstance(x, str) else x
