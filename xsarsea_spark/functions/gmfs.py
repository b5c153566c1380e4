"""Geophysical Model Functions (GMFs) as dual-compiled expressions.

Each GMF relates radar backscatter to wind:
``sigma0 = f(incidence_deg, wind_speed_m_s[, wind_dir_deg_rel_antenna])``.

Coefficients are published physical constants (CMOD5: Hersbach et al.
2007; CMOD5.N neutral-wind variant; CMOD-IFR2: IFREMER; crosspol
two-zone power-law/sigmoid fits as catalogued by the reference).
Behavioral parity target: xsarsea ``windspeed/gmfs_impl.py`` (see that
file for the reference's scalar-Python formulation; ours compiles the
same math to Spark SQL / DuckDB SQL / NumPy via
:mod:`xsarsea_spark.expr`).

Copol GMFs take ``phi`` (wind direction relative to antenna look, deg)
and are 180-degree symmetric in phi; crosspol GMFs are phi-independent.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np

from xsarsea_spark.expr import (
    Expr,
    cos,
    exp,
    log10,
    power,
    radians,
    sqrt,
    tanh,
    var,
    where,
)

__all__ = ["GMF_REGISTRY", "Gmf", "gmf_expr", "gmf_sql", "gmf_numpy"]


# ----------------------------------------------------------------------
# CMOD5 family (copol VV, phi-dependent, 28 coefficients)
# ----------------------------------------------------------------------

_CMOD5_C = [
    0.0, -0.688, -0.793, 0.338, -0.173, 0.0, 0.004, 0.111, 0.0162, 6.34,
    2.57, -2.18, 0.4, -0.6, 0.045, 0.007, 0.33, 0.012, 22.0, 1.95, 3.0,
    8.39, -3.44, 1.36, 5.35, 1.99, 0.29, 3.80, 1.53,
]

_CMOD5N_C = [
    0.0, -0.6878, -0.7957, 0.338, -0.1728, 0.0, 0.004, 0.1103, 0.0159,
    6.7329, 2.7713, -2.2885, 0.4971, -0.725, 0.045, 0.0066, 0.3222, 0.012,
    22.7, 2.0813, 3.0, 8.3659, -3.3428, 1.3236, 6.2437, 2.3893, 0.3249,
    4.159, 1.693,
]


def _cmod5_tree(c: list, inc: Expr, wspd: Expr, phi: Expr) -> Expr:
    """CMOD5 Fourier-series GMF as an expression tree.

    sigma0_vv = b0 * (1 + b1*cos(phi) + b2*cos(2 phi))^1.6
    """
    zpow = 1.6
    thetm = 40.0
    thethr = 25.0
    y0 = c[19]
    pn = c[20]
    a_const = y0 - (y0 - 1.0) / pn
    b_const = 1.0 / (pn * (y0 - 1.0) ** (pn - 1.0))

    cosphi = cos(radians(phi))
    x = (inc - thetm) / thethr
    x2 = x * x

    a0 = c[1] + c[2] * x + c[3] * x2 + c[4] * x * x2
    a1 = c[5] + c[6] * x
    a2 = c[7] + c[8] * x
    gam = c[9] + c[10] * x + c[11] * x2
    s0 = c[12] + c[13] * x
    s = a2 * wspd
    a3_init = 1.0 / (1.0 + exp(0.0 - s0))
    a3 = where(
        s < s0,
        a3_init * power(s / s0, s0 * (1.0 - a3_init)),
        1.0 / (1.0 + exp(0.0 - s)),
    )
    b0 = power(a3, gam) * power(10.0, a0 + a1 * wspd)

    b1_num = c[15] * wspd * (0.5 + x - tanh(4.0 * (x + c[16] + c[17] * wspd)))
    b1 = (c[14] * (1.0 + x) - b1_num) / (exp(0.34 * (wspd - c[18])) + 1.0)

    v0 = c[21] + c[22] * x + c[23] * x2
    d1 = c[24] + c[25] * x + c[26] * x2
    d2 = c[27] + c[28] * x
    v2_raw = wspd / v0 + 1.0
    v2 = where(v2_raw < y0, a_const + b_const * power(v2_raw - 1.0, pn), v2_raw)
    b2 = (0.0 - d1 + d2 * v2) * exp(0.0 - v2)

    return b0 * power(
        1.0 + b1 * cosphi + b2 * (2.0 * cosphi * cosphi - 1.0), zpow
    )


def _cmod5_zhang_a_tree(c: list, inc: Expr, wspd: Expr, phi: Expr) -> Expr:
    """VV->HH via Zhang-A polarization ratio: sigma0_hh = sigma0_vv / PR."""
    ar = [1.3794, -3.19e-2, 1.4e-3]
    br = [-0.1711, 2.6e-3]
    pr_a = ar[0] + ar[1] * inc + ar[2] * inc * inc
    pr_b = br[0] + br[1] * inc
    pr = pr_a * power(wspd, pr_b)
    return _cmod5_tree(c, inc, wspd, phi) / pr


def _cmod5_mouche_tree(c: list, inc: Expr, wspd: Expr, phi: Expr) -> Expr:
    """VV->HH via Mouche et al. (2005) phi-dependent polarization ratio."""
    a0, b0, c0 = 0.00650704, 0.128983, 0.992839
    api2, bpi2, cpi2 = 0.00782194, 0.121405, 0.992839
    api, bpi, cpi = 0.00598416, 0.140952, 0.992885
    p0 = a0 * exp(b0 * inc) + c0
    ppi2 = api2 * exp(bpi2 * inc) + cpi2
    ppi = api * exp(bpi * inc) + cpi
    c0t = (p0 + ppi + 2.0 * ppi2) / 4.0
    c1t = (p0 - ppi) / 2.0
    c2t = (p0 + ppi - 2.0 * ppi2) / 4.0
    phir = radians(phi)
    pr = c0t + c1t * cos(phir) + c2t * cos(2.0 * phir)
    return _cmod5_tree(c, inc, wspd, phi) / pr


# ----------------------------------------------------------------------
# CMOD-IFR2 (copol VV, Legendre/Chebyshev polynomial form)
# ----------------------------------------------------------------------

_IFR2_C = [
    0.0, -2.437597, -1.5670307, 0.3708242, -0.040590, 0.404678, 0.188397,
    -0.027262, 0.064650, 0.054500, 0.086350, 0.055100, -0.058450, -0.096100,
    0.412754, 0.121785, -0.024333, 0.072163, -0.062954, 0.015958, -0.069514,
    -0.062945, 0.035538, 0.023049, 0.074654, -0.014713,
]


def _cmodifr2_tree(inc: Expr, wspd: Expr, phi: Expr) -> Expr:
    c = _IFR2_C
    tetai = (inc - 36.0) / 19.0
    xsq = tetai * tetai
    p1 = tetai
    p2 = (3.0 * xsq - 1.0) / 2.0
    p3 = (5.0 * xsq - 3.0) * tetai / 2.0
    alph = c[1] + c[2] * p1 + c[3] * p2 + c[4] * p3
    beta = c[5] + c[6] * p1 + c[7] * p2

    cosi = cos(radians(phi))
    cos2i = 2.0 * cosi * cosi - 1.0

    tetanor = (2.0 * inc - (18.0 + 58.0)) / (58.0 - 18.0)
    vitnor = (2.0 * wspd - (25.0 + 3.0)) / (25.0 - 3.0)
    pv1 = vitnor
    pv2 = 2.0 * vitnor * pv1 - 1.0
    pv3 = 2.0 * vitnor * pv2 - pv1
    pt1 = tetanor
    pt2 = 2.0 * tetanor * pt1 - 1.0
    b1 = (
        c[8]
        + c[9] * pv1
        + (c[10] + c[11] * pv1) * pt1
        + (c[12] + c[13] * pv1) * pt2
    )
    b2 = (
        c[14]
        + c[15] * pt1
        + c[16] * pt2
        + (c[17] + c[18] * pt1 + c[19] * pt2) * pv1
        + (c[20] + c[21] * pt1 + c[22] * pt2) * pv2
        + (c[23] + c[24] * pt1 + c[25] * pt2) * pv3
    )
    b0 = power(10.0, alph + beta * sqrt(wspd))
    return b0 * (1.0 + b1 * cosi + tanh(b2) * cos2i)


# ----------------------------------------------------------------------
# Crosspol two-zone power-law + sigmoid-blend family (VH, no phi)
# ----------------------------------------------------------------------

@dataclass(frozen=True)
class _ZoneParams:
    z1: tuple          # (a0, b0, b1)
    z2: tuple          # (a0, a1, a2, b0, b1, b2)
    blend: tuple       # (c0, c1, c2, c3)
    db_blend: bool     # blend in dB space (v3/v4 family) vs linear space


def _crosspol_tree(p: _ZoneParams, inc: Expr, wspd: Expr) -> Expr:
    a0_z1, b0_z1, b1_z1 = p.z1
    a0_z2, a1_z2, a2_z2, b0_z2, b1_z2, b2_z2 = p.z2
    c0, c1, c2, c3 = p.blend

    b_z1 = b0_z1 + b1_z1 * inc
    sig_z1 = a0_z1 * power(wspd, b_z1)

    a_z2 = a0_z2 + a1_z2 * inc + a2_z2 * inc * inc
    b_z2 = b0_z2 + b1_z2 * inc + b2_z2 * inc * inc
    sig_z2 = a_z2 * power(wspd, b_z2)

    sg1 = 1.0 / (1.0 + exp((0.0 - c0) * (wspd - c1)))
    sg2 = 1.0 / (1.0 + exp((0.0 - c2) * (wspd - c3)))
    if p.db_blend:
        return power(
            10.0,
            (10.0 * log10(sig_z1) * sg1 + 10.0 * log10(sig_z2) * sg2) / 10.0,
        )
    return sig_z1 * sg1 + sig_z2 * sg2


_CROSSPOL = {
    "gmf_rs2_v2": _ZoneParams(
        z1=(6.55519203e-06, 2.49753154e00, -1.35734881e-02),
        z2=(1.47342197e-04, -4.07334797e-06, 3.43593382e-08,
            1.10188639e00, 1.40782758e-02, -1.53748743e-04),
        blend=(-0.18675905, 24.48859492, 0.19185442, 25.38275738),
        db_blend=False,
    ),
    "gmf_s1_v2": _ZoneParams(
        z1=(2.13755392e-06, 2.47395267e00, -2.85775085e-03),
        z2=(6.54058552e-05, -2.43845137e-06, 2.87698338e-08,
            1.14509104e00, 3.41828829e-02, -4.79715441e-04),
        blend=(-0.23257086, 12.39717002, 0.21667263, 12.22862991),
        db_blend=False,
    ),
    "gmf_rcm_noaa": _ZoneParams(
        z1=(2.2309436836414871e-12, 8.3374911282878728, -0.033443488982800210),
        z2=(7.7945050373193260e-05, -2.4425748662769216e-06,
            2.7625550632547159e-08, 1.2524896108831316,
            0.019203092214131894, -0.00028408046502692580),
        blend=(-0.34498737004629487, 12.558975188752012,
               0.12713502524515713, 4.2806865431046752),
        db_blend=False,
    ),
    "gmf_s1_v3_ew_rec": _ZoneParams(
        z1=(3.5033427638479895e-06, 2.5486758595982275, -0.009042529888607539),
        z2=(4.142689709809047e-05, -1.6620917447744406e-06,
            2.4331104610101826e-08, 1.277314996198736,
            0.03813903872809897, -0.0006506765114704733),
        blend=(-0.2522916645939956, 15.3393676653533,
               0.24259895576004784, 15.203063214062643),
        db_blend=True,
    ),
    "gmf_rs2_v3": _ZoneParams(
        z1=(8.423384272498706e-06, 2.4351127340627374, -0.01450322326682606),
        z2=(0.00014955206131320428, -4.737691852310481e-06,
            3.813107432709729e-08, 1.524883207000445,
            -0.01322253424944054, 0.00037527120092119504),
        blend=(-0.2222881984904166, 13.118282628673661,
               0.21426139278646567, 12.768845054319682),
        db_blend=True,
    ),
    "gmf_rcm_v3": _ZoneParams(
        z1=(7.093964676135241e-06, 2.3722948391886542, -0.009516840375089524),
        z2=(6.689451099284358e-05, -1.3956325894252652e-06,
            9.227949977841212e-09, 1.4687699534267797,
            0.005735224541037088, -7.164130353316848e-05),
        blend=(-0.2454472887447197, 15.537961353644508,
               0.24011368010838255, 15.332883245452303),
        db_blend=True,
    ),
}


def _variant(name: str, b0_z2_scale: float) -> _ZoneParams:
    p = _CROSSPOL[name]
    z2 = list(p.z2)
    z2[3] = z2[3] * b0_z2_scale
    return _ZoneParams(z1=p.z1, z2=tuple(z2), blend=p.blend,
                       db_blend=p.db_blend)


# v4 = v3 with b0_Z2 scaled by 1.01 (reference's "minor correction")
_CROSSPOL["gmf_rcm_v4"] = _variant("gmf_rcm_v3", 1.01)
_CROSSPOL["gmf_rs2_v4"] = _variant("gmf_rs2_v3", 1.01)


def _gmf_dummy_tree(inc: Expr, wspd: Expr) -> Expr:
    """Power-law VH GMF used by the reference's tests (test_xsarsea.py:8-21)."""
    a = (
        0.00013106836021008122
        - 4.530598283705591e-06 * inc
        + 4.429277425062766e-08 * inc * inc
    )
    b = (
        1.3925444179360706
        + 0.004157838450541205 * inc
        + 3.4735809771069953e-05 * inc * inc
    )
    return a * power(wspd, b)


# ----------------------------------------------------------------------
# Registry
# ----------------------------------------------------------------------

@dataclass
class Gmf:
    """A registered geophysical model function.

    ``tree(inc, wspd, phi)`` builds the symbolic expression; for
    phi-independent models the phi argument is ignored.
    """

    name: str
    pol: str                       # 'VV' | 'VH' | 'HH'
    units: str                     # 'linear'
    needs_phi: bool
    wspd_range: tuple
    inc_range: tuple = (16.0, 66.0)
    phi_range: Optional[tuple] = None
    builder: Callable = None
    priority: int = 3              # analytic GMFs (LUT-backed models: 10)

    def tree(self, inc, wspd, phi=None) -> Expr:
        if self.needs_phi:
            if phi is None:
                raise ValueError(f"{self.name} requires phi")
            return self.builder(inc, wspd, phi)
        return self.builder(inc, wspd)


def _mk_registry() -> dict:
    reg = {}

    def add(name, pol, needs_phi, wspd_range, builder):
        reg[name] = Gmf(
            name=name,
            pol=pol,
            units="linear",
            needs_phi=needs_phi,
            wspd_range=wspd_range,
            phi_range=(0.0, 180.0) if needs_phi else None,
            builder=builder,
        )

    add("gmf_cmod5", "VV", True, (0.2, 50.0),
        lambda i, w, p: _cmod5_tree(_CMOD5_C, i, w, p))
    add("gmf_cmod5n", "VV", True, (0.2, 50.0),
        lambda i, w, p: _cmod5_tree(_CMOD5N_C, i, w, p))
    add("gmf_cmod5n_pr_zhangA", "HH", True, (0.2, 50.0),
        lambda i, w, p: _cmod5_zhang_a_tree(_CMOD5N_C, i, w, p))
    add("gmf_cmod5n_pr_mouche1", "HH", True, (0.2, 50.0),
        lambda i, w, p: _cmod5_mouche_tree(_CMOD5N_C, i, w, p))
    add("gmf_cmodifr2", "VV", True, (0.2, 50.0), _cmodifr2_tree)
    add("gmf_dummy", "VH", False, (3.0, 80.0),
        lambda i, w: _gmf_dummy_tree(i, w))
    for nm, params in _CROSSPOL.items():
        add(nm, "VH", False, (3.0, 80.0),
            lambda i, w, _p=params: _crosspol_tree(_p, i, w))
    return reg


GMF_REGISTRY: dict = _mk_registry()


# ----------------------------------------------------------------------
# Compilation helpers
# ----------------------------------------------------------------------

def gmf_expr(name: str, inc="incidence", wspd="wspd", phi="phi") -> Expr:
    """Symbolic tree with the given input column names."""
    g = GMF_REGISTRY[name]
    return g.tree(var(inc), var(wspd), var(phi) if g.needs_phi else None)


def gmf_sql(name: str, inc="incidence", wspd="wspd", phi="phi") -> str:
    """SQL expression string — valid in both Spark SQL and DuckDB."""
    return gmf_expr(name, inc, wspd, phi).sql()


def gmf_numpy(name: str, inc, wspd, phi=None) -> np.ndarray:
    """NumPy evaluation (used for LUT materialization and pUDF kernels)."""
    g = GMF_REGISTRY[name]
    env = {"incidence": np.asarray(inc, dtype=np.float64),
           "wspd": np.asarray(wspd, dtype=np.float64)}
    if g.needs_phi:
        env["phi"] = np.asarray(phi, dtype=np.float64)
    with np.errstate(all="ignore"):
        return gmf_expr(name).ev(env)
