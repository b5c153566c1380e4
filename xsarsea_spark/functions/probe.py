"""GMF registration probe + decorator.

Parity target: xsarsea ``gmfs.py:23-162`` — ``GmfModel.register``
validates a GMF at registration time by PROBING it with test values:
does it need ``phi``; is the phi period 180 or 360 degrees; do the
declared units have a plausible sign/magnitude.

Here GMFs are symbolic expression trees (xsarsea_spark.expr), so the
probe evaluates the NumPy compilation of the tree — same checks, same
decision points, no scalar-Python kernel involved.
"""

from __future__ import annotations

import numpy as np

from xsarsea_spark.functions.gmfs import GMF_REGISTRY, Gmf, gmf_numpy

__all__ = ["probe_gmf", "register_gmf"]


def probe_gmf(name: str) -> dict:
    """Probe a registered GMF (gmfs.py:137-162 semantics):

    - ``needs_phi``: output varies when phi varies;
    - ``phi_period``: 180 if f(phi) == f(phi + 180) for all probe
      points, else 360;
    - ``units_ok``: linear sigma0 must be positive and bounded at
      reference conditions.
    """
    g: Gmf = GMF_REGISTRY[name]
    inc = np.array([20.0, 35.0, 45.0])
    wspd = np.array([5.0, 10.0, 20.0])
    out: dict = {"name": name}
    if g.needs_phi:
        phi = np.array([0.0, 45.0, 90.0])
        base = gmf_numpy(name, inc, wspd, phi)
        shifted = gmf_numpy(name, inc, wspd, phi + 180.0)
        varies = not np.allclose(
            base, gmf_numpy(name, inc, wspd, phi + 30.0),
            rtol=1e-12, atol=0,
        )
        out["needs_phi"] = bool(varies)
        out["phi_period"] = 180 if np.allclose(
            base, shifted, rtol=1e-9, atol=1e-300) else 360
        vals = base
    else:
        vals = gmf_numpy(name, inc, wspd)
        out["needs_phi"] = False
        out["phi_period"] = None
    out["units_ok"] = bool(np.all(vals > 0) and np.all(vals < 10))
    return out


def register_gmf(name: str, pol: str, wspd_range=(0.2, 50.0),
                 needs_phi: bool | None = None):
    """Decorator registering a new symbolic GMF builder of linear
    sigma0 over incidence 16-66 deg into GMF_REGISTRY with a
    registration-time probe (the ``GmfModel.register`` analog). The
    builder takes (inc, wspd[, phi]) Exprs and returns an Expr."""

    def deco(builder):
        import inspect

        nphi = needs_phi
        if nphi is None:
            nphi = len(inspect.signature(builder).parameters) >= 3
        GMF_REGISTRY[name] = Gmf(
            name=name, pol=pol, units="linear", needs_phi=nphi,
            wspd_range=tuple(wspd_range),
            phi_range=(0.0, 180.0) if nphi else None,
            builder=builder,
        )
        report = probe_gmf(name)
        if not report["units_ok"]:
            del GMF_REGISTRY[name]
            raise ValueError(
                f"GMF {name!r} failed the units probe: {report}")
        if nphi and not report["needs_phi"]:
            del GMF_REGISTRY[name]
            raise ValueError(
                f"GMF {name!r} declares phi but output ignores it")
        return builder

    return deco
