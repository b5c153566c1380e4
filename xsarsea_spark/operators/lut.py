"""LUT construction and materialization.

Parity targets: xsarsea ``gmfs.py:351-395`` (``GmfModel._raw_lut`` —
generate a gridded LUT by evaluating the analytic GMF over an
(incidence, wspd[, phi]) lattice) and ``models.py:232-262``
(``Model.to_netcdf`` — materialize a LUT with range/step metadata; ours
sinks to Parquet).

Grid generation is ``spark.range`` arithmetic (distributed, no driver
materialization); the GMF's NumPy form (compiled from the same
expression tree as its SQL form) is evaluated over it in Arrow
batches. For the inversion kernel the bounded LUT is instead evaluated
driver-side with NumPy and shipped as a broadcast variable — the
reference's "LUTs are the broadcast side" design (SURVEY.md §2.3).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.functions.gmfs import GMF_REGISTRY, gmf_numpy
from xsarsea_spark.operators.interp import GridAxis

__all__ = [
    "axis_from_range",
    "grid_df",
    "gmf_to_lut",
    "gmf_lut_numpy",
    "LOW_RES_STEPS",
    "HIGH_RES_STEPS",
]

# reference defaults (models.py:42-48): low-res generation steps and
# high-res interpolation target steps for (incidence, wspd, phi)
LOW_RES_STEPS = {"incidence": 1.0, "wspd": 0.2, "phi": 2.5}
HIGH_RES_STEPS = {"incidence": 0.1, "wspd": 0.1, "phi": 1.0}


def axis_from_range(name: str, lo: float, hi: float, step: float) -> GridAxis:
    n = int(round((hi - lo) / step)) + 1
    return GridAxis(name, lo, step, n)


def grid_df(spark: SparkSession, axes: list[GridAxis]) -> DataFrame:
    """Cartesian lattice over the axes via spark.range cross joins.

    Each axis contributes ``<name>_idx`` (long) and ``<name>`` (double,
    x0 + idx*step — the same closed form the NumPy and oracle sides
    use, so coordinates are bit-identical everywhere).
    """
    out = None
    for ax in axes:
        a = spark.range(ax.n).select(
            F.col("id").alias(f"{ax.name}_idx"),
            (F.lit(ax.x0) + F.col("id").cast("double") * F.lit(ax.step)).alias(
                ax.name
            ),
        )
        out = a if out is None else out.crossJoin(a)
    return out


def gmf_to_lut(
    spark: SparkSession,
    model: str,
    inc_step: float | None = None,
    wspd_step: float | None = None,
    res: str = "low",
) -> tuple[DataFrame, list[GridAxis]]:
    """Materialize a GMF as a gridded LUT DataFrame (+ axis metadata).

    Evaluates the dual-compiled NumPy form of the GMF in Arrow batches
    — bit-identical values to the SQL expression form (the expression
    tree compiles to both; the inversion oracles depend on that
    equivalence) at ~10x the throughput of the deeply-nested codegen'd
    SQL on the reference's high-res grids.
    """
    g = GMF_REGISTRY[model]
    steps = LOW_RES_STEPS if res == "low" else HIGH_RES_STEPS
    inc_step = inc_step or steps["incidence"]
    wspd_step = wspd_step or steps["wspd"]
    axes = [
        axis_from_range("incidence", g.inc_range[0], g.inc_range[1], inc_step),
        axis_from_range("wspd", g.wspd_range[0], g.wspd_range[1], wspd_step),
    ]
    if g.needs_phi:
        axes.append(axis_from_range("phi", g.phi_range[0], g.phi_range[1],
                                    steps["phi"]))
    grid = grid_df(spark, axes)

    schema = (", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in grid.schema.fields)
              + ", sigma0_model double")
    needs_phi = g.needs_phi

    def _eval(batches):
        for pdf in batches:
            inc = pdf["incidence"].to_numpy(np.float64)
            ws = pdf["wspd"].to_numpy(np.float64)
            ph = pdf["phi"].to_numpy(np.float64) if needs_phi else None
            out = pdf.copy()
            out["sigma0_model"] = gmf_numpy(model, inc, ws, ph)
            yield out

    return grid.mapInPandas(_eval, schema), axes


def gmf_lut_numpy(model: str, axes: list[GridAxis]) -> dict:
    """Driver-side NumPy LUT (for broadcast into inversion kernels).

    Coordinates use the same x0 + i*step closed form as
    :func:`grid_df`, so the two materializations agree bit-for-bit.
    """
    g = GMF_REGISTRY[model]
    coords = {
        ax.name: ax.x0 + np.arange(ax.n, dtype=np.float64) * ax.step
        for ax in axes
    }
    mesh = np.meshgrid(*[coords[ax.name] for ax in axes], indexing="ij")
    env = dict(zip([ax.name for ax in axes], mesh))
    sig = gmf_numpy(
        model,
        env["incidence"],
        env["wspd"],
        env.get("phi") if g.needs_phi else None,
    )
    return {"coords": coords, "sigma0": sig, "model": model}
