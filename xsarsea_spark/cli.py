"""Batch model-export entry point (the ``models_to_nc`` CLI analog,
xsarsea ``src/scripts/xsarsea_cli.py:12-29``): materialize every
registered analytic GMF as a Parquet LUT table with range/step
metadata.

Usage: ``python -m xsarsea_spark.cli OUTDIR [--res low|high]``
"""

from __future__ import annotations

import json
import os
import sys

from xsarsea_spark.utils import timing


@timing()
def export_all_luts(spark, outdir: str, res: str = "low",
                    models: list[str] | None = None) -> dict:
    """Loop the catalog's GMFs, build each LUT with spark.range
    lattice + expression evaluation, sink to Parquet with metadata."""
    import numpy as np

    from xsarsea_spark.functions.gmfs import GMF_REGISTRY
    from xsarsea_spark.operators.lut import gmf_to_lut

    written = {}
    for name in (models or sorted(GMF_REGISTRY)):
        df, axes = gmf_to_lut(spark, name, res=res)
        path = os.path.join(outdir, f"lut_{name}")
        # distributed write of the long-form table
        df.write.mode("overwrite").parquet(path)
        # metadata sidecar from the axis definitions
        meta = {
            "model": name,
            "units": GMF_REGISTRY[name].units,
            "dims": [ax.name for ax in axes],
            "axes": {ax.name: {"x0": ax.x0, "step": ax.step, "n": ax.n,
                               "hi": ax.x0 + (ax.n - 1) * ax.step}
                     for ax in axes},
            "cells": int(np.prod([ax.n for ax in axes])),
        }
        with open(os.path.join(path, "_lut_meta.json"), "w") as f:
            json.dump(meta, f)
        written[name] = meta
    return written


def main(argv: list[str] | None = None) -> int:
    args = list(argv if argv is not None else sys.argv[1:])
    if not args:
        print(__doc__)
        return 2
    outdir = args[0]
    res = "low"
    if "--res" in args:
        res = args[args.index("--res") + 1]
    from xsarsea_spark.session import get_session

    spark = get_session()
    written = export_all_luts(spark, outdir, res=res)
    for name, meta in written.items():
        print(f"{name}: {meta['cells']} cells -> lut_{name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
