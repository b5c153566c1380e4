"""Query suite: importing this package registers every QuerySpec.

Each submodule registers (Spark, oracle-SQL) pairs into
``xsarsea_spark.suite.base.REGISTRY`` at import time.
"""

import importlib

from xsarsea_spark.suite.base import REGISTRY, QuerySpec, spec

# Import for side effect: populate REGISTRY.
for _m in ("relational", "relational_ext", "relational_full", "science",
           "streaks", "pipeline_suite", "events_suite", "catalog_suite",
           "raster"):
    importlib.import_module(f"{__name__}.{_m}")

__all__ = ["REGISTRY", "QuerySpec", "spec"]
