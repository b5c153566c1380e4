"""Query-suite registry: every operator ships as a (Spark, oracle-SQL) pair.

A :class:`QuerySpec` binds one engine capability to

- ``spark``: ``(SparkSession, sf_dir) -> DataFrame`` — the engine path
  (DataFrame API / pandas-UDF kernels / custom operators);
- ``oracle``: equivalent ANSI SQL for DuckDB over the same parquet
  tables (pre-registered views), or ``None`` for ops that are not
  SQL-expressible (streaming, iterative) — those get a rows-only check.

The exact-arithmetic helpers the specs use (``DSUM``, ``DAVG``,
``QTRUNC``) and their conventions live in
:mod:`xsarsea_spark.operators.exactsum`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

__all__ = ["QuerySpec", "REGISTRY", "spec"]


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str = ""
    tags: tuple = ()


REGISTRY: "dict[str, QuerySpec]" = {}


def spec(name: str, oracle: Optional[str], description: str = "",
         tags: tuple = ()):
    """Decorator: register the Spark callable for ``name``."""

    def deco(fn):
        REGISTRY[name] = QuerySpec(
            name=name, spark=fn, oracle=oracle, description=description,
            tags=tags,
        )
        return fn

    return deco

