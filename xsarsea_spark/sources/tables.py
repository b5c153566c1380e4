"""Parquet table loaders for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
an ``sf_dir``.

At 100 TB these would be partitioned/bucketed datasets; the loaders
keep the access path identical (``spark.read.parquet`` benefits from
predicate pushdown, column pruning and partition pruning either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to BIGINT **nanoseconds** since epoch.

    The suite's event-time contract is integer math on ``ts`` (micros =
    ``ts DIV 1000``), exact in BIGINT and bit-identical to DuckDB's
    ``epoch_us(ts)``. The driver's parquet has shipped both physical
    types across rounds — TIMESTAMP(NANOS) (readable only as raw-nanos
    BIGINT via ``nanosAsLong``) and TIMESTAMP(MICROS) (read as
    TIMESTAMP/_NTZ) — so normalize here instead of assuming one.
    The NTZ->TIMESTAMP cast is wall-clock-preserving and the session
    timezone is pinned UTC, so ``unix_micros`` is exact.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df  # already raw nanos
    return df.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(name)
    if name == "events":
        # Needed only when events.parquet stores TIMESTAMP(NANOS);
        # harmless otherwise. See normalize_event_ts.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(
            spark.read.parquet(f"{sf_dir}/{name}.parquet")
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
