"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen so the
same code is correct and fast on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- Arrow on (vectorized pandas UDF exchange for the kernels that need it);
- shuffle partitions sized for the local test harness via env; on a real
  cluster AQE coalesces from a larger initial number;
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session"]


def get_session(
    app_name: str = "xsarsea-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("XSARSEA_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("XSARSEA_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
