"""Lifecycle shared by the suite's foreachBatch stream queries.

Every ``stream_*`` foreachBatch query runs an availableNow query to
completion over one checkpoint, usually twice (the second run reads
no new files and proves the source-side no-op). The stateful ones
keep versioned state under one directory, one ``v{batch_id}`` per
micro-batch, with one replay contract: batch N builds ``v{N}`` from
the latest version STRICTLY BELOW N plus its own rows, never from its
own output. A batch re-delivered after a crash (its ``v{N}`` written,
the checkpoint commit lost) therefore rebuilds the same ``v{N}``, and
so does one that crashed inside :func:`engine.fs_write_text`'s
delete-then-rename window (``v{N}`` absent, ``v{N}.tmp`` left behind).

These functions only run queries and find versions. Payload I/O stays
with the caller: :func:`engine.save_kv_json` / :func:`load_kv_json`
for bounded JSON state, parquet where a caller keeps a table.
Version listing goes through the Hadoop FS API, so state directories
may be DFS URIs; :func:`stage_arrival` is local-only scaffolding.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from xsarsea_spark.engine import fs_list_names

__all__ = ["run_available_now", "version_below", "latest_version",
           "stage_arrival"]

# ``v{N}`` exactly: skips ``v{N}.tmp`` leftovers and any sidecar
_VERSION = re.compile(r"v(\d+)")


def run_available_now(src: DataFrame, fn, ckpt: str) -> None:
    """Run ``src`` through ``foreachBatch(fn)`` with an availableNow
    trigger over checkpoint ``ckpt`` and wait for it to finish."""
    (src.writeStream.foreachBatch(fn)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def _versions(spark: SparkSession, state_dir: str) -> list[int]:
    return sorted(int(m.group(1)) for m in
                  map(_VERSION.fullmatch, fs_list_names(spark, state_dir))
                  if m)


def version_below(spark: SparkSession, state_dir: str,
                  batch_id: int) -> str | None:
    """Path of the latest ``v{k}`` with ``k < batch_id``, or None."""
    below = [k for k in _versions(spark, state_dir) if k < batch_id]
    return os.path.join(state_dir, f"v{below[-1]}") if below else None


def latest_version(spark: SparkSession, state_dir: str,
                   expect: int | None = None) -> str:
    """Path of the latest version. Raises RuntimeError when there is
    none, or when ``expect`` is given and the number of versions
    differs (a micro-batch was skipped or duplicated)."""
    vers = _versions(spark, state_dir)
    if not vers or (expect is not None and len(vers) != expect):
        raise RuntimeError(
            f"expected {expect or 'some'} versions in {state_dir}, "
            f"got {vers}: a micro-batch was skipped or duplicated")
    return os.path.join(state_dir, f"v{vers[-1]}")


def stage_arrival(src_dir: str, watch: str, prefix: str) -> None:
    """Simulate a file arrival: copy the parquet files of ``src_dir``
    into the watched directory as ``{prefix}_{name}``."""
    for fn in os.listdir(src_dir):
        if fn.endswith(".parquet"):
            shutil.copy(os.path.join(src_dir, fn),
                        os.path.join(watch, f"{prefix}_{fn}"))
