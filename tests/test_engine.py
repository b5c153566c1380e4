"""Engine materialization + conf-namespace tests.

The iterative operators (components, BPE, PageRank, SemDeDup) truncate
lineage via ``xsarsea_spark.engine.materialize``; these tests pin the
contract the 100x-scale story depends on:

- with no checkpoint dir configured, ``materialize`` localCheckpoints
  (no DFS I/O for single-node runs);
- with ``spark.xsarsea.checkpoint.dir`` set, it takes the reliable
  ``checkpoint()`` path — and the results are value-identical;
- an iterative operator (dup_components) produces the same labeling
  both ways;
- the package reads only the deployment keys of the ``spark.xsarsea.*``
  namespace; operator tuning is keyword arguments.
"""

from __future__ import annotations

import ast
import pathlib
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from xsarsea_spark.engine import CONF_CHECKPOINT_DIR, materialize


@pytest.fixture()
def ckpt_dir(spark):
    d = tempfile.mkdtemp(prefix="xsarsea-ckpt-")
    yield d
    spark.conf.unset(CONF_CHECKPOINT_DIR)
    # reset the context-level dir so later tests see the local path
    sc = spark.sparkContext
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(
        sc._jvm.scala.Option.apply(None))
    shutil.rmtree(d, ignore_errors=True)


def test_materialize_local_by_default(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = materialize(df)
    assert out.count() == 100
    # localCheckpoint leaves the context checkpoint dir unset
    assert spark.sparkContext.getCheckpointDir() is None


def test_materialize_reliable_when_dir_configured(spark, ckpt_dir):
    spark.conf.set(CONF_CHECKPOINT_DIR, ckpt_dir)
    df = spark.range(100).withColumn("v", F.col("id") * 3)
    out = materialize(df)
    assert out.count() == 100
    # the reliable path set the context dir and wrote RDD blocks there
    assert ckpt_dir in (spark.sparkContext.getCheckpointDir() or "")
    import os
    written = [
        f for root, _, files in os.walk(ckpt_dir) for f in files
    ]
    assert written, "reliable checkpoint wrote no block files"


def test_iterative_operator_identical_both_ways(spark, ckpt_dir):
    from xsarsea_spark.pipeline.sampling import dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a int, id_b int",
    )
    # force the distributed label-propagation path so materialize is
    # actually in the loop (driver union-find would bypass it)
    local = sorted(tuple(r) for r in
                   dup_components(pairs, local_threshold=0).collect())
    spark.conf.set(CONF_CHECKPOINT_DIR, ckpt_dir)
    reliable = sorted(tuple(r) for r in
                      dup_components(pairs, local_threshold=0).collect())
    assert local == reliable
    assert local == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                     (20, 20), (21, 20), (22, 20)]


def test_scratch_path_respects_conf_and_isolates_keys(spark):
    from xsarsea_spark.engine import scratch_path

    default = scratch_path(spark, "idx", "/data/a")
    assert default.startswith("/tmp/xsarsea_idx_")
    assert default != scratch_path(spark, "idx", "/data/b")
    spark.conf.set("spark.xsarsea.scratch.dir", "/tmp/sessA/")
    try:
        moved = scratch_path(spark, "idx", "/data/a")
        assert moved.startswith("/tmp/sessA/xsarsea_idx_")
        assert moved.rsplit("_", 1)[1] == default.rsplit("_", 1)[1]
    finally:
        spark.conf.unset("spark.xsarsea.scratch.dir")


def test_package_reads_only_deployment_conf_keys():
    """Operator tuning is keyword arguments: the only ``spark.xsarsea.*``
    keys the package names are the deployment settings and the contract
    check switch. A string constant that is a key (no whitespace, so not
    prose) or a bare key prefix for building one counts as a read."""
    import xsarsea_spark

    allowed = {"spark.xsarsea.scratch.dir", "spark.xsarsea.checkpoint.dir",
               "spark.xsarsea.psl.path", "spark.xsarsea.debug.checks"}
    key = re.compile(r"spark\.xsarsea\.\S*")
    root = pathlib.Path(xsarsea_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and key.fullmatch(node.value)):
                found.add((node.value, str(path.relative_to(root))))
    assert {k for k, _ in found} == allowed, sorted(
        (k, f) for k, f in found if k not in allowed)
