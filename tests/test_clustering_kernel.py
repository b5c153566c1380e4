"""Bit-equality of the three k-means assignment paths.

The Arrow kernel (``_assign_arrow``), the interpreted SQL argmin fold
(``_argmin_expr``) and the k-unrolled codegen columns must produce
IDENTICAL (cluster, dist2) for identical centroids — the oracle
parity of embedding_kmeans/embedding_semdedup depends on it. The
Arrow kernel's distances are ``exactsum.seq_sqdist``, so this also pins
that twin to the SQL fold on inputs where the add order shows.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from .test_exactsum import fold_inputs


def _vecs(spark, n=400, d=24, seed=3, mixed=False):
    rng = np.random.default_rng(seed)
    x = fold_inputs(n, d, seed) if mixed else rng.normal(0, 1, (n, d))
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def _centroids(spark, df, k):
    init = df.orderBy("vec_id").limit(k).collect()
    return {i: list(r["embedding"]) for i, r in enumerate(init)}


def test_arrow_kernel_bitequal_sql_fold(spark):
    """Unit-normal vectors, then mixed magnitudes with cancellation
    (``fold_inputs``), where only the same add order gives the same
    distances."""
    from xsarsea_spark.pipeline.clustering import (_argmin_expr,
                                                   _assign_arrow)

    for mixed in (False, True):
        df = _vecs(spark, mixed=mixed)
        base = df.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .alias("__v"))
        cents = _centroids(spark, df, 17)        # > _UNROLL_K_MAX
        # non-contiguous ids: empty-cluster drop leaves holes in practice
        cents = {c * 3 + 1: v for c, v in cents.items()}

        sql = (base.withColumn("__am", F.expr(_argmin_expr("__v", cents)))
               .select("vec_id", F.col("__am.c").alias("cluster"),
                       F.col("__am.d").alias("dist2"))
               .orderBy("vec_id").collect())
        arrow = (_assign_arrow(base, cents)
                 .select("vec_id", "cluster", "dist2")
                 .orderBy("vec_id").collect())
        assert [tuple(r) for r in arrow] == [tuple(r) for r in sql], mixed


def test_arrow_kernel_bitequal_on_exact_ties(spark):
    """Duplicate centroids force exact distance ties; both paths must
    pick the LOWEST cluster id."""
    from xsarsea_spark.pipeline.clustering import (_argmin_expr,
                                                   _assign_arrow)

    df = _vecs(spark, n=50, d=8, seed=9)
    base = df.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("__v"))
    one = _centroids(spark, df, 1)[0]
    cents = {2: one, 5: list(one), 9: _centroids(spark, df, 2)[1]}

    sql = (base.withColumn("__am", F.expr(_argmin_expr("__v", cents)))
           .select("vec_id", F.col("__am.c").alias("cluster"))
           .orderBy("vec_id").collect())
    arrow = (_assign_arrow(base, cents)
             .select("vec_id", "cluster").orderBy("vec_id").collect())
    assert [tuple(r) for r in arrow] == [tuple(r) for r in sql]
    assert all(r.cluster != 5 for r in sql)  # tie broke to 2, never 5


@pytest.mark.parametrize("k", [9, 23])
def test_full_rounds_match_sql_fold_twin(spark, k, monkeypatch):
    """kmeans_embeddings end-to-end: the Arrow-kernel build equals a
    run forced through the SQL fold (monkeypatched), rounds included
    — so centroid updates see bit-identical assignments."""
    import xsarsea_spark.pipeline.clustering as cl

    df = _vecs(spark, n=300, d=12, seed=k)
    want_fn = cl._assign_arrow
    got = (cl.kmeans_embeddings(df, k=k, rounds=3)
           .orderBy("vec_id").collect())

    def sql_assign(base, centroids):
        return (base.withColumn(
            "__am", F.expr(cl._argmin_expr("__v", centroids)))
            .select("vec_id", "__v",
                    F.col("__am.c").alias("cluster"),
                    F.col("__am.d").alias("dist2")))

    monkeypatch.setattr(cl, "_assign_arrow", sql_assign)
    try:
        want = (cl.kmeans_embeddings(df, k=k, rounds=3)
                .orderBy("vec_id").collect())
    finally:
        monkeypatch.setattr(cl, "_assign_arrow", want_fn)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
