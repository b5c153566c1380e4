"""Embedding clustering for corpus curation (SemDeDup-style k-means).

Lloyd's algorithm with deterministic, engine-replicable arithmetic:

- init: the ``k`` lowest-id vectors are the starting centroids;
- assignment: squared L2 distance folded LEFT-TO-RIGHT over the vector
  index (``aggregate(zip_with(...))`` — the same op sequence DuckDB's
  ``list_reduce(list_transform(...))`` produces), ties to the lowest
  cluster id;
- update: per-(cluster, dim) mean over the scale-``KM_SCALE`` decimal
  grid (``operators/exactsum.py`` — per-row quantize to BIGINT, sum
  long accumulators, recombine once per group), which is
  order-independent and therefore bit-reproducible in any engine;
  the oracle applies the identical ``DECIMAL(38, KM_SCALE)`` sum.

Driver state is the k x dim centroid matrix per round — the canonical
Lloyd's layout (what MLlib's KMeans keeps on the driver too); all
per-vector work stays distributed. The exactsum update replaces the
earlier sorted-struct fold, which collected every member value of a
(cluster, dim) group into one array — group width grew with cluster
size, an executor-OOM shape at 100 TB. The long-backed sums are
map-side combined and O(1) per group; the cost is a documented
1e-9 quantization of each value entering the centroid mean — applied
identically on the oracle side, so rounds stay bit-exact across
engines.

Parity: reference has no clustering pillar; engine-brief extension
(embedding curation). Cluster sizes + inertia per round make this the
standard SemDeDup pre-pass (cluster then near-dup within clusters).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.expr import double_lit
from xsarsea_spark.operators.exactsum import (ExactSumSpec, exact_sum_agg,
                                              seq_sqdist)

__all__ = ["kmeans_embeddings", "KM_SCALE"]

# Centroid-update quantization: each coordinate is rounded to the
# 1e-9 grid before the order-independent sum. Embedding coordinates
# are O(1), so |x| * 1e9 stays far inside the exact-conversion bound
# (~2^51); the matching oracle sums DECIMAL(38, KM_SCALE).
KM_SCALE = 9

# Assignment layout split: codegen'd unrolled distance columns up to
# this k (fastest at small k), an Arrow/NumPy kernel above it
# (required for sqrt(n)-sized k). Same arithmetic either way.
_UNROLL_K_MAX = 8


def _assign_arrow(base: DataFrame, centroids: dict[int, list[float]]):
    """Large-k assignment of (vec_id, __v) rows as an Arrow kernel,
    BIT-IDENTICAL to the SQL fold paths:

    - distance accumulates dimension-by-dimension left-to-right
      (``exactsum.seq_sqdist``), the exact op order of
      ``aggregate(zip_with(...))`` and of the oracle's
      ``list_reduce(list_transform(...))``;
    - argmin scans centroids in ascending cluster id keeping the
      strict first minimum (``np.argmin``), the fold's
      ``IF(dd < a.d, ...)`` tie-break.

    Replaces the interpreted ``_argmin_expr`` lambda fold, which was
    the measured residual cost of embedding_semdedup (the per-row
    per-centroid lambda interpretation); the kernel is vectorized
    over rows AND centroids with only the dim loop in python.
    ``_argmin_expr`` is kept as the pure-SQL twin (plan-portable,
    used by tests to pin kernel/SQL bit-equality).
    """

    keys = sorted(centroids)
    cmat = np.asarray([centroids[c] for c in keys], dtype=np.float64)
    kid = np.asarray(keys, dtype=np.int64)
    schema = T.StructType([
        base.schema["vec_id"],
        T.StructField("__v", T.ArrayType(T.DoubleType())),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("dist2", T.DoubleType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(list(pdf["__v"]), dtype=np.float64)
            acc = seq_sqdist(v, cmat)
            pos = np.argmin(acc, axis=1)      # first min, ascending id
            out = pdf[["vec_id", "__v"]].copy()
            out["cluster"] = kid[pos].astype(np.int32)
            out["dist2"] = acc[np.arange(len(v)), pos]
            yield out

    return base.mapInPandas(kernel, schema)


def _dist_expr(vec_col: str, centroid: list[float]) -> str:
    # NOTE: a flat dim-unrolled (x-c)^2 sum was tried here — it ~4x'd
    # embedding_semdedup (the assignment subplan appears on both
    # sides of the pair self-join, and duplicated 256-term codegen
    # methods overwhelm the JIT), while barely moving plain k-means.
    # The lambda fold stays.
    lits = ", ".join(double_lit(v) for v in centroid)
    return (
        f"aggregate(zip_with({vec_col}, array({lits}),"
        f" (x, c) -> (x - c) * (x - c)),"
        f" CAST(0 AS DOUBLE), (a, y) -> a + y)"
    )


def _argmin_expr(vec_col: str, centroids: dict[int, list[float]]) -> str:
    """Single-expression argmin over all k centroids — the large-k
    assignment path.

    One fold over an array of (cluster, centroid) structs, with the
    per-centroid distance let-bound via the aggregate-over-singleton
    idiom so it is evaluated once per centroid. Unlike the k-unrolled
    column layout (one distance column per centroid + least() + a
    k-branch CASE chain) its codegen size is constant in k, so it
    scales to the sqrt(n)-sized k SemDeDup wants; the trade is
    interpreted lambda evaluation, measured ~1.8x slower than the
    codegen'd columns at k=4 — hence the ``_UNROLL_K_MAX`` split in
    :func:`kmeans_embeddings`.

    Strict ``<`` keeps the first minimum while folding in ascending
    cluster order — the same lowest-cluster-id tie-break the oracle's
    ``ORDER BY dist, cluster`` and the unrolled path's least()/CASE
    chain produce; both paths share the same per-centroid fold, so
    they are arithmetic-identical and oracle-interchangeable.
    """
    cents = ", ".join(
        "named_struct('c', {c}, 'v', array({lits}))".format(
            c=c,
            lits=", ".join(double_lit(v) for v in centroids[c]))
        for c in sorted(centroids))
    dist = (
        f"aggregate(zip_with({vec_col}, ct.v,"
        f" (x, c) -> (x - c) * (x - c)),"
        f" CAST(0 AS DOUBLE), (a, y) -> a + y)"
    )
    return (
        f"aggregate(array({cents}),"
        f" named_struct('d', CAST('Infinity' AS DOUBLE), 'c', -1),"
        f" (acc, ct) -> aggregate(array({dist}), acc,"
        f" (a, dd) -> IF(dd < a.d, named_struct('d', dd, 'c', ct.c),"
        f" a)))"
    )


def kmeans_embeddings(
    vecs: DataFrame,
    k: int = 4,
    rounds: int = 3,
) -> DataFrame:
    """Returns (vec_id, cluster, dist2) after ``rounds`` Lloyd steps."""
    base = vecs.select(
        F.col("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("__v"),
    )
    # Input contract: finite vectors only. A NaN coordinate poisons
    # every distance (the row then lands in a NULL/-1 cluster and the
    # centroid state dict chokes on the key); dropping such rows here
    # is a no-op on well-formed corpora and keeps both engines' round
    # arithmetic aligned.
    base = base.filter(
        F.expr("NOT exists(__v, x -> x IS NULL OR isnan(x))"))
    init = base.orderBy("vec_id").limit(k).collect()
    centroids: dict[int, list[float]] = {
        i: list(r["__v"]) for i, r in enumerate(init)
    }

    assigned = None
    for rnd in range(rounds):
        if len(centroids) <= _UNROLL_K_MAX:
            ids = sorted(centroids)
            work = base
            for c in ids:
                work = work.withColumn(
                    f"__d{c}", F.expr(_dist_expr("__v", centroids[c]))
                )
            mincol = F.least(*[F.col(f"__d{c}") for c in ids])
            cl = None
            for c in ids:
                cond = F.col(f"__d{c}") == mincol
                cl = F.when(cond, F.lit(c)) if cl is None else cl.when(
                    cond, F.lit(c))
            assigned = work.withColumn("cluster", cl).withColumn(
                "dist2", mincol)
        else:
            assigned = _assign_arrow(base, centroids)
        if rnd == rounds - 1:
            break  # output is the final assignment; no wasted update
        upd = (
            exact_sum_agg(
                assigned.select(
                    "cluster", F.posexplode("__v").alias("__d", "__x")),
                ["cluster", "__d"],
                [ExactSumSpec("__c", "__x", scale=KM_SCALE, avg=True)])
            .groupBy("cluster")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(__d, __c))),"
                " s -> s.__c)").alias("__cent"))
            .collect()
        )
        centroids = {r["cluster"]: list(r["__cent"]) for r in upd}

    return assigned.select("vec_id", "cluster", "dist2")
