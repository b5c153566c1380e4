"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path for embedding similarity (next to the
random-hyperplane LSH in pipeline.similarity): a coarse k-means
quantizer partitions the corpus into cells; queries probe only the
``n_probe`` nearest cells and run exact cosine inside them.

Scale design:

- training runs Lloyd iterations where the ONLY driver-side state is
  the centroid matrix (n_centroids x dim floats — KBs); assignments
  and per-cell sums are distributed aggregations;
- the index is just a ``cell`` column on the corpus — at 100 TB it
  becomes the partition/bucket key, so a probe reads only its cells'
  files;
- search touches corpus rows of the probed cells only — never
  all-pairs.

Determinism and oracle parity: centroids initialize from the first
``n_centroids`` vectors by id; every float reduction is a
left-to-right fold over the dimension index (``_seq_matmul`` /
``_seq_norm`` below — bit-identical to a SQL
``aggregate(zip_with(...))`` fold, unlike BLAS matmul or NumPy
pairwise summation, whose accumulation trees are
implementation-defined); and Lloyd centroid sums go through the
scale-``IVF_SCALE`` integer grid (the operators/exactsum.py pattern),
so they are order-independent. Together these make the whole index +
search value-replicable by a chained-CTE DuckDB oracle
(suite.pipeline_suite._ivf_oracle), not just rows-reproducible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.operators.exactsum import grid
from xsarsea_spark.pipeline.similarity import KNN_K, _DOT, with_norm

__all__ = ["train_ivf", "assign_cells", "ivf_search", "IVF_SCALE"]

# Centroid-sum quantization grid (matches the oracle's DECIMAL(38,9)).
IVF_SCALE = 9
IVF_ITERS = 3     # Lloyd rounds of train_ivf
IVF_PROBE = 4     # cells ivf_search probes per query


def _seq_matmul(v: np.ndarray, c: np.ndarray) -> np.ndarray:
    """v @ c.T with a left-to-right fold over the dim axis.

    One vectorized add per dimension — each element accumulates in
    ascending-index order with one rounding per step, exactly the SQL
    ``aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, t) -> s + t)``
    fold. ~2-4x slower than BLAS dgemm; the price of replicability.
    """
    acc = np.zeros((v.shape[0], c.shape[0]))
    for d in range(v.shape[1]):
        acc += v[:, d, None] * c[None, :, d]
    return acc


def _seq_norm(v: np.ndarray) -> np.ndarray:
    """sqrt of the ascending-index sum of squares (fold-ordered)."""
    acc = np.zeros(v.shape[0])
    for d in range(v.shape[1]):
        acc += v[:, d] * v[:, d]
    return np.sqrt(acc)


def _sim_to(v: np.ndarray, c: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Cosine similarity block with the oracle's exact op order:
    ``(dot / vnorm) / cnorm``, zero norms guarded to 1."""
    vn = _seq_norm(v)
    vn[vn == 0] = 1.0
    return _seq_matmul(v, c) / vn[:, None] / cn[None, :]


def _guarded_norms(c: np.ndarray) -> np.ndarray:
    cn = _seq_norm(c)
    cn[cn == 0] = 1.0
    return cn


def train_ivf(corpus: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Deterministic Lloyd training (``IVF_ITERS`` rounds); returns the
    centroid matrix."""
    dim = len(corpus.select("embedding").first()[0])
    init = (
        corpus.orderBy("vec_id").limit(n_centroids)
        .select("embedding").collect()
    )
    centroids = np.stack(
        [np.asarray(r[0], dtype=np.float64) for r in init])
    part_schema = T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("q", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    for _ in range(IVF_ITERS):
        # The assign kernel already holds the vectors, so each Arrow
        # batch emits per-cell partial sums directly (map-side
        # combine): n_cells x dim rows per batch instead of re-joining
        # the corpus and exploding rows x dim elements through a
        # shuffle. Only the final n_cells x dim reduction reaches the
        # driver — the bounded centroid state Lloyd needs anyway.
        # Partials are scale-IVF_SCALE integer quanta, so the batch
        # grouping and the Spark SUM order can't perturb the result.
        c = np.ascontiguousarray(centroids, dtype=np.float64)
        cn = _guarded_norms(c)

        def partial_gen(batches, c=c, cn=cn):
            for pdf in batches:
                v = np.stack(
                    [np.asarray(x, dtype=np.float64)
                     for x in pdf["embedding"]])
                cell = np.argmax(_sim_to(v, c, cn), axis=1)
                quanta = grid(v, IVF_SCALE)
                rows = []
                for cid in np.unique(cell):
                    m = cell == cid
                    s = quanta[m].sum(axis=0)
                    n = int(m.sum())
                    rows.extend(
                        (int(cid), i, int(s[i]), n)
                        for i in range(v.shape[1]))
                yield pd.DataFrame(rows,
                                   columns=["cell", "i", "q", "n"])

        sums = (
            corpus.select("embedding").mapInPandas(partial_gen,
                                                   schema=part_schema)
            .groupBy("cell", "i")
            .agg(F.sum("q").alias("q"), F.sum("n").alias("n"))
            .collect()
        )
        new = centroids.copy()
        seen = set()
        for r in sums:
            # double(q)/10^s then /n — the oracle's
            # CAST(SUM(DECIMAL) AS DOUBLE) / COUNT, rounding for
            # rounding
            new[r["cell"], r["i"]] = (
                float(r["q"]) / 10.0 ** IVF_SCALE) / r["n"]
            seen.add(r["cell"])
        for cell in range(len(centroids)):
            if cell not in seen:
                new[cell] = centroids[cell]
        centroids = new
    return centroids


def assign_cells(corpus: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Index: corpus rows tagged with their nearest-centroid cell.

    One passthrough kernel pass — every corpus column rides the same
    Arrow batch that computes the assignment, so no corpus-wide join
    re-attaches ``cell`` (the join shape shuffled the vectors by id
    on both sides of a sort-merge join just to glue on one int)."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    cn = _guarded_norms(c)
    schema = T.StructType(
        [corpus.schema["vec_id"]]
        + [f for f in corpus.schema.fields if f.name != "vec_id"]
        + [T.StructField("cell", T.IntegerType())])
    cols = ["vec_id"] + [n for n in corpus.columns if n != "vec_id"]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            # cosine assignment (argmax similarity; ties -> lowest
            # cell, same as the oracle's ORDER BY sim DESC, cell)
            out = pdf[cols].copy()
            out["cell"] = np.argmax(
                _sim_to(v, c, cn), axis=1).astype(np.int32)
            yield out

    return corpus.mapInPandas(gen, schema=schema)


def ivf_search(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    centroids: np.ndarray,
) -> DataFrame:
    """Probe the ``IVF_PROBE`` nearest cells per query, exact cosine
    inside.

    Returns (query_id, rank, neighbor_id, cosine), ``KNN_K`` per query.
    """
    spark = queries.sparkSession
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    cn = _guarded_norms(c)

    probe_schema = T.StructType([
        queries.schema["vec_id"],
        T.StructField("cell", T.IntegerType()),
    ])

    def probe_gen(batches):
        for pdf in batches:
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            sim = _sim_to(v, c, cn)
            # stable: a tie at the IVF_PROBE boundary keeps the lowest
            # cell, matching the oracle's ORDER BY sim DESC, cell
            top = np.argsort(-sim, axis=1, kind="stable")[:, :IVF_PROBE]
            ids = np.repeat(pdf["vec_id"].to_numpy(), IVF_PROBE)
            yield pd.DataFrame({
                "vec_id": ids,
                "cell": top.ravel().astype(np.int32),
            })

    probes = queries.select("vec_id", "embedding").mapInPandas(
        probe_gen, schema=probe_schema
    ).withColumnRenamed("vec_id", "query_id")

    q = with_norm(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"),
        F.col("__norm").alias("__qn"))
    cband = with_norm(indexed_corpus).select(
        F.col("vec_id").alias("neighbor_id"), "cell",
        F.col("embedding").alias("__cv"), F.col("__norm").alias("__cn"))

    dot = _DOT.format(a="__qv", b="__cv")
    scored = (
        probes.join(cband, on="cell")
        .join(F.broadcast(q), on="query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.expr(f"({dot}) / nullif(__qn * __cn, 0e0)"))
    )

    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
