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
left-to-right fold over the dimension index (``exactsum.seq_dot`` /
``exactsum.seq_norm`` — bit-identical to a SQL
``aggregate(zip_with(...))`` fold, unlike BLAS matmul or NumPy
pairwise summation, whose accumulation trees are
implementation-defined); and the Lloyd rounds are ``pq.train_lloyd``'s
(one subspace, cosine assignment), whose centroid sums go through the
scale-``LLOYD_SCALE`` integer grid, so they are order-independent.
Together these make the whole index + search value-replicable by a
chained-CTE DuckDB oracle (suite.pipeline_suite._ivf_oracle), not just
rows-reproducible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.operators.exactsum import seq_dot, seq_norm
from xsarsea_spark.pipeline.pq import train_lloyd
from xsarsea_spark.pipeline.similarity import KNN_K, _DOT, with_norm

__all__ = ["train_ivf", "assign_cells", "ivf_search"]

IVF_ITERS = 3     # Lloyd rounds of train_ivf
IVF_PROBE = 4     # cells ivf_search probes per query


def _guarded_norms(c: np.ndarray) -> np.ndarray:
    cn = seq_norm(c)
    cn[cn == 0] = 1.0
    return cn


def _sim_to(v: np.ndarray, c: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Cosine similarity block with the oracle's exact op order:
    ``(dot / vnorm) / cnorm``, zero norms guarded to 1."""
    return seq_dot(v, c) / _guarded_norms(v)[:, None] / cn[None, :]


def _nearest_cell(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, 1) cosine assignment to the one-subspace ``books`` (argmax
    similarity; ties -> lowest cell, the oracle's ORDER BY sim DESC,
    cell)."""
    c = books[0]
    return np.argmax(_sim_to(v, c, _guarded_norms(c)), axis=1)[:, None]


def train_ivf(corpus: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Deterministic Lloyd training (``IVF_ITERS`` rounds); returns the
    centroid matrix."""
    return train_lloyd(corpus, "embedding", 1, n_centroids, IVF_ITERS,
                       _nearest_cell)[0]


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
