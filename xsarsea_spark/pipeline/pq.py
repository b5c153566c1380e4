"""Product quantization (PQ) for embedding compression + ANN search.

The third similarity scale path next to LSH bucketing
(pipeline.similarity) and IVF cell probing (pipeline.ivf): vectors are
split into M subspaces, each subspace k-means-quantized to K
centroids, and every vector stored as M small codes (M bytes for
K<=256) — a 32x compression of a float64 corpus. Search is ADC
(asymmetric distance computation): per query ONE (M x K) table of
exact subspace distances, then every corpus distance is M table
lookups — no float math against the corpus at all.

Scale design (100 TB): training folds map-side partial sums through
one bounded (M*K*sub) reduction per Lloyd round (``train_lloyd``, which
pipeline.ivf.train_ivf runs too); encoding is one mapInPandas pass; search
builds the per-query distance TABLES (M * K doubles each —
independent of corpus size) in one O(batch) Arrow pass over the
DISTRIBUTED query frame, broadcast-joins them against the codes
table, and evaluates the M lookups as a JVM-side ``aggregate`` fold
whose top-k rank filter collapses to WindowGroupLimit (map-side k
per query per partition). Driver state is the codebook, never the
corpus OR the query batch.

Determinism and oracle parity: centroid init is the first K vectors
in id order; every subspace distance accumulates left-to-right over
the dimension index (``exactsum.seq_sqdist`` — bit-identical to a SQL
fold, unlike NumPy's pairwise ``.sum``); Lloyd sums go through the
scale-``LLOYD_SCALE`` integer grid so reduction order can't perturb
them; and all tie-breaks (code assignment, shortlist, top-k) resolve
on (distance, id). The full train → encode → ADC → refine chain is
value-replicable by the chained-CTE DuckDB oracle in
suite.pipeline_suite._pq_oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from xsarsea_spark.operators.exactsum import grid, seq_sqdist

__all__ = ["train_pq", "encode_pq", "pq_search", "train_lloyd",
           "LLOYD_SCALE"]

# Codebook-sum quantization grid of every Lloyd round (matches the
# IVF and PQ oracles' DECIMAL(38,9)).
LLOYD_SCALE = 9

def train_lloyd(corpus: DataFrame, vec_col: str, m: int, k: int,
                iters: int, assign) -> np.ndarray:
    """Deterministic Lloyd training from the first ``k`` vectors by id;
    returns (m, k, dim/m) codebooks, one k-cell codebook per subspace.

    ``assign(v, books)`` maps a float64 batch (n, dim) to the (n, m)
    cell of each row in each subspace. The assign kernel already holds
    the vectors, so each Arrow batch emits per-(subspace, cell, dim)
    partial sums directly (map-side combine): scale-``LLOYD_SCALE``
    integer quanta, so neither the batch grouping nor the Spark SUM
    order can perturb them, and only the bounded m x k x sub reduction
    reaches the driver. A cell's new codeword is double(q)/10^s then
    /n — the oracle's CAST(SUM(DECIMAL) AS DOUBLE) / COUNT, rounding
    for rounding; a cell no row chose keeps its codeword.
    """
    init = corpus.orderBy("vec_id").limit(k).select(vec_col).collect()
    first = np.stack([np.asarray(r[0], dtype=np.float64) for r in init])
    dim = first.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books = np.stack(np.split(first, m, axis=1))           # (m, k, sub)
    part_schema = T.StructType([
        T.StructField("sub", T.IntegerType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("q", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    for _ in range(iters):

        def partial_gen(batches, b=books):
            for pdf in batches:
                v = np.stack([np.asarray(x, dtype=np.float64)
                              for x in pdf[vec_col]])
                cells = assign(v, b)
                quanta = grid(v, LLOYD_SCALE)
                rows = []
                for s_i in range(m):
                    cell = cells[:, s_i]
                    qs = quanta[:, s_i * sub:(s_i + 1) * sub]
                    for cid in np.unique(cell):
                        msk = cell == cid
                        ssum = qs[msk].sum(axis=0)
                        n = int(msk.sum())
                        rows.extend((s_i, int(cid), i, int(ssum[i]), n)
                                    for i in range(sub))
                yield pd.DataFrame(
                    rows, columns=["sub", "cell", "i", "q", "n"])

        sums = (
            corpus.select(vec_col)
            .mapInPandas(partial_gen, schema=part_schema)
            .groupBy("sub", "cell", "i")
            .agg(F.sum("q").alias("q"), F.sum("n").alias("n"))
            .collect()
        )
        new = books.copy()
        for r in sums:
            new[r["sub"], r["cell"], r["i"]] = (
                float(r["q"]) / 10.0 ** LLOYD_SCALE) / r["n"]
        books = new
    return books


def _codes(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) int32 nearest codeword of each row per subspace:
    fold-ordered squared L2, ties -> lowest cell (the oracle's
    ORDER BY d2, cell)."""
    m, _, sub = books.shape
    return np.stack(
        [np.argmin(seq_sqdist(v[:, s_i * sub:(s_i + 1) * sub],
                              books[s_i]), axis=1)
         for s_i in range(m)], axis=1).astype(np.int32)


def train_pq(corpus: DataFrame, m: int = 8, k: int = 16, iters: int = 5,
             vec_col: str = "embedding") -> np.ndarray:
    """Deterministic per-subspace Lloyd training.

    Returns codebooks of shape (m, k, dim/m). All m subspaces train in
    the SAME pass over the corpus each round: the kernel emits
    per-(subspace, cell) partial sums, so one corpus scan + one
    bounded reduction per iteration regardless of m.
    """
    return train_lloyd(corpus, vec_col, m, k, iters, _codes)


def _encode_kernel(books: np.ndarray):
    def gen(batches):
        for pdf in batches:
            v = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["embedding"]])
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "codes": list(_codes(v, books)),
            })

    return gen


def encode_pq(corpus: DataFrame, books: np.ndarray) -> DataFrame:
    """Compress: (id, codes array<int> of length m)."""
    schema = T.StructType([
        corpus.schema["vec_id"],
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])
    return corpus.select("vec_id", "embedding").mapInPandas(
        _encode_kernel(books), schema=schema)


def pq_search(queries: DataFrame, codes: DataFrame, books: np.ndarray,
              k: int = 5,
              corpus: DataFrame | None = None,
              shortlist: int | None = None) -> DataFrame:
    """ADC top-k: per query one exact (m x K) subspace distance table,
    corpus distances are m integer-indexed lookups into it.

    Returns (query_id, rank, neighbor_id, adc_dist) — approximate
    squared L2. Deploy shape: the distance tables are built by ONE
    O(batch) Arrow pass over the DISTRIBUTED query frame (the query
    batch never lands on the driver — only the codebook, which is
    corpus- and batch-independent, is broadcast to it), then
    broadcast-joined against the codes table with the m lookups as a
    JVM-side ``aggregate`` fold — the corpus codes never cross into
    Python. The top-k rank filter collapses to WindowGroupLimit, so
    each scan partition ships at most k candidates per query into
    the final exchange.

    With ``corpus`` given, runs the FAISS-style refine stage: ADC
    produces a ``shortlist`` (default 10*k) per query, the original
    vectors are joined back for ONLY those rows (n_q * shortlist — a
    sliver of the corpus), and exact squared L2 reranks. Quantization
    error then only costs recall where a true neighbor misses the
    whole shortlist, so recall@k climbs with shortlist size at
    constant scan cost; ``adc_dist`` in the output becomes the exact
    distance.
    """
    if corpus is not None:
        cand = pq_search(queries, codes, books, k=shortlist or 10 * k)
        return _refine(cand, queries, corpus, k)
    m, kk, _ = books.shape

    tab_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("__tab", T.ArrayType(T.DoubleType())),
    ])

    def q_tables(batches):
        # per query ONE flattened (m * K) table of exact fold-ordered
        # subspace distances — O(batch) work, corpus-independent
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = np.stack([np.asarray(x, dtype=np.float64)
                           for x in pdf["embedding"]])
            yield pd.DataFrame({
                "query_id": pdf["vec_id"].to_numpy(),
                "__tab": list(_adc_tables(qv, books)),
            })

    qtab = queries.select("vec_id", "embedding").mapInPandas(
        q_tables, schema=tab_schema)
    qtab = F.broadcast(qtab)
    cand = (codes.crossJoin(qtab)
            .select("query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    _adc_lookup(m, kk).alias("adc_dist")))
    return _topk(cand, k)


def _adc_tables(qv: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m * K) per-query ADC tables, flattened (subspace, codeword)
    row-major: the exact fold-ordered squared distance of each query
    subvector to each codeword."""
    m, kk, sub = books.shape
    tabs = np.empty((len(qv), m, kk))
    for s_i in range(m):
        tabs[:, s_i, :] = seq_sqdist(qv[:, s_i * sub:(s_i + 1) * sub],
                                     books[s_i])
    return tabs.reshape(len(qv), m * kk)


def _adc_lookup(m: int, kk: int):
    """JVM-side ADC of a ``codes`` row against its ``__tab``: m table
    lookups folded ascending-s with a 0d init — the oracle's
    list_reduce order, so values are bit-identical. The codes never
    cross into Python."""
    return F.expr(
        f"aggregate(sequence(0, {m - 1}), 0d, (acc, s) -> acc"
        f" + element_at(__tab, CAST(s * {kk}"
        " + element_at(codes, s + 1) + 1 AS INT)))")


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, adc_dist): the ``k`` nearest per
    query, ties by neighbor_id. rank <= k collapses to
    WindowGroupLimit: each scan partition pre-selects its own top-k
    per query map-side, bounding the exchange to k rows per (query,
    partition)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def _refine(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
           k: int) -> DataFrame:
    """FAISS-style refine of an ADC shortlist ``cand``: exact squared L2
    (the SQL fold ``seq_sqdist`` twins) on the original vectors, top-k.
    The shortlist is batch-bounded (n_q * shortlist rows): it is
    broadcast so the corpus vectors stream through the refine join
    instead of being shuffled by neighbor_id."""
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("__qv"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("__cv"))
    exact = (
        F.broadcast(cand).join(cv, on="neighbor_id")
        .join(F.broadcast(qv), on="query_id")
        .withColumn(
            "adc_dist",
            F.expr("aggregate(zip_with(__qv, __cv,"
                   " (a, b) -> CAST(a - b AS DOUBLE)"
                   " * CAST(a - b AS DOUBLE)),"
                   " 0d, (acc, x) -> acc + x)"))
    )
    return _topk(exact, k)
