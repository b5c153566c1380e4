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
one bounded (M*K*sub) reduction per Lloyd round (same shape as
pipeline.ivf.train_ivf); encoding is one mapInPandas pass; search
builds the per-query distance TABLES (M * K doubles each —
independent of corpus size) in one O(batch) Arrow pass over the
DISTRIBUTED query frame, broadcast-joins them against the codes
table, and evaluates the M lookups as a JVM-side ``aggregate`` fold
whose top-k rank filter collapses to WindowGroupLimit (map-side k
per query per partition). Driver state is the codebook, never the
corpus OR the query batch.

Determinism and oracle parity: centroid init is the first K vectors
in id order; every subspace distance accumulates left-to-right over
the dimension index (``_seq_sqdist`` — bit-identical to a SQL fold,
unlike NumPy's pairwise ``.sum``); Lloyd sums go through the
scale-``PQ_SCALE`` integer grid so reduction order can't perturb
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

from xsarsea_spark.operators.exactsum import grid

__all__ = ["train_pq", "encode_pq", "pq_search", "PQ_SCALE"]

# Codebook-sum quantization grid (matches the oracle's DECIMAL(38,9)).
PQ_SCALE = 9


def _seq_sqdist(vs: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 from each row of ``vs`` (n, sub) to each row of
    ``b`` (k, sub), accumulated left-to-right over the sub-dimension —
    the SQL ``list_reduce`` fold order, one rounding per step."""
    acc = np.zeros((vs.shape[0], b.shape[0]))
    for d in range(vs.shape[1]):
        diff = vs[:, d, None] - b[None, :, d]
        acc += diff * diff
    return acc


def _split(dim: int, m: int) -> list:
    """Subspace column slices; dim must divide evenly into m."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    return [slice(i * sub, (i + 1) * sub) for i in range(m)]


def train_pq(corpus: DataFrame, m: int = 8, k: int = 16, iters: int = 5,
             vec_col: str = "embedding") -> np.ndarray:
    """Deterministic per-subspace Lloyd training.

    Returns codebooks of shape (m, k, dim/m). All m subspaces train in
    the SAME pass over the corpus each round: the kernel emits
    per-(subspace, cell) partial sums, so one corpus scan + one
    bounded reduction per iteration regardless of m.
    """
    dim = len(corpus.select(vec_col).first()[0])
    slices = _split(dim, m)
    sub = dim // m
    init = corpus.orderBy("vec_id").limit(k).select(vec_col).collect()
    first = np.stack([np.asarray(r[0], dtype=np.float64) for r in init])
    books = np.stack([first[:, sl] for sl in slices])     # (m, k, sub)

    part_schema = T.StructType([
        T.StructField("sub", T.IntegerType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("q", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    for _ in range(iters):
        b = np.ascontiguousarray(books)

        def partial_gen(batches, b=b):
            for pdf in batches:
                v = np.stack([np.asarray(x, dtype=np.float64)
                              for x in pdf[vec_col]])
                rows = []
                for s_i, sl in enumerate(slices):
                    vs = v[:, sl]                          # (n, sub)
                    # squared L2 to each of the k centroids; ties ->
                    # lowest cell (oracle: ORDER BY d2, cell)
                    cell = np.argmin(_seq_sqdist(vs, b[s_i]), axis=1)
                    quanta = grid(vs, PQ_SCALE)
                    for cid in np.unique(cell):
                        msk = cell == cid
                        ssum = quanta[msk].sum(axis=0)
                        n = int(msk.sum())
                        rows.extend(
                            (s_i, int(cid), i, int(ssum[i]), n)
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
                float(r["q"]) / 10.0 ** PQ_SCALE) / r["n"]
        books = new
    return books


def _encode_kernel(books: np.ndarray):
    m, _, sub = books.shape
    slices = [slice(i * sub, (i + 1) * sub) for i in range(m)]

    def gen(batches):
        for pdf in batches:
            v = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["embedding"]])
            codes = np.empty((v.shape[0], m), dtype=np.int32)
            for s_i, sl in enumerate(slices):
                codes[:, s_i] = np.argmin(
                    _seq_sqdist(v[:, sl], books[s_i]), axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "codes": list(codes),
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
        r = shortlist or 10 * k
        cand = pq_search(queries, codes, books, k=r)
        qv = queries.select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("__qv"))
        cv = corpus.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").alias("__cv"))
        # the shortlist is batch-bounded (n_q * shortlist rows):
        # broadcast it so the corpus vectors stream through the
        # refine join instead of being shuffled by neighbor_id
        cand = F.broadcast(cand)
        exact = (
            cand.join(cv, on="neighbor_id")
            .join(F.broadcast(qv), on="query_id")
            .withColumn(
                "adc_dist",
                F.expr("aggregate(zip_with(__qv, __cv,"
                       " (a, b) -> CAST(a - b AS DOUBLE)"
                       " * CAST(a - b AS DOUBLE)),"
                       " 0d, (acc, x) -> acc + x)"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("neighbor_id").asc())
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "adc_dist")
        )
    m, kk, sub = books.shape

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
            tabs = np.empty((len(pdf), m, kk))
            for s_i in range(m):
                sl = slice(s_i * sub, (s_i + 1) * sub)
                tabs[:, s_i, :] = _seq_sqdist(qv[:, sl], books[s_i])
            yield pd.DataFrame({
                "query_id": pdf["vec_id"].to_numpy(),
                "__tab": list(tabs.reshape(len(pdf), m * kk)),
            })

    qtab = queries.select("vec_id", "embedding").mapInPandas(
        q_tables, schema=tab_schema)
    qtab = F.broadcast(qtab)
    # JVM-side ADC: m table lookups folded ascending-s with a 0d
    # init — the same add order as the oracle's list_reduce and the
    # old Arrow kernel, so values are bit-identical. The codes table
    # itself never crosses into Python.
    adc = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0d, (acc, s) -> acc"
        f" + element_at(__tab, CAST(s * {kk}"
        " + element_at(codes, s + 1) + 1 AS INT)))")
    cand = (codes.crossJoin(qtab)
            .select("query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    adc.alias("adc_dist")))
    # rank <= k collapses to WindowGroupLimit: each scan partition
    # pre-selects its own top-k per query map-side (ties resolved by
    # neighbor_id), bounding the exchange to k rows per (query,
    # partition) — the same bound the old Python preselect enforced
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )
