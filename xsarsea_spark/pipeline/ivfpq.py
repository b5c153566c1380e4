"""IVF-PQ: coarse quantizer + product-quantized RESIDUALS + cell-
probed ADC search — the FAISS ``IndexIVFPQ`` shape, the index
production vector search actually ships (IVF alone re-reads full
vectors inside probed cells; PQ alone scans every code; IVF-PQ scans
only the probed cells' codes).

Composition over new machinery: the coarse quantizer IS
``pq.train_pq`` with m=1 (one subspace spanning the full dimension =
plain L2 Lloyd on the same deterministic integer-quantized-sum
machinery), residual encoding is an exact double subtraction
``v - centroid[cell]`` (SQL-replicable: ``e[i] - bc[i]``), and the
residual codebooks are ``pq.train_pq`` over the residual frame.

Scale design (100 TB): the index is two small columns on the corpus
(``cell`` int + ``codes`` m bytes); ``cell`` becomes the partition/
bucket key so a probe reads only its cells' files. Search builds the
per-(query, probed-cell) residual ADC tables (m * K doubles each —
corpus-independent) in one O(batch) Arrow pass over the DISTRIBUTED
query frame, equi-joins them on ``cell`` against the postings
(broadcast by default; a batch too big to broadcast shuffle-joins
co-partitioned with the cell-partitioned index), and evaluates the m
lookups as a JVM-side ``aggregate`` fold whose top-k rank filter
collapses to WindowGroupLimit. Training driver state is centroids +
codebooks only — neither the corpus nor the query batch ever lands
on the driver. The exact-refine stage joins original vectors back
for the shortlist only (n_q * shortlist rows).

Determinism and oracle parity: every float reduction is the
fold-ordered ``exactsum.seq_sqdist``; ADC accumulates ascending subspace
index (zero-init += — bit-equal to the SQL ``list_reduce`` over
``ORDER BY s``); all tie-breaks resolve on (distance, cell/id
ascending). The full coarse-train -> residual-train -> encode ->
probe -> ADC -> refine chain is value-replicated by the chained-CTE
DuckDB oracle in ``suite.pipeline_suite._ivfpq_oracle``.

Reference parity: the reference engine has no vector surface; this
completes the engine-brief ANN family (LSH, IVF, PQ, IVF-PQ).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.engine import materialize
from xsarsea_spark.operators.exactsum import seq_sqdist
from xsarsea_spark.pipeline.pq import (_adc_lookup, _adc_tables, _codes,
                                       _refine, _topk, train_pq)

__all__ = ["train_ivfpq", "encode_ivfpq", "ivfpq_search"]


def _residuals(corpus: DataFrame, coarse: np.ndarray) -> DataFrame:
    """(id, cell, resid): coarse assignment (argmin fold-ordered L2,
    ties -> lowest cell) + exact double residual ``v - centroid`` —
    ONE narrow kernel pass. The assignment and the subtraction share
    the batch, so no corpus-wide join ever re-attaches the cell (the
    join shape shuffled the vectors by id on both sides)."""
    co = np.ascontiguousarray(coarse, dtype=np.float64)
    schema = T.StructType([
        corpus.schema["vec_id"],
        T.StructField("cell", T.IntegerType()),
        T.StructField("resid", T.ArrayType(T.DoubleType())),
    ])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["embedding"]])
            # same argmin as encode_pq with m=1 (ties -> lowest cell);
            # float32 -> float64 is exact, and the elementwise double
            # subtraction is the zip_with CAST(a AS DOUBLE) - b op
            cell = np.argmin(seq_sqdist(v, co), axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": cell.astype(np.int32),
                "resid": list(v - co[cell]),
            })

    return corpus.select("vec_id", "embedding").mapInPandas(
        gen, schema=schema)


def train_ivfpq(corpus: DataFrame, n_cells: int = 8, m: int = 8,
                k: int = 16, iters: int = 3
                ) -> tuple[np.ndarray, np.ndarray]:
    """Returns (coarse centroids (n_cells, dim), residual codebooks
    (m, k, dim/m)). Coarse training is ``train_pq(m=1)``; residual
    training runs on the materialized residual frame (one subtraction
    pass, then the standard one-scan-per-round PQ Lloyd)."""
    coarse = train_pq(corpus, m=1, k=n_cells, iters=iters)[0]
    resid = materialize(_residuals(corpus, coarse))
    books = train_pq(resid, m=m, k=k, iters=iters,
                     vec_col="resid")
    return coarse, books


def encode_ivfpq(corpus: DataFrame, coarse: np.ndarray,
                 books: np.ndarray) -> DataFrame:
    """The index: (id, cell, codes array<int> of length m), built in
    ONE kernel pass — coarse assign, residual subtraction and the
    residual-PQ code assignment share the batch (the staged shape
    re-joined two corpus-wide frames on id just to glue cell and
    codes back together)."""
    co = np.ascontiguousarray(coarse, dtype=np.float64)
    schema = T.StructType([
        corpus.schema["vec_id"],
        T.StructField("cell", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["embedding"]])
            cell = np.argmin(seq_sqdist(v, co), axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": cell.astype(np.int32),
                "codes": list(_codes(v - co[cell], books)),
            })

    return corpus.select("vec_id", "embedding").mapInPandas(
        gen, schema=schema)


def ivfpq_search(queries: DataFrame, index: DataFrame,
                 coarse: np.ndarray, books: np.ndarray,
                 k: int = 5, n_probe: int = 3,
                 corpus: DataFrame | None = None,
                 shortlist: int | None = None) -> DataFrame:
    """Cell-probed ADC top-k over the (cell, codes) index.

    Per query: the ``n_probe`` nearest coarse cells (fold-ordered L2,
    ties -> lowest cell), one (m x K) ADC table per probed cell built
    from the RESIDUAL query ``q - centroid[cell]``, then every code
    row in a probed cell costs m table lookups. The probe tables are
    built by a distributed O(batch) Arrow pass and equi-joined on
    ``cell`` — the query batch never lands on the driver, and the
    tables are broadcast. With ``corpus`` given, the
    FAISS-style refine reranks the ``shortlist`` (default 10*k) by
    exact squared L2 on the original vectors. Returns
    (query_id, rank, neighbor_id, adc_dist).
    """
    if corpus is not None:
        cand = ivfpq_search(queries, index, coarse, books,
                            k=shortlist or 10 * k, n_probe=n_probe)
        return _refine(cand, queries, corpus, k)

    m, kk, _ = books.shape
    co = np.ascontiguousarray(coarse)

    tab_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("__tab", T.ArrayType(T.DoubleType())),
    ])

    def q_tables(batches):
        # per (query, probed cell) ONE flattened (m * K) RESIDUAL
        # distance table — O(batch * n_probe) work, corpus-
        # independent; the query batch never lands on the driver
        # (only the coarse centroids + codebooks are shipped, and
        # those are bounded by the index config, not the data)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = np.stack([np.asarray(x, dtype=np.float64)
                           for x in pdf["embedding"]])
            qid = pdf["vec_id"].to_numpy()
            d2c = seq_sqdist(qv, co)
            # ascending stable argsort: a tie keeps the lowest cell,
            # matching the oracle's ORDER BY d2 ASC, cell ASC
            probed = np.argsort(d2c, axis=1, kind="stable")[:, :n_probe]
            out_q, out_c, out_t = [], [], []
            for j in range(n_probe):
                out_q.append(qid)
                out_c.append(probed[:, j].astype(np.int32))
                out_t.extend(_adc_tables(qv - co[probed[:, j]], books))
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "cell": np.concatenate(out_c),
                "__tab": out_t,
            })

    qtab = queries.select("vec_id", "embedding").mapInPandas(
        q_tables, schema=tab_schema)
    qtab = F.broadcast(qtab)
    # equi-join on cell: a posting row meets exactly the queries that
    # probe its cell — the IVF pruning IS the join key, so with
    # cell-partitioned postings a probe reads only its cells' files.
    cand = (index.withColumn("cell", F.col("cell").cast("int"))
            .join(qtab, on="cell")
            .select("query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    _adc_lookup(m, kk).alias("adc_dist")))
    return _topk(cand, k)
