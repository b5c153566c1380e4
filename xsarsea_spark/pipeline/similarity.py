"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force cosine top-k — the correctness baseline.
  The dot product is a sequential JVM-side fold (``aggregate`` over
  ``zip_with``), no Python UDF. Queries x corpus is a broadcast join of
  the (small) query set against the corpus — at 100 TB the corpus side
  streams, only the query block is broadcast.
- ``lsh_ann``: the scale path — random-hyperplane LSH bucket join.
  Hyperplanes are deterministic arithmetic (no RNG state), signatures
  are built in one projection, candidates come from a bucket
  ``groupBy`` join, and only candidates get exact cosine. Never
  all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from xsarsea_spark.operators.exactsum import seq_dot
from xsarsea_spark.pipeline.dedup import plane_matrix
from xsarsea_spark.pipeline.linalg import EMB_DIM

__all__ = ["with_norm", "cosine_topk", "icp_order",
           "nearest_in_reference",
           "lsh_ann", "lsh_ann_multiprobe", "binary_quantize",
           "hamming_topk"]

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


KNN_K = 5                 # neighbours per query of the exact top-k
MP_PLANES, MP_PROBES = 8, 4   # lsh_ann_multiprobe: sign bits, bit flips


def with_norm(df: DataFrame) -> DataFrame:
    norm = _DOT.format(a="embedding", b="embedding")
    return df.withColumn("__norm", F.expr(f"sqrt({norm})"))


def cosine_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact top-``KNN_K`` cosine neighbors for each query vector.

    Returns (query_id, rank, neighbor_id, cosine). Excludes self-match.
    """
    q = with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("__norm").alias("__qn"),
    )
    c = with_norm(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    dot = _DOT.format(a="__qv", b="__cv")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(f"({dot}) / nullif(__qn * __cn, 0e0)"))
    )

    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def nearest_in_reference(
    corpus: DataFrame,
    reference: DataFrame,
) -> DataFrame:
    """Per corpus vector, THE single nearest reference vector by
    cosine — the embedding-level contamination probe (paraphrased
    benchmark leakage that n-gram overlap cannot see). The reference
    (benchmark) side is small and BROADCAST; the corpus side streams
    through one nested-loop pass and a map-side-combined max — no
    window, no shuffle of vector payloads, so a 100 TB corpus pays a
    single scan.

    Returns (vec_id, bench_id, cosine); ties break to the lowest
    reference id via the max-struct trick (cosine, -id). Zero-norm
    vectors score the -2.0 sentinel (below the valid cosine range)
    instead of NULL so the struct comparison stays total.
    """
    c = with_norm(corpus).select(
        F.col("vec_id"),
        F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    r = with_norm(reference).select(
        F.col("vec_id").alias("__rid"),
        F.col("embedding").alias("__rv"),
        F.col("__norm").alias("__rn"),
    )
    dot = _DOT.format(a="__cv", b="__rv")
    scored = c.crossJoin(F.broadcast(r)).withColumn(
        "__cos",
        F.expr(f"coalesce(({dot}) / nullif(__cn * __rn, 0e0), -2e0)"))
    return (
        scored.groupBy("vec_id")
        .agg(F.expr("max(named_struct('c', __cos, 'nid', -__rid))")
             .alias("__m"))
        .selectExpr("vec_id", "-__m.nid AS bench_id",
                    "__m.c AS cosine")
    )


# one 32-dim slab of the sign bitmap packed into a BIGINT word:
# bit b set iff component (off + b + 1) is strictly positive. Pure
# integer construction (a comparison and a shift per dim, no float
# arithmetic) -> bit-identical cross-engine.
_BQ_WORD = (
    "aggregate(transform(sequence(0, 31), b -> CASE WHEN"
    " element_at({v}, {off} + b + 1) > 0 THEN"
    " shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END),"
    " CAST(0 AS BIGINT), (a, x) -> a + x)"
)


def binary_quantize(df: DataFrame) -> DataFrame:
    """1-bit (sign) quantization of an embedding column — the extreme
    compression point of the quantized-retrieval family (PQ keeps m
    bytes, this keeps dim bits): component d contributes bit d iff it
    is strictly positive, packed into ``EMB_DIM/32`` BIGINT words. At
    100 TB the packed codes are a 32x smaller scan than float32
    vectors and Hamming ranking needs only xor + popcount per pair.

    Returns (id, w0..w{dim/32 - 1}). Deterministic and all-integer.
    """
    words = [
        F.expr(_BQ_WORD.format(v="embedding", off=w * 32)).alias(f"w{w}")
        for w in range(EMB_DIM // 32)
    ]
    return df.select(F.col("vec_id"), *words)


def hamming_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact top-``KNN_K`` by Hamming distance over sign-quantized
    codes: the query code block is broadcast, the corpus codes stream,
    each pair costs ``EMB_DIM/32`` xor+popcount ops (all JVM built-ins, whole-
    stage codegen). Ties break on neighbor id ascending — fully
    deterministic. Returns (query_id, rank, neighbor_id, hamming).
    """

    nw = EMB_DIM // 32
    qc = binary_quantize(queries).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"w{w}").alias(f"q{w}") for w in range(nw)])
    cc = binary_quantize(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"w{w}") for w in range(nw)])
    ham = " + ".join(
        f"CAST(bit_count(q{w} ^ w{w}) AS BIGINT)" for w in range(nw))
    scored = (
        cc.join(F.broadcast(qc),
                F.col("query_id") != F.col("neighbor_id"))
        .withColumn("hamming", F.expr(ham))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "rank", "neighbor_id", "hamming")
    )


def _project(emb, P):
    """Projections onto the ``plane_matrix`` rows, folded left to right
    over the vector index — bit-identical to the unrolled-SQL fold
    order."""
    return seq_dot(np.asarray(list(emb.to_numpy()), dtype=np.float64), P)


def _sig_udf(n_planes: int):
    P = plane_matrix(n_planes)
    w = np.array([1 << j for j in range(n_planes)], dtype=np.int64)

    def _sig(emb: pd.Series) -> pd.Series:
        acc = _project(emb, P)
        return pd.Series((acc > 0.0) @ w)

    return pandas_udf(_sig, "bigint")


def _probe_udf():
    """Multi-probe signatures over ``MP_PLANES`` bits: the exact bucket
    plus single-bit flips of the ``MP_PROBES`` lowest-margin
    (|projection|) bits — the bits a
    near-duplicate on the other side of a hyperplane would differ in.
    Ties rank by bit index (stable argsort == SQL ORDER BY margin,
    bit)."""

    P = plane_matrix(MP_PLANES)
    w = np.array([1 << j for j in range(MP_PLANES)], dtype=np.int64)

    def _probes(emb: pd.Series) -> pd.Series:
        acc = _project(emb, P)
        sig = (acc > 0.0) @ w
        order = np.argsort(np.abs(acc), axis=1, kind="stable")
        out = []
        for r in range(len(sig)):
            probes = [int(sig[r])]
            for t in range(MP_PROBES):
                probes.append(int(sig[r]) ^ (1 << int(order[r, t])))
            out.append(probes)
        return pd.Series(out)

    return pandas_udf(_probes, "array<bigint>")


def _exact_topk(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
                k: int) -> DataFrame:
    """Exact cosine + per-query top-k over candidate pairs only."""
    q = with_norm(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"),
        F.col("__norm").alias("__qn"))
    c = with_norm(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"))
    dot = _DOT.format(a="__qv", b="__cv")
    scored = (
        cand.join(F.broadcast(q), on="query_id")
        .join(c, on="neighbor_id")
        .withColumn("cosine", F.expr(f"({dot}) / nullif(__qn * __cn, 0e0)"))
    )

    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def lsh_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 12,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signature bucket join, then
    exact cosine within buckets only.

    A vector's signature is the n_planes-bit sign pattern of its
    projections; candidates share the full signature. Recall can be
    raised by lowering n_planes or with ``lsh_ann_multiprobe`` — this
    is the bucketed scale path, not the exactness baseline.
    """
    sig = _sig_udf(n_planes)
    qs = queries.select(F.col("vec_id").alias("query_id"),
                        sig(F.col("embedding")).alias("sig"))
    cs = corpus.select(F.col("vec_id").alias("neighbor_id"),
                       sig(F.col("embedding")).alias("sig"))
    cand = (
        qs.join(cs, on="sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _exact_topk(cand, queries, corpus, k)


def lsh_ann_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Multi-probe LSH ANN: each query searches its own ``MP_PLANES``-bit
    bucket plus the ``MP_PROBES`` buckets one low-margin bit-flip away,
    recovering most of the recall lost to hyperplane quantization at
    ~(probes+1) x the candidate cost — still never all-pairs.

    Scale: the corpus is signed once and shuffled once on sig; the
    probe explosion multiplies only the (small) query side.
    """
    sig = _sig_udf(MP_PLANES)
    probes = _probe_udf()
    qs = (
        queries.select(F.col("vec_id").alias("query_id"),
                       probes(F.col("embedding")).alias("__probes"))
        .select("query_id", F.explode("__probes").alias("sig"))
    )
    cs = corpus.select(F.col("vec_id").alias("neighbor_id"),
                       sig(F.col("embedding")).alias("sig"))
    cand = (
        qs.join(cs, on="sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_topk(cand, queries, corpus, k)


def icp_order(emb: DataFrame, n_buckets: int) -> DataFrame:
    """In-context-pretraining document ordering (Shi et al. 2023,
    arXiv:2310.10638): lay related documents next to each other so
    packed training sequences hold coherent context, via the paper's
    greedy nearest-neighbor chain — start at the smallest id, hop to
    the nearest unvisited neighbor, repeat. Chains are built inside
    deterministic hash buckets (``id % n_buckets``): the greedy is
    sequential, so the bucket is the parallelism unit (same contract
    as ``packing.pack_best_fit``; size buckets ~10^4 docs).

    Distances are EXACT integer keys: each squared-difference term is
    a double, floor-truncated onto the 1e-9 grid and summed as int64
    (the DSUM/QTRUNC convention) — so the argmin, and therefore the
    whole chain, is bit-replicable in any engine regardless of fold
    order. Ties break on the smaller id.

    Returns (bucket, chain_pos, id, d2_prev) with d2_prev = -1 for
    each chain head. Downstream, packing along (bucket, chain_pos)
    order IS the ICP layout.
    """

    items = emb.selectExpr(
        "vec_id", "embedding",
        f"vec_id % {n_buckets} AS bucket")

    schema = T.StructType([
        T.StructField("bucket", T.LongType()),
        T.StructField("chain_pos", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("d2_prev", T.LongType()),
    ])

    def kernel(pdf):
        pdf = pdf.sort_values("vec_id")
        bucket = int(pdf["bucket"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        E = np.stack([np.asarray(e, dtype=np.float64)
                      for e in pdf["embedding"]])
        m = len(ids)
        visited = np.zeros(m, dtype=bool)
        cur = 0                      # smallest id after the sort
        visited[0] = True
        rows = [(bucket, 1, int(ids[0]), -1)]
        sentinel = np.iinfo(np.int64).max
        for pos in range(2, m + 1):
            diff = E - E[cur]
            # exact integer distance key: per-term double product,
            # floor onto the 1e-9 grid, int64 sum — fold-order-free
            q = np.floor(diff * diff * 1e9).astype(np.int64) \
                .sum(axis=1)
            q[visited] = sentinel
            nxt = int(np.argmin(q))  # first occurrence = smaller id
            rows.append((bucket, pos, int(ids[nxt]), int(q[nxt])))
            visited[nxt] = True
            cur = nxt
        return pd.DataFrame(
            rows, columns=[f.name for f in schema.fields])

    return items.groupBy("bucket").applyInPandas(kernel, schema)
