"""OPQ-style dimension allocation for product quantization.

Full OPQ (Ge et al., *Optimized Product Quantization*, CVPR 2013)
learns an orthogonal rotation R and quantizes R·x. Its parametric
solution has two parts: rotate into a decorrelating basis, then
ALLOCATE dimensions to subspaces so the per-subspace variance
products balance (their §4 "eigenvalue allocation" — the step that
actually fixes PQ's failure mode of one subspace hoarding all the
energy while others quantize noise). This module implements the
allocation step as a trainable, frozen, exactly-replayable
PERMUTATION in the original basis:

- per-dimension variance keys ``n * Σq(x²) - (Σq(x))²`` on the
  scale-9 integer grid (``floor(x * 1e9)`` / ``floor(x·x * 1e9)``) —
  order-independent BIGINT sums, exact arbitrary-precision key
  arithmetic, so both engines sort the dimensions identically with
  no float-tie hazard;
- dimensions sorted by (key desc, dim asc) are dealt to the m
  subspaces in serpentine (boustrophedon) order — the classic greedy
  balancer for sorted loads: block b hands its m dims to subspaces
  ``0..m-1`` when b is even and ``m-1..0`` when b is odd, so every
  subspace gets one dim per variance tier instead of subspace 0
  taking the whole head.

A permutation is orthogonal, so this IS an OPQ rotation — restricted
to the permutation subgroup, which is what keeps the train → encode
→ ADC → refine chain bit-replayable by a chained-CTE DuckDB oracle
(a dense learned rotation would need an SVD per iteration, which no
SQL engine replays exactly). The suite's ``opq_alloc_recall`` row
measures what the allocation buys over identity-layout PQ at equal
code budget.

Scale: training is ONE ``posexplode`` aggregation pass (d rows out);
the learned state is d small integers — frozen and broadcast exactly
like the PQ codebooks; applying it is a zero-shuffle in-plan
projection (``F.array`` of d column lookups), so the 100 TB encode
path is unchanged from plain PQ.

Parity: reference repo has no ANN surface (engine-brief extension —
similarity-search family).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["train_allocation", "apply_allocation", "ALLOC_SCALE",
           "ALLOC_MAX_ABS"]

# Variance-key grid (matches the k-means / PCA scale-9 convention).
ALLOC_SCALE = 9
# Input domain for the variance statistics (the linalg convention:
# embedding coordinates are O(1)). Rows with a non-finite or
# out-of-domain coordinate are DROPPED from the stats — and the
# bound keeps floor(x*x*g) inside int64 (9e8 * 1e9 = 9e17 < 2^63),
# while the sums ride DECIMAL(38,0) so no corpus size overflows.
ALLOC_MAX_ABS = 3e4


def train_allocation(corpus: DataFrame, m: int) -> np.ndarray:
    """Learn the serpentine variance-balancing permutation.

    Returns ``perm`` of length d: output slot j (slots ordered by
    (subspace, tier)) reads input dimension ``perm[j]``, so subspace
    s owns ``perm[s*d/m : (s+1)*d/m]``. One aggregation pass; the
    d-row result is bounded driver state (the codebook allowance).
    """
    g = 10 ** ALLOC_SCALE
    stats = (
        corpus.filter(F.col("embedding").isNotNull())
        # stats-input contract: finite O(1) coordinates (rows with a
        # NaN/NULL/huge coordinate are dropped from the statistics —
        # they still get encoded, the permutation just isn't steered
        # by them); keeps the per-value floor inside int64
        .filter(F.expr(
            f"size(filter(embedding, x -> x IS NULL OR isnan(x)"
            f" OR abs(x) > {ALLOC_MAX_ABS}d)) = 0"))
        .selectExpr("posexplode(embedding) AS (__d0, __xf)")
        .selectExpr("__d0", "CAST(__xf AS DOUBLE) AS __x")
        .groupBy("__d0")
        .agg(F.sum(F.expr(f"CAST(floor(__x * {g}d)"
                          f" AS DECIMAL(38,0))")).alias("__sx"),
             F.sum(F.expr(f"CAST(floor(__x * __x * {g}d)"
                          f" AS DECIMAL(38,0))")).alias("__sx2"),
             F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not stats:
        raise ValueError(
            "train_allocation: no vector passed the finite "
            f"O(1)-coordinate stats contract (|x| <= {ALLOC_MAX_ABS})")
    dim = len(stats)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    # exact arbitrary-precision keys: no float compare anywhere.
    # q(x^2) carries ONE factor of the grid g while q(x)^2 carries
    # g^2, so the variance identity needs the g rebalance:
    # key = n * g * sum(q(x^2)) - sum(q(x))^2  (~ n^2 g^2 Var).
    keys = {}
    for r in stats:
        keys[r["__d0"]] = int(r["__n"]) * g * int(r["__sx2"]) \
            - int(r["__sx"]) * int(r["__sx"])
    ranked = sorted(range(dim), key=lambda d: (-keys[d], d))
    slots = {}   # (subspace, tier) -> input dim
    for r, d in enumerate(ranked):
        block, pos = divmod(r, m)
        s = pos if block % 2 == 0 else m - 1 - pos
        slots[(s, block)] = d
    return np.array([slots[k] for k in sorted(slots)],
                    dtype=np.int64)


def apply_allocation(df: DataFrame, perm: np.ndarray) -> DataFrame:
    """Project vectors into the allocated layout — d in-plan column
    lookups (cast to double: the permuted space is the oracle's
    DOUBLE list space), no shuffle, no Python."""
    arr = F.array(*[F.col("embedding")[int(i)].cast("double")
                    for i in perm])
    return df.withColumn("embedding", arr)
