"""Incremental PCA over persisted exact-integer raw-moment state.

``linalg.pca_state`` is the two-pass centered estimator: it needs the
corpus mean before it can grid the covariance products, so its state
cannot absorb a new batch without rescanning everything. This module
is the one-pass sufficient-statistics formulation a 100-TB ingest
actually maintains: the persisted state is the RAW moments

    S1_d  = sum_x x_d          (exact decimal grid, MU_SCALE)
    S2_ij = sum_x x_i * x_j    (exact decimal grid, G_SCALE)
    n     = row count

each kept as (q, r) int64 quantum pairs exactly like
``operators.exactsum.exact_sum_agg`` (``linalg._moment_partials``) —
and int64 sums are ORDER-INDEPENDENT, so

    state(batch_1) + ... + state(batch_k) == state(union)   bit-for-bit

by construction: absorbing a batch costs one O(batch) Arrow scan plus
a merge of two bounded (d^2 + d row) tables, never a rescan
(tests/test_incpca.py pins the batched == one-shot equality).

The eigensolve recombines the grid sums into the covariance
``C = S2/n - mu mu^T`` with the documented double op order (grid
total -> /10^scale -> /n, then one subtract/multiply per entry) and
reuses ``linalg._power_iter_kernel`` — the DuckDB oracle replays the
identical arithmetic (DECIMAL sums, same recombination, the shared
``*_sql`` iteration generators), so the final loadings/eigenvalue are
value-exact cross-engine.

Trade vs the centered path: raw moments subtract two same-magnitude
quantities, the classic cancellation risk when ``|mu| >> sigma`` —
the price of mergeability. On O(1)-scaled embedding corpora the grid
resolution (1e-6 products, 1e-9 means) dominates that loss. Exactness
bound: each grid total must stay below 2^53 quanta (|sum x_i x_j| *
1e6 — holds to ~9e9 unit-scale rows; beyond that, shard the state by
row-range and merge shards at read).

Parity: reference repo has no incremental-maintenance surface
(engine-brief extension; ivf_incremental precedent).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import recombine_sql
from xsarsea_spark.pipeline.linalg import (EMB_DIM, G_SCALE, MU_SCALE,
                                           PCA_ROUNDS, _moment_partials,
                                           _power_iter_kernel,
                                           _valid_vectors)

__all__ = ["moment_state", "moment_merge", "pca_from_moments",
           "moment_stats", "drift_report"]

# The documented grid->double recombination of a state row (the same
# builder linalg._gram_state and exact_sum_agg use): exact integer
# quantum total, one /10^scale, one /n — each a single
# correctly-rounded double op, matching DuckDB's
# CAST(SUM(DECIMAL) AS DOUBLE) / COUNT.
_MU = recombine_sql("q", "r", MU_SCALE, "n")
_MS2 = recombine_sql("q", "r", G_SCALE, "n")


def moment_state(vecs: DataFrame, d: int = 64) -> DataFrame:
    """Bounded (d^2 + d row) raw-moment state of a vector corpus:
    (i, j, q, r, n) — j = 0 rows are first moments on the MU_SCALE
    grid, j >= 1 rows second moments on the G_SCALE grid. One Arrow
    scan (map-side partials) + one d^2-key sum; the exchange carries
    partitions * (d^2 + d) rows by construction.
    """
    base = _valid_vectors(vecs, d)
    parts = base.select(F.col("__v").alias("__c")).mapInPandas(
        _moment_partials(d, MU_SCALE, G_SCALE),
        schema="i int, j int, q long, r long, n long")
    return parts.groupBy("i", "j").agg(
        F.expr("SUM(q)").alias("q"),
        F.expr("SUM(r)").alias("r"),
        F.expr("SUM(n)").alias("n"))


def moment_merge(states: list[DataFrame]) -> DataFrame:
    """Merge raw-moment states by pure int64 addition — exact at any
    batch order/grouping (the incremental-maintenance operation)."""
    u = reduce(lambda a, b: a.unionByName(b), states)
    return u.groupBy("i", "j").agg(
        F.expr("SUM(q)").alias("q"),
        F.expr("SUM(r)").alias("r"),
        F.expr("SUM(n)").alias("n"))


def moment_stats(state: DataFrame) -> DataFrame:
    """Per-dimension (i, mu, var, n) marginals of a raw-moment state
    — mean from the j = 0 rows, variance from the DIAGONAL second
    moments (``var = ms2 - mu * mu``), all in the documented
    recombination op order. This is the broadcast-sized summary a
    drift monitor compares batches against: no corpus access, just
    the bounded state table.
    """
    mu = state.filter("j = 0").select(
        "i", F.expr(_MU).alias("mu"), "n")
    diag = state.filter("j = i").select(
        "i", F.expr(_MS2).alias("__ms2"))
    return mu.join(diag, on="i").select(
        "i", "mu", F.expr("__ms2 - mu * mu").alias("var"), "n")


def drift_report(hist_state: DataFrame,
                 batch_state: DataFrame) -> DataFrame:
    """Per-dimension drift gate between two raw-moment states: the
    standardized mean shift ``z = (mu_b - mu_h) / sqrt(var_h / n_b)``
    and the ``|z| > 3`` flag, computed from the two bounded state
    tables alone (never a corpus rescan). Value-exact cross-engine:
    DECIMAL-grid means, one IEEE sqrt, fixed op order. Shared by the
    batch monitor (``embedding_drift_monitor``) and the streaming
    gate (``stream_drift_gate``).

    ``drifted`` is always a concrete boolean — downstream
    ``filter(drifted)`` gates must never silently skip a dimension
    because of a NULL. ``z_shift`` stays NULL when ``var_hist <= 0``
    (no scale to standardize by), but such a dimension with ANY mean
    shift is flagged drifted: a historically-constant dimension that
    moved is the strongest drift signal there is, not a blind spot.
    The means compare exactly — both engines recombine the
    DECIMAL-grid sums in the same op order."""
    h = moment_stats(hist_state).select(
        "i", F.col("mu").alias("mu_hist"),
        F.col("var").alias("var_hist"))
    b = moment_stats(batch_state).select(
        "i", F.col("mu").alias("mu_batch"),
        F.col("n").alias("n_batch"))
    return h.join(b, on="i").select(
        F.col("i").cast("bigint").alias("dim"),
        "mu_hist", "mu_batch", "var_hist",
        F.col("n_batch").cast("bigint").alias("n_batch"),
        F.expr("mu_batch - mu_hist").alias("shift"),
        F.expr("CASE WHEN var_hist > 0 THEN (mu_batch - mu_hist)"
               " / sqrt(var_hist / CAST(n_batch AS DOUBLE)) END")
        .alias("z_shift"),
        F.expr("CASE WHEN var_hist > 0 THEN"
               " abs((mu_batch - mu_hist)"
               " / sqrt(var_hist / CAST(n_batch AS DOUBLE))) > 3.0D"
               " ELSE mu_batch <> mu_hist END").alias("drifted"),
    )


def pca_from_moments(state: DataFrame) -> DataFrame:
    """(dim, loading, eigval) of the dominant covariance eigenvector
    from a raw-moment state — ``linalg.pca_power``'s output shape,
    computed WITHOUT touching the corpus (the state is the input).
    """
    mu_row = (
        state.filter("j = 0")
        .select("i", F.expr(_MU).alias("__mu"))
        .groupBy().agg(F.expr(
            "transform(array_sort(collect_list(struct(i, __mu))),"
            " s -> s.__mu)").alias("__mu"))
    )
    ms2 = state.filter("j >= 1").select(
        "i", "j", F.expr(_MS2).alias("__ms2"))
    cov = ms2.crossJoin(F.broadcast(mu_row)).select(
        "i", "j",
        F.expr("__ms2 - element_at(__mu, i) * element_at(__mu, j)")
        .alias("g"))
    grows = cov.groupBy("i").agg(F.expr(
        "transform(array_sort(collect_list(struct(j, g))),"
        " s -> s.g)").alias("__row"))
    gmat = grows.groupBy().agg(F.expr(
        "transform(array_sort(collect_list(struct(i, __row))),"
        " s -> s.__row)").alias("__G"))
    gmat = gmat.select(F.expr(
        f"CASE WHEN size(__G) = {EMB_DIM} THEN __G END").alias("__G"))
    eig = gmat.mapInPandas(
        _power_iter_kernel(EMB_DIM, PCA_ROUNDS),
        schema="__u array<double>, __ev double")
    return eig.select(
        F.posexplode("__u").alias("__p", "loading"),
        F.col("__ev").alias("eigval"),
    ).select(
        (F.col("__p") + 1).cast("bigint").alias("dim"),
        "loading", "eigval",
    )
