"""Distributed linear algebra for embedding curation: PCA top
component by power iteration, fully in-plan and engine-replicable.

Shape (the part that must survive 100 TB):

1. **Covariance accumulation is one aggregation pass.** Each task
   folds its rows into a d x d partial Gram inside an Arrow kernel
   (``_moment_partials``, on the NumPy grid twin in
   ``operators/exactsum.py`` — bit-identical to its long-backed SQL
   arithmetic by construction), so the exchange moves exactly
   partitions * d^2 rows, not O(n * d^2) — the partial-aggregate
   shape MLlib's ``RowMatrix.computeCovariance`` relies on, at C
   speed. Per-dim means still use exact_sum_agg itself (scale-9
   grid, the k-means convention).
2. **The iteration state is d^2 + d doubles and never leaves the
   executors.** The Gram matrix is reassembled into ONE row
   (array<array<double>>) and all rounds + the Rayleigh quotient run
   in a single Arrow-batched ``mapInPandas`` kernel over it — no
   ``collect()``, no driver loop, no per-round job; the 1-row state
   is the broadcast-sized allowance the algorithm gets (same argument
   as k-means' k x d centroids). Pure-expression iteration was tried
   and is structurally infeasible: Catalyst collapses chained
   per-round projections into one nested lambda whose inner iterate
   re-evaluates per outer element — 64^rounds work (and with
   per-round normalization the TREE itself goes exponential, hitting
   the analyzer's iteration cap).
3. **Every float op is order-fixed**, so a DuckDB oracle replays the
   iteration bit-for-bit: products are quantized to the scale-6 grid
   before the order-independent sum; matvec/norm/dot fold
   LEFT-TO-RIGHT in binary64 (the kernel uses explicit scalar loops
   — no BLAS, no pairwise summation — matching DuckDB
   ``list_reduce`` from the first element, since 0.0 + x == x
   exactly); sqrt and division are IEEE-exact. The ``*_sql``
   generators emit the same op sequence for the oracle's chained
   CTEs.

Input contract: finite fixed-width vectors; rows with NULL/NaN
coordinates or the wrong width are dropped (no-op on well-formed
corpora — the adversarial-drift gate feeds deliberately broken rows).

Parity: reference repo has no linear-algebra pillar (engine-brief
extension — PCA whitening / SemDeDup-adjacent embedding analysis).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import (ExactSumSpec, decimal_sum,
                                              exact_sum_agg, grid,
                                              recombine_sql, split_qr)

__all__ = ["pca_power", "pca_state", "pca_project", "pca_topk",
           "pca_whiten", "pca_outliers",
           "power_init_sql", "power_step_sql",
           "norm_sql", "scale_sql", "rayleigh_sql", "deflate_sql",
           "MU_SCALE", "G_SCALE"]

# Per-dim mean grid (matches clustering.KM_SCALE): coords are O(1),
# |x| * 1e9 stays far inside the exact-conversion bound.
MU_SCALE = 9
# Centered-product grid: products bound the quantization input, so the
# documented-safe magnitude is |c_i * c_j| < ~2.2e9 (scale 6). Chosen
# one notch coarser than MU_SCALE so even the adversarial 1e6-coord
# drift vector only loses precision, never overflows the BIGINT cast.
G_SCALE = 6
EMB_DIM = 64               # width of the embeddings table's vectors
PCA_ROUNDS = 12            # power-iteration rounds per component
PCA_COMPONENTS = 3         # components of pca_topk / pca_whiten
OUTLIER_THRESHOLD = 9.0    # pca_outliers' maha2 cut: 3.0 per component


class _Dialect:
    """Shared expression leaves for the two engines. One generator,
    identical arithmetic op sequence, so results are bit-equal: matvec
    / norm / dot all fold LEFT-TO-RIGHT over the dim axis; the ONLY
    dialect differences are function names and pair construction
    (Spark ``zip_with`` vs DuckDB index-lambda — same per-element
    products in the same order). Intermediates are let-bound via
    single-element-list lambdas, which keeps each expression shallow;
    iteration rounds are chained as separate projections / CTEs
    because a fully nested 12-round expression exceeds Spark's
    analyzer iteration budget.
    """

    def __init__(self, d: int, duck: bool):
        self.d, self.duck = d, duck
        self._n = 0
        self.tf = "list_transform" if duck else "transform"

    def fresh(self, p: str) -> str:
        self._n += 1
        return f"{p}{self._n}"

    def let(self, var: str, val: str, body: str) -> str:
        if self.duck:
            return f"list_transform([{val}], {var} -> {body})[1]"
        return (f"element_at(transform(array({val}),"
                f" {var} -> {body}), 1)")

    def fold_sum(self, items: str) -> str:
        a, b = self.fresh("a"), self.fresh("b")
        if self.duck:
            return f"list_reduce({items}, ({a}, {b}) -> {a} + {b})"
        return (f"aggregate({items}, CAST(0 AS DOUBLE),"
                f" ({a}, {b}) -> {a} + {b})")

    def prods(self, u: str, v: str) -> str:
        if self.duck:
            k = self.fresh("k")
            return (f"list_transform(range(1, {self.d + 1}),"
                    f" {k} -> {u}[{k}] * {v}[{k}])")
        x, y = self.fresh("x"), self.fresh("y")
        return f"zip_with({u}, {v}, ({x}, {y}) -> {x} * {y})"

    def matvec(self, m: str, v: str) -> str:
        r = self.fresh("row")
        return f"{self.tf}({m}, {r} -> {self.fold_sum(self.prods(r, v))})"

    def norm(self, w: str) -> str:
        y = self.fresh("y")
        sq = f"{self.tf}({w}, {y} -> {y} * {y})"
        return f"sqrt({self.fold_sum(sq)})"


def power_init_sql(d: int, dialect: str) -> str:
    """All-ones start vector. The iterate stays UNNORMALIZED through
    the rounds — crucial: a per-round normalize references its matvec
    result three times, and Catalyst's projection collapse +
    lambda-inlining then COPIES the referenced subtree, going
    exponential in rounds (measured: ~3x plan-compile time per extra
    round; 12 rounds never finished). A bare matvec chain references
    the previous iterate exactly once, so the collapsed tree is
    linear; doubles absorb the lambda^rounds magnitude growth
    (overflow needs lambda^12 > 1e308 — a lambda above 3e25)."""
    dl = _Dialect(d, dialect == "duck")
    k = dl.fresh("k")
    seq = f"range(1, {d + 1})" if dl.duck else f"sequence(1, {d})"
    return f"{dl.tf}({seq}, {k} -> CAST(1 AS DOUBLE))"


def power_step_sql(g: str, v: str, d: int, dialect: str) -> str:
    """One UNNORMALIZED power-iteration round: G @ v. NULL G (empty
    or guarded-out corpus) NULL-propagates."""
    dl = _Dialect(d, dialect == "duck")
    return dl.matvec(g, v)


def norm_sql(w: str, d: int, dialect: str) -> str:
    """L2 norm of a vector expression (left-to-right fold, IEEE
    sqrt)."""
    return _Dialect(d, dialect == "duck").norm(w)


def scale_sql(w: str, n: str, d: int, dialect: str) -> str:
    """w / n elementwise — the deferred normalization."""
    dl = _Dialect(d, dialect == "duck")
    x = dl.fresh("x")
    return f"{dl.tf}({w}, {x} -> {x} / {n})"


def rayleigh_sql(g: str, v: str, d: int, dialect: str) -> str:
    """Rayleigh quotient v' G v of a unit vector — the eigenvalue
    estimate matching the iterate."""
    dl = _Dialect(d, dialect == "duck")
    gv = dl.fresh("gv")
    return dl.let(gv, dl.matvec(g, v),
                  dl.fold_sum(dl.prods(v, gv)))


def deflate_sql(g: str, v: str, ev: str, d: int, dialect: str) -> str:
    """Hotelling deflation G - ev * v v' as a matrix expression —
    elementwise ``G[i][j] - ((ev * v[i]) * v[j])``, the exact op order
    of the kernel's Python loop."""
    dl = _Dialect(d, dialect == "duck")
    i, j = dl.fresh("i"), dl.fresh("j")
    if dl.duck:
        return (f"list_transform(range(1, {d + 1}), {i} ->"
                f" list_transform(range(1, {d + 1}), {j} ->"
                f" {g}[{i}][{j}] - {ev} * {v}[{i}] * {v}[{j}]))")
    return (f"transform(sequence(1, {d}), {i} ->"
            f" transform(sequence(1, {d}), {j} ->"
            f" element_at(element_at({g}, {i}), {j})"
            f" - {ev} * element_at({v}, {i}) * element_at({v}, {j})))")


def _valid_vectors(vecs: DataFrame, d: int,
                   extra: list[str] | None = None) -> DataFrame:
    """Finite fixed-width vectors as DOUBLE arrays (the input
    contract; a no-op on well-formed corpora)."""
    return vecs.select(
        *(extra or []),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("__v"),
    ).filter(F.expr(
        f"size(__v) = {d}"
        " AND NOT exists(__v, e -> e IS NULL OR isnan(e))"))


def pca_state(vecs: DataFrame) -> DataFrame:
    """ONE-row PCA state of a vector corpus: the per-dim mean vector,
    the unit dominant eigenvector of the (grid-quantized) covariance,
    and its Rayleigh-quotient eigenvalue — columns
    (__mu array<double>, __u array<double>, __ev double). This is the
    broadcast-sized artifact downstream projection joins against.
    """
    gmat, mu_row = _gram_state(vecs)
    # The iteration runs in ONE Arrow-batched kernel over the 1-row
    # Gram state — executor-side, no driver collect, no extra jobs.
    # Pure-expression alternatives fail structurally: chained
    # per-round projections get collapsed by Catalyst into one nested
    # lambda whose inner iterate is re-evaluated per outer lambda
    # element (64^rounds work — measured ~3x wall per extra round),
    # and per-round localCheckpoints would cost a job each. The
    # kernel folds every sum LEFT-TO-RIGHT in plain binary64 scalars,
    # the exact op sequence the DuckDB oracle's list_reduce CTEs
    # replay, so the result stays bit-equal across engines.
    eig = gmat.mapInPandas(
        _power_iter_kernel(EMB_DIM, PCA_ROUNDS),
        schema="__u array<double>, __ev double")
    return F.broadcast(eig).crossJoin(F.broadcast(mu_row)) \
        .select("__mu", "__u", "__ev")


def _gram_state(vecs: DataFrame):
    """(1-row Gram matrix, 1-row mean vector) of a corpus — the
    bounded state every PCA entry point builds on."""
    d = EMB_DIM
    base = _valid_vectors(vecs, d)

    dims = base.select(F.posexplode("__v").alias("__p", "__x")) \
               .select((F.col("__p") + 1).alias("__d"), "__x")
    mu = exact_sum_agg(
        dims, ["__d"],
        [ExactSumSpec("__mu", "__x", scale=MU_SCALE, avg=True)])
    mu_row = mu.groupBy().agg(F.expr(
        "transform(array_sort(collect_list(struct(__d, __mu))),"
        " s -> s.__mu)").alias("__mu"))

    centered = base.crossJoin(F.broadcast(mu_row)).select(
        F.expr("zip_with(__v, __mu, (x, m) -> x - m)").alias("__c"))

    # Per-partition partial Grams in ONE Arrow kernel, then a 4096-key
    # long sum — the map-side-combine shape, but at NumPy speed. The
    # moment kernel's j >= 1 rows are the grid-quantized products of
    # the centred vectors, exact_sum_agg's arithmetic bit-for-bit, so
    # the earlier pure-SQL formulation (explode d^2 structs per row ->
    # exact_sum_agg) produces the identical Gram; that path cost 11.5 s
    # at sf0.1 on interpreted HOF lambdas vs ~1 s here, and the
    # exchange shrinks from O(rows_in_partition * d^2) pre-combine
    # input to exactly partitions * d^2 rows by construction.
    # j = 0 rows (first moments) are dropped inside the kernel, not by
    # a Spark filter, so the plan stays one MapInPandas node
    moments = _moment_partials(d, MU_SCALE, G_SCALE)

    def kernel(batches):
        for pdf in moments(batches):
            yield pdf[pdf["j"] >= 1]

    partials = centered.mapInPandas(
        kernel, schema="i int, j int, q long, r long, n long")
    sums = partials.groupBy("i", "j").agg(
        F.expr("SUM(q)").alias("__qs"),
        F.expr("SUM(r)").alias("__rs"),
        F.expr("SUM(n)").alias("__n"))
    gram = sums.select(
        "i", "j",
        F.expr(recombine_sql("__qs", "__rs", G_SCALE, "__n")).alias("g"))

    grows = gram.groupBy("i").agg(F.expr(
        "transform(array_sort(collect_list(struct(j, g))),"
        " s -> s.g)").alias("__row"))
    gmat = grows.groupBy().agg(F.expr(
        "transform(array_sort(collect_list(struct(i, __row))),"
        " s -> s.__row)").alias("__G"))
    # A malformed/empty corpus yields a short (or empty) matrix; NULL
    # it out so the iteration NULL-propagates to zero output rows
    # instead of tripping ANSI element_at on a ragged array.
    gmat = gmat.select(F.expr(
        f"CASE WHEN size(__G) = {d} THEN __G END").alias("__G"))
    return gmat, mu_row


def pca_topk(vecs: DataFrame) -> DataFrame:
    """Top ``PCA_COMPONENTS`` principal components by power iteration with
    Hotelling deflation: after each component, the working matrix
    loses its captured subspace (G <- G - ev * u u') and the next
    iteration runs on the residual — all inside the same 1-row Arrow
    kernel, so k components cost k scalar iteration loops and zero
    extra exchanges. Returns (component, dim, loading, eigval), one
    row per (component, dimension).
    """
    st, _ = _topk_state(vecs)
    return st.select(
        "component",
        F.posexplode("__u").alias("__p", "loading"),
        F.col("__ev").alias("eigval"),
    ).select(
        "component",
        (F.col("__p") + 1).cast("bigint").alias("dim"),
        "loading", "eigval",
    )


def pca_whiten(vecs: DataFrame) -> DataFrame:
    """PCA-whitened k-dim projection: for every valid vector and
    component, score = (x - mu) . u_c and whitened = score /
    sqrt(ev_c) — unit-variance coordinates along the captured
    directions, the standard preprocessing before embedding
    dedup/clustering. The k-row state broadcasts; the corpus streams
    through one order-fixed fold per (vector, component) — n * k
    output rows, no exchange on the scoring pass.
    """
    st, mu_row = _topk_state(vecs)
    state = F.broadcast(st).crossJoin(F.broadcast(mu_row))
    base = _valid_vectors(vecs, EMB_DIM, extra=["vec_id"])
    return base.crossJoin(F.broadcast(state)).select(
        F.col("vec_id"), "component",
        F.expr(
            "aggregate(zip_with(zip_with(__v, __mu, (x, m) -> x - m),"
            " __u, (c, u) -> c * u),"
            " CAST(0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("score"),
        F.col("__ev").alias("eigval"),
    ).withColumn("whitened", F.expr("score / sqrt(eigval)"))


def pca_power(vecs: DataFrame) -> DataFrame:
    """Top principal component of a vector corpus.

    Returns (dim, loading, eigval): the unit dominant eigenvector of
    the (grid-quantized) covariance matrix, one row per dimension
    (1-indexed), with the Rayleigh-quotient eigenvalue — the variance
    captured by PC1 — repeated on each row.
    """
    state = pca_state(vecs)
    return state.select(
        F.posexplode("__u").alias("__p", "loading"),
        F.col("__ev").alias("eigval"),
    ).select(
        (F.col("__p") + 1).cast("bigint").alias("dim"),
        "loading", "eigval",
    )


def pca_project(vecs: DataFrame) -> DataFrame:
    """Per-vector PC1 score: (x - mu) . u for every valid corpus
    vector — the column you rank/filter/bucket a corpus by after PCA.

    The 1-row state broadcasts; the corpus side streams through a
    single zip_with/aggregate projection (no exchange beyond the
    state's own bounded aggregations), so the scoring pass is
    embarrassingly parallel at any corpus size. Ops are the same
    order-fixed folds as the state computation, hence oracle-exact.
    """
    state = pca_state(vecs)
    base = _valid_vectors(vecs, EMB_DIM, extra=["vec_id"])
    return base.crossJoin(F.broadcast(state)).select(
        F.col("vec_id"),
        F.expr(
            "aggregate(zip_with(zip_with(__v, __mu, (x, m) -> x - m),"
            " __u, (c, u) -> c * u),"
            " CAST(0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("pc1_score"),
        F.col("__ev").alias("eigval"),
    )


def _moment_partials(d: int, mu_scale: int, g_scale: int):
    """mapInPandas kernel: per-partition partial raw-moment sums of
    the ``__c`` vectors on the exact decimal grids — first moments at
    ``mu_scale`` (rows j = 0), second moments at ``g_scale`` (rows
    j >= 1), each as the (q, r) int64 pair ``exact_sum_agg`` sums
    (``operators.exactsum.grid`` / ``split_qr``). Long sums are
    order-independent, so partial accumulation per partition is exact
    by construction.

    Input contract: __c rows are finite (callers filter NaN/NULL
    vectors), so the NaN guard of the SQL path has nothing to do
    here; a partition with no rows yields nothing.
    """

    def kernel(batches):
        q1 = np.zeros(d, dtype=np.int64)
        r1 = np.zeros(d, dtype=np.int64)
        q2 = np.zeros((d, d), dtype=np.int64)
        r2 = np.zeros((d, d), dtype=np.int64)
        cnt = 0
        for pdf in batches:
            col = pdf["__c"]
            if not len(col):
                continue
            c = np.stack([np.asarray(x, dtype=np.float64)
                          for x in col])
            for lo in range(0, len(c), 256):
                ch = c[lo:lo + 256]
                q, r = split_qr(grid(ch, mu_scale))
                q1 += q.sum(axis=0)
                r1 += r.sum(axis=0)
                q, r = split_qr(
                    grid(np.einsum("ni,nj->nij", ch, ch), g_scale))
                q2 += q.sum(axis=0)
                r2 += r.sum(axis=0)
                cnt += len(ch)
        if cnt == 0:
            return
        ii, jj = np.meshgrid(np.arange(1, d + 1, dtype=np.int32),
                             np.arange(1, d + 1, dtype=np.int32),
                             indexing="ij")
        yield pd.DataFrame({
            "i": np.concatenate([np.arange(1, d + 1, dtype=np.int32),
                                 ii.ravel()]),
            "j": np.concatenate([np.zeros(d, dtype=np.int32),
                                 jj.ravel()]),
            "q": np.concatenate([q1, q2.ravel()]),
            "r": np.concatenate([r1, r2.ravel()]),
            "n": np.full(d + d * d, cnt, dtype=np.int64),
        })

    return kernel


def _power_once(g: list, rounds: int) -> tuple[list, float]:
    """One power-iteration pass + Rayleigh quotient, explicit scalar
    folds only — no BLAS, no pairwise summation, so op order is
    engine-replicable (matches the *_sql generators' fold order)."""

    v = [1.0] * len(g)
    for _ in range(rounds):
        nxt = []
        for row in g:
            acc = 0.0
            for x, y in zip(row, v):
                acc += x * y
            nxt.append(acc)
        v = nxt
    s = 0.0
    for y in v:
        s += y * y
    nrm = math.sqrt(s)
    u = [x / nrm for x in v]
    ev = 0.0
    for row, x in zip(g, u):
        acc = 0.0
        for a, b in zip(row, u):
            acc += a * b
        ev += x * acc
    return u, ev


def _iter_grams(batches, d: int):
    """Valid d x d Gram rows from the 1-row input stream."""
    for pdf in batches:
        for gobj in pdf["__G"]:
            if gobj is None:
                continue
            g = [[float(x) for x in row] for row in gobj]
            if len(g) == d:
                yield g


def _power_iter_kernel(d: int, rounds: int):
    """mapInPandas kernel: single top component (see _power_once)."""

    def kernel(batches):
        for g in _iter_grams(batches, d):
            u, ev = _power_once(g, rounds)
            yield pd.DataFrame({"__u": [u], "__ev": [ev]})

    return kernel


def _power_topk_kernel(d: int, rounds: int, n_comp: int):
    """mapInPandas kernel: n_comp components via Hotelling deflation
    (G <- G - ev * u u', the same left-associated op order the
    oracle's deflation CTE applies). One state row per component."""

    def kernel(batches):
        for g in _iter_grams(batches, d):
            comp, us, evs = [], [], []
            for c in range(n_comp):
                u, ev = _power_once(g, rounds)
                comp.append(c)
                us.append(u)
                evs.append(ev)
                if c < n_comp - 1:
                    g = [[g[i][j] - ev * u[i] * u[j]
                          for j in range(d)] for i in range(d)]
            yield pd.DataFrame({
                "component": pd.array(comp, dtype="int32"),
                "__u": us, "__ev": evs,
            })

    return kernel


def _topk_state(vecs: DataFrame):
    """(k-row component state, 1-row mean) — both broadcast-sized."""
    gmat, mu_row = _gram_state(vecs)
    st = gmat.mapInPandas(
        _power_topk_kernel(EMB_DIM, PCA_ROUNDS, PCA_COMPONENTS),
        schema="component int, __u array<double>, __ev double")
    return st, mu_row


def pca_outliers(vecs: DataFrame) -> DataFrame:
    """Mahalanobis-style outlier scoring in the captured PCA
    subspace: maha2 = sum over components of whitened^2 (each
    whitened coordinate is unit-variance, so maha2 is chi^2-shaped
    with ``PCA_COMPONENTS`` degrees of freedom), flagged above
    ``OUTLIER_THRESHOLD``. Squared terms pass the QTRUNC
    barrier and accumulate in DECIMAL, so the score — and therefore
    the flag — is order-independent and engine-exact.

    Scale: everything downstream of the whitening state is one
    zero-exchange projection plus a per-vector hash agg over
    ``PCA_COMPONENTS`` rows.
    """
    w = pca_whiten(vecs)
    # same floor-truncation barrier the suite's QTRUNC uses (whitened
    # is O(1), so scale 9 stays far inside the exact BIGINT range);
    # whitened^2 is never NaN for valid vectors, so no NaN branch
    term = ("(CAST(FLOOR((whitened * whitened) * 1e9) AS DOUBLE)"
            " / 1e9)")
    return (
        w.select("vec_id", F.expr(term).alias("__t"))
        .groupBy("vec_id")
        .agg(F.expr(decimal_sum("__t", 9)).alias("maha2"))
        .withColumn("is_outlier",
                    F.col("maha2") > F.lit(OUTLIER_THRESHOLD))
    )
