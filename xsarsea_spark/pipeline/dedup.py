"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB): the LSH path NEVER does all-pairs — candidate
pairs come from a banded ``groupBy`` (same band hash -> same bucket,
self-equi-join within bucket), so cost is O(docs * K) for signatures
plus O(sum of bucket^2) for candidates, with bucket sizes bounded by
band selectivity. The Jaccard verification joins only candidate pairs
against their shingle sets.

Hashing: 40-bit md5-derived token hashes (cross-engine stable — see
pipeline.text.HASH40_SQL) permuted by ``(a_k * h + b_k) % P`` with
P = 2^40 - 87 (prime); all arithmetic stays inside BIGINT.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xsarsea_spark.engine import materialize
from xsarsea_spark.operators.exactsum import seq_dot
from xsarsea_spark.pipeline.linalg import EMB_DIM
from xsarsea_spark.pipeline.text import HASH40_SQL

__all__ = [
    "shingle",
    "minhash_signatures",
    "lsh_bands",
    "lsh_probe",
    "lsh_candidates",
    "jaccard_verify",
    "minhash_lsh_dedup",
    "minhash_lsh_incremental",
    "minhash_lsh_cross_snapshot",
    "simhash",
    "MINHASH_P",
]

MINHASH_P = (1 << 40) - 87          # prime
_BAND_MULT = 1000003
SHINGLE_N, MINHASH_K = 3, 16        # shingle words, minhash permutations
JACCARD_T = 0.2                     # near-dup Jaccard cut
SIMHASH_BITS = 16
PLANE_SEED = 0xC0FFEE               # hyperplane LCG seed
# cosine_neardup: hyperplanes, bands (8 sign bits each), cosine cut
COSINE_PLANES, COSINE_BANDS, COSINE_T = 32, 4, 0.95


def _perm_params(k: int) -> tuple[int, int]:
    return 97 + 31 * k, 911 + 131 * k


def shingle(docs: DataFrame) -> DataFrame:
    """Distinct word ``SHINGLE_N``-gram shingles per document:
    (id, shingle).

    Docs with fewer than n tokens yield NO shingles (and so drop
    out of signature/candidate stages) — the same semantics as the
    oracle's end-exclusive ``range(len - n + 1)``. Without the
    filter, ``sequence(0, size - n)`` auto-steps DOWN for short docs
    and ``element_at`` throws INVALID_ARRAY_INDEX."""
    n = SHINGLE_N
    toks = "split(text, ' ')"
    parts = " || ' ' || ".join(
        f"element_at(__toks, i + {j + 1})" for j in range(n)
    )
    return (
        docs.selectExpr("doc_id", f"{toks} AS __toks")
        .filter(f"size(__toks) >= {n}")
        .selectExpr(
            "doc_id",
            f"explode(transform(sequence(0, size(__toks) - {n}),"
            f" i -> {parts})) AS shingle",
        )
        .distinct()
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """MinHash signature rows (id, k, minh), ``MINHASH_K`` per doc.

    All K permutation minima are computed as K aggregate expressions in
    ONE hash aggregation over the shingles (map-side partial combine),
    then unpivoted with ``stack`` — no K-fold row blowup: the naive
    crossJoin(perms) formulation multiplies the shuffle by K, which at
    100 TB is the difference between one pass and sixteen.
    """
    k = MINHASH_K
    h40 = HASH40_SQL.format(x="shingle")
    work = sh.withColumn("__h", F.expr(h40))
    aggs = [
        F.expr(f"min(({a} * __h + {b}) % {MINHASH_P}) AS m{i}")
        for i, (a, b) in ((i, _perm_params(i)) for i in range(k))
    ]
    wide = work.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{i}, m{i}" for i in range(k))
    return wide.selectExpr(
        "doc_id", f"stack({k}, {stack}) AS (k, minh)"
    )


def lsh_bands(sig: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Banded signature table (id, band, bandhash) — the persistable
    LSH state: each band hash combines the ``rows_per_band``
    signature rows of the band (the r in the (b, r) S-curve; fewer
    rows per band = more bands = higher recall, lower precision).
    This is the table an incremental ingest keeps on disk and probes
    new batches against.

    The fold is a per-step-mod Horner chain, so any r stays inside
    BIGINT ((P-1) * MULT + P < 2^61); at the default r=2 it is
    bit-identical to the historical single-step hash every persisted
    band table was written with."""
    slots = [f"max(CASE WHEN slot = {s} THEN minh END)"
             for s in range(rows_per_band)]
    fold = slots[0]
    for nxt in slots[1:]:
        fold = f"(({fold}) * {_BAND_MULT} + {nxt}) % {MINHASH_P}"
    return (
        sig.withColumn("band",
                       F.expr(f"CAST(FLOOR(k / {rows_per_band}) AS INT)"))
        .withColumn("slot", F.expr(f"k % {rows_per_band}"))
        .groupBy("doc_id", "band")
        .agg(F.expr(fold).alias("bandhash"))
    )


def lsh_probe(batch_bands: DataFrame, state_bands: DataFrame) -> DataFrame:
    """Candidate (id_a=state, id_b=batch) pairs: the batch's band
    table probed against a persisted band table on (band, bandhash)
    equality — the incremental analog of the ``lsh_candidates``
    self-join, O(batch bands) join work against the state table."""
    l = state_bands.alias("l")
    r = batch_bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bandhash") == F.col("r.bandhash")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
        )
        .distinct()
    )


def lsh_candidates(sig: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Banded LSH candidate pairs (id_a < id_b): band hash combines
    ``rows_per_band`` signature rows of each band (so k / r bands);
    pairs come from a bucket self-join, never an all-pairs cross
    join."""
    b = lsh_bands(sig, rows_per_band=rows_per_band)
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col(f"l.band") == F.col(f"r.band"))
            & (F.col("l.bandhash") == F.col("r.bandhash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "id_a"), on="id_a")
        .join(
            sh.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("shingle", "shingle_b"),
            on="id_b",
        )
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        cand.join(inter, on=["id_a", "id_b"], how="left")
        .na.fill({"n_inter": 0})
        .join(sizes.withColumnRenamed("doc_id", "id_a")
              .withColumnRenamed("n", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n", "n_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.expr("n_inter / CAST(n_a + n_b - n_inter AS DOUBLE)"),
        )
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_dedup(docs: DataFrame) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> banded LSH ->
    exact Jaccard >= ``JACCARD_T``. Returns (id_a, id_b, jaccard).

    The shingle set feeds four consumers (signatures, the two verify
    joins, the size agg) but needs NO explicit cache: every consumer
    sits behind the same ``distinct()`` exchange, and Spark's
    ReusedExchange dedupes identical exchange subtrees within one
    plan, so the tokenize+explode runs once and the consumers re-read
    its shuffle output. (Measured: persisting the shingle set is ~2x
    SLOWER — MEMORY_AND_DISK materialization of the wide rows costs
    more than the shuffle re-reads it saves, and the cache barrier
    breaks whole-stage codegen pipelining.)
    """
    sh = shingle(docs)
    sig = minhash_signatures(sh)
    cand = lsh_candidates(sig)
    ver = jaccard_verify(cand, sh)
    return ver.filter(F.col("jaccard") >= JACCARD_T)


def minhash_lsh_incremental(batch_docs: DataFrame,
                            state_bands: DataFrame,
                            hist_docs: DataFrame) -> DataFrame:
    """Incremental near-dup maintenance: one NEW batch against a
    PERSISTED band table (built with the default ``shingle`` /
    ``minhash_signatures``) — the MinHash-LSH analog of the digest
    anti-join in exact incremental dedup. Pairs with Jaccard >=
    ``JACCARD_T`` are kept.

    Per-ingest cost is O(batch) shingling/signatures/banding, one
    equality join of the batch's bands against the state table, a
    within-batch band self-join, and exact Jaccard verification of
    candidates only. Historical shingle sets are re-derived from the
    doc store ONLY for the historical docs that appear in candidates
    (semi-join pruning) — the state table itself stays KB-per-doc.

    Returns verified pairs (id_a, id_b, jaccard, from_history);
    ``id_a < id_b`` always (historical ids precede batch ids). The
    result is replay-equivalent to a full recompute restricted to
    pairs whose right side is in the batch — the property the suite
    oracle certifies.
    """

    sh_b = shingle(batch_docs)
    sig_b = minhash_signatures(sh_b)
    # KB-per-doc band rows, consumed by BOTH the state probe and the
    # within-batch self-join: the barrier stops each consumer (and
    # everything downstream of `cand`) from re-planning the whole
    # shingle->signature->band lineage — the un-truncated plan grew
    # to ~240 Exchange nodes and paid seconds of Catalyst/AQE work
    bands_b = materialize(lsh_bands(sig_b))

    cand_hist = lsh_probe(bands_b, state_bands)
    l, r = bands_b.alias("l"), bands_b.alias("r")
    cand_batch = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bandhash") == F.col("r.bandhash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"))
        .distinct()
    )
    # candidate pairs are output-sized (two ids per row) and feed
    # THREE consumers (historical semi-join pruning + two verify
    # joins); checkpointing them truncates the triple-replayed
    # candidate-generation lineage
    cand = materialize(cand_hist.unionByName(cand_batch).distinct())

    hist_needed = cand.select(F.col("id_a").alias("doc_id")).distinct()
    sh_h = shingle(
        hist_docs.join(hist_needed, on="doc_id", how="left_semi"))
    sh = sh_b.unionByName(sh_h)
    ver = jaccard_verify(cand, sh)
    # plain (AQE-sized) join: batch_ids is O(batch), never forced
    # into a broadcast
    batch_ids = batch_docs.selectExpr("doc_id AS id_a",
                                      "true AS __in_batch").distinct()
    return (
        ver.filter(F.col("jaccard") >= JACCARD_T)
        .join(batch_ids, on="id_a", how="left")
        .withColumn("from_history",
                    F.expr("NOT coalesce(__in_batch, false)"))
        .drop("__in_batch")
    )


def minhash_lsh_cross_snapshot(batch_docs: DataFrame,
                               snapshot_bands: DataFrame,
                               snapshot_docs: DataFrame,
                               batch_snapshot: int | None = None
                               ) -> DataFrame:
    """Cross-snapshot near-dup dedup: one NEW crawl/batch probed
    against N PRIOR snapshots' persisted band tables at once — the
    CommonCrawl-style "dedup this week's crawl against every prior
    crawl" a production 100-TB pipeline runs weekly.

    ``snapshot_bands`` is the union of the N per-snapshot band tables
    (``lsh_bands`` output) with a ``snapshot`` provenance tag —
    on disk, one parquet root partitioned by snapshot, so a probe
    restricted to recent crawls prunes partitions for free.
    ``snapshot_docs`` is the matching union of the doc stores (only
    candidate docs are ever re-shingled from it — semi-join pruned).

    The probe itself is exactly the single-table incremental path
    (one (band, bandhash) equality join — bands from different
    snapshots are just more rows of the same distributed table);
    what cross-snapshot adds is provenance: each verified pair
    reports WHICH snapshot its historical side lives in (pairs whose
    both sides are in the batch get ``batch_snapshot``). Result is
    replay-equivalent to a full recompute over (all snapshots +
    batch) restricted to pairs whose right side is in the batch,
    provided the snapshots partition the history — the suite oracle
    certifies exactly that.

    Returns (id_a, id_b, jaccard, snapshot).
    """
    pairs = minhash_lsh_incremental(
        batch_docs,
        snapshot_bands.drop("snapshot"),
        snapshot_docs.drop("snapshot"),
    )
    # provenance from the band tables' tags (already persisted state;
    # pairs are output-sized, so AQE sizes this join)
    prov = (snapshot_bands
            .select(F.col("doc_id").alias("id_a"), F.col("snapshot"))
            .distinct())
    return (
        pairs.join(prov, on="id_a", how="left")
        .withColumn("snapshot",
                    F.coalesce(F.col("snapshot"),
                               F.lit(batch_snapshot)))
        .select("id_a", "id_b", "jaccard", "snapshot")
    )


def simhash(docs: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash fingerprint: sign of per-bit
    weighted sums of token hashes (weight = token multiplicity).

    All per-bit sign sums are computed as aggregate
    expressions in ONE hash aggregation over the exploded tokens
    (map-side partial combine), then folded into the fingerprint in a
    tiny projection — the earlier crossJoin-with-bit-positions
    formulation multiplied the shuffle by the bit count (16x),
    which at 100 TB is the whole job. Integer sums, so aggregation
    order cannot affect the result."""
    h40 = HASH40_SQL.format(x="tok")
    toks = docs.selectExpr(
        "doc_id", "explode(split(text, ' ')) AS tok"
    ).withColumn("__h", F.expr(h40))
    aggs = [
        F.expr(f"SUM(CASE WHEN (__h DIV {1 << j}) % 2 = 1"
               f" THEN 1 ELSE -1 END) AS __s{j}")
        for j in range(SIMHASH_BITS)
    ]
    wide = toks.groupBy("doc_id").agg(*aggs)
    combine = " + ".join(
        f"(CASE WHEN __s{j} > 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS)
    )
    return wide.selectExpr(
        "doc_id", f"CAST({combine} AS BIGINT) AS simhash"
    )


# ----------------------------------------------------------------------
# Embedding-cosine near-dup (the vector-space dedup family)
# ----------------------------------------------------------------------

def hyperplanes(n_planes: int, dim: int) -> list:
    """Deterministic pseudo-random hyperplane components as integers in
    [-1001, 1001], generated by a fixed 64-bit LCG at SQL-build time.

    Planes are emitted into the SQL as exact integer-ratio literals
    (``k e0 / 1001e0``), so Spark and any SQL oracle compute
    bit-identical projections. (An earlier modular in-SQL formula made
    consecutive planes near-parallel — 9973 = -42 mod 2003 — which
    collapsed every vector into the all-signs-equal buckets.)
    """
    st = PLANE_SEED & ((1 << 64) - 1)
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            st = (st * 6364136223846793005 + 1442695040888963407) \
                % (1 << 64)
            row.append(int((st >> 33) % 2003) - 1001)
        planes.append(row)
    return planes


def plane_matrix(n_planes: int) -> np.ndarray:
    """(n_planes, EMB_DIM) float64 ``hyperplanes`` — each k/1001 is one
    IEEE division, identical to the SQL literal ``{k}e0/1001e0``."""
    return np.array(hyperplanes(n_planes, EMB_DIM),
                    dtype=np.float64) / 1001.0


def projection_sql(plane: list, elem) -> str:
    """Flat unrolled dot product ``sum_i v[i] * k_i/1001`` — plain
    left-to-right double adds (codegen-able, no interpreted lambdas,
    deterministic order in every engine). ``elem(i)`` renders 1-based
    element access for the target engine."""
    terms = [
        f"CAST({elem(i + 1)} AS DOUBLE) * ({k}e0/1001e0)"
        for i, k in enumerate(plane) if k != 0
    ]
    return "(" + " + ".join(terms) + ")"


def band_bucket_sql(proj_sqls: list, band: int, r: int) -> str:
    """Integer bucket id = little-endian sign bits of the band's ``r``
    projections."""
    return " + ".join(
        f"(CASE WHEN {proj_sqls[band * r + j]} > 0e0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(r)
    )


def norm_sql(elem, dim: int) -> str:
    """Flat unrolled L2 norm of a vector column."""
    sq = " + ".join(
        f"CAST({elem(i + 1)} AS DOUBLE) * CAST({elem(i + 1)} AS DOUBLE)"
        for i in range(dim)
    )
    return f"sqrt({sq})"


def dot_sql(ea, eb, dim: int) -> str:
    """Flat unrolled dot product between two vector columns."""
    return "(" + " + ".join(
        f"CAST({ea(i + 1)} AS DOUBLE) * CAST({eb(i + 1)} AS DOUBLE)"
        for i in range(dim)
    ) + ")"


def cosine_neardup(vecs: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded random-
    hyperplane LSH — never all-pairs.

    Each ``EMB_DIM`` vector gets ``COSINE_PLANES`` signed projections
    (flat unrolled multiply-adds — whole-stage codegen, deterministic
    order), cut into ``COSINE_BANDS`` sign-pattern buckets of
    planes/bands bits each. Candidate pairs share a (band, bucket);
    only candidates get the exact cosine, and pairs with cosine >=
    ``COSINE_T`` survive. Returns (id_a, id_b, cosine).

    Scale: signatures are one projection pass over the vectors; the
    candidate stage shuffles on (band, bucket) — with r = planes /
    bands sign bits there are 2^r buckets per band, so cost is
    O(n * planes * dim) + O(sum bucket^2), not O(n^2); r = 8 gives
    256 buckets/band.
    Parity: reference has no vector dedup; family required by the
    engine brief (embedding-cosine near-dup).
    """

    n_planes, bands, dim = COSINE_PLANES, COSINE_BANDS, EMB_DIM
    r = n_planes // bands
    P = plane_matrix(n_planes)
    weights = np.array([1 << j for j in range(r)], dtype=np.int64)

    # Signatures via an Arrow-batched pandas UDF: 2048+ unrolled
    # multiply-adds per row exceed the JVM 64KB method limit (and
    # whole-stage codegen cannot split expressions over columnar input
    # vars), so the flat-SQL form de-optimizes to interpreted eval.
    # seq_dot accumulates left-to-right over vector index i, exactly
    # the SQL sum order, so projections are bit-identical to the
    # unrolled-SQL oracle (NumPy does not fuse a*b+c into FMA here;
    # each term is two IEEE-rounded ops in both engines).
    def _bucket_batches(emb: pd.Series) -> pd.Series:
        V = np.asarray(list(emb.to_numpy()), dtype=np.float64)
        bits = seq_dot(V, P) > 0.0
        out = np.empty((V.shape[0], bands), dtype=np.int32)
        for b in range(bands):
            out[:, b] = bits[:, b * r:(b + 1) * r] @ weights
        return pd.Series(list(out))

    buckets_udf = pandas_udf(_bucket_batches, "array<int>")
    # lazily checkpointed: the signature table ((id, band, bucket) —
    # a few ints per vector) feeds BOTH sides of the candidate
    # self-join, and without the barrier each side re-runs the full
    # vector scan + Arrow projection kernel (the executed plan
    # carried 4 ArrowEvalPython nodes over 8 source scans)

    sig = materialize(
        vecs.select(F.col("vec_id"),
                    buckets_udf(F.col("embedding")).alias("__bks"))
        .select("vec_id",
                F.posexplode("__bks").alias("band", "bucket")),
        eager=False)
    a = sig.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    b = sig.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    nrm = vecs.select(
        F.col("vec_id"),
        F.col("embedding").alias("__v"),
        F.expr(norm_sql(lambda i: f"element_at(embedding, {i})", dim))
        .alias("__n"),
    )
    va = nrm.select(F.col("vec_id").alias("id_a"),
                    F.col("__v").alias("__va"),
                    F.col("__n").alias("__na"))
    vb = nrm.select(F.col("vec_id").alias("id_b"),
                    F.col("__v").alias("__vb"),
                    F.col("__n").alias("__nb"))
    dot = dot_sql(lambda i: f"element_at(__va, {i})",
                  lambda i: f"element_at(__vb, {i})", dim)
    out = (
        cand.join(va, on="id_a").join(vb, on="id_b")
        .withColumn("cosine", F.expr(f"{dot} / nullif(__na * __nb, 0e0)"))
        .filter(F.col("cosine") >= F.lit(COSINE_T))
        .select("id_a", "id_b", "cosine")
    )
    return out
