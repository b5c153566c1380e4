"""DSIR — Data Selection via Importance Resampling (Xie et al.
2023, arXiv:2302.03169): select raw-corpus documents whose hashed
n-gram feature distribution looks like a TARGET domain, the
data-selection operator modern LLM curation stacks run between
dedup and mixture sampling.

Method (the paper's, deterministic variant):

- features(x) = word unigrams + bigrams, hashed into ``b`` buckets
  (the paper's "hashed n-gram" generative features — bucket counts
  are unigram bag-of-hashed-ngrams statistics);
- fit two multinomials over buckets with add-one smoothing:
  ``p_target`` from the target subset's feature counts, ``p_raw``
  from the whole corpus;
- per-doc log importance weight
  ``log w(x) = sum_f [ln p_target(f) - ln p_raw(f)]``;
- resample: the paper draws Gumbel-top-k; this implementation takes
  the DETERMINISTIC top-k by weight (tie-broken by doc id) so the
  selection is an exact, replayable set — the variance-reduction
  variant the paper's appendix evaluates.

Determinism (the engine's KN-LM conventions): all counts are
integer; the per-bucket term is ONE shared expression string both
engines evaluate (identical IEEE op order), QTRUNC'd after ln, and
per-doc sums ride the DECIMAL(38,9) grid — order-independent, so
the DuckDB oracle hash-matches.

Scale: the bucket table is ``b`` rows (256 default) — counts are two
map-side-combined aggregations, the score join is a BROADCAST of the
bucket table back onto the feature stream, and the top-k selection
rides ``operators.rank.global_rank`` (two-pass, no corpus-wide
window). Nothing is quadratic; the feature explode is the same
O(corpus tokens) volume every n-gram operator here already pays.

Parity: reference repo has no text surface (engine-brief extension —
curation family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.engine import materialize
from xsarsea_spark.operators.exactsum import QTRUNC
from xsarsea_spark.operators.rank import global_rank
from xsarsea_spark.pipeline.text import HASH40_SQL

__all__ = ["DSIR_B", "DSIR_FRAC", "dsir_term_sql", "dsir_features",
           "dsir_fit_terms", "dsir_score", "dsir_logweights",
           "dsir_select", "dsir_threshold"]

DSIR_B = 256        # hashed feature buckets
DSIR_FRAC = 0.25    # selected fraction of scored docs

# feature array: unigrams + space-joined bigrams of the token list
# {l}; shared across dialects (concat/transform/sequence exist in
# Spark; the oracle builder emits the DuckDB spelling)
_FEATS_SPARK = (
    "concat({l}, CASE WHEN size({l}) >= 2 THEN"
    " transform(sequence(1, size({l}) - 1),"
    " i -> concat(element_at({l}, i), ' ', element_at({l}, i + 1)))"
    " ELSE array() END)"
)


def dsir_term_sql() -> str:
    """Per-bucket log-ratio term ``ln p_target - ln p_raw`` with
    add-one smoothing, as ONE expression string over columns
    ``ct`` (target count, NULLable), ``cr`` (raw count), ``nt``/``nr``
    (total target/raw feature counts) — QTRUNC'd so both engines land
    on the identical 9-decimal grid."""

    return QTRUNC(
        f"ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)"
        f" / CAST(nt + {DSIR_B} AS DOUBLE))"
        f" - ln(CAST(cr + 1 AS DOUBLE)"
        f" / CAST(nr + {DSIR_B} AS DOUBLE))", 9)


def dsir_features(docs: DataFrame,
                  target_col: str | None = "is_target") -> DataFrame:
    """(id[, is_target], bucket) hashed-feature rows: one explode of
    the unigram+bigram array, bucket = 40-bit content hash mod
    ``DSIR_B``
    (non-negative in both engines, so ``%`` agrees). Pass
    ``target_col=None`` when scoring against pre-fitted terms (no
    membership column needed)."""
    feats = _FEATS_SPARK.format(l="__l")
    keep = ["doc_id"] + ([target_col] if target_col else [])
    return (
        docs.filter(F.col("text").isNotNull())
        .selectExpr(*keep, "split(text, ' ') AS __l")
        .selectExpr(*keep, f"explode({feats}) AS __f")
        .selectExpr(*keep,
                    f"{HASH40_SQL.format(x='__f')} % {DSIR_B} AS bucket"))


def dsir_fit_terms(feats: DataFrame,
                   count_col: str | None = None) -> DataFrame:
    """Fit the per-bucket log-ratio term table (bucket, __term
    DECIMAL(38,9)) from a feature stream carrying the target flag —
    the offline artifact a production DSIR sampler persists once and
    applies at ingest.

    ``count_col``: when the caller pre-collapsed the stream to
    (.., bucket, count) occurrence counts (guide-§2.3 aggregate-
    before-materialize), per-bucket totals are SUMs of the counts —
    identical integers to COUNT(*) over the raw stream."""
    cnt = (F.count(F.lit(1)) if count_col is None
           else F.expr(f"CAST(SUM({count_col}) AS BIGINT)"))
    cr = feats.groupBy("bucket").agg(cnt.alias("cr"))
    ct = (feats.filter(F.col("is_target"))
          .groupBy("bucket").agg(cnt.alias("ct")))
    tots = cr.join(ct, on="bucket", how="left").agg(
        F.expr("CAST(SUM(cr) AS BIGINT)").alias("nr"),
        F.expr("CAST(SUM(COALESCE(ct, 0)) AS BIGINT)").alias("nt"))
    return (cr.join(ct, on="bucket", how="left")
            .crossJoin(F.broadcast(tots))
            .selectExpr("bucket",
                        f"CAST({dsir_term_sql()} AS"
                        f" DECIMAL(38,9)) AS __term"))


def dsir_score(docs: DataFrame, terms: DataFrame) -> DataFrame:
    """Score docs against a PRE-FITTED terms table: (id, n_feats,
    logw DECIMAL(38,9)) — the apply-at-ingest half of DSIR. Buckets
    absent from the terms table contribute nothing (can only happen
    when the table was fitted on a different corpus; the fit emits
    every bucket its corpus has)."""
    feats = dsir_features(docs, target_col=None)
    return (feats.join(F.broadcast(terms), on="bucket")
            .groupBy("doc_id")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_feats"),
                 F.expr("SUM(__term)").alias("logw")))


def dsir_logweights(docs: DataFrame) -> DataFrame:
    """Per-doc DSIR log importance weight: (id, n_feats,
    logw DECIMAL(38,9)). ``is_target`` is a boolean column on
    ``docs`` marking the target-domain subset. Fit and score run on
    the same corpus (the batch selection shape); use
    :func:`dsir_fit_terms` + :func:`dsir_score` to fit once and
    apply to other data."""

    # three consumers (raw counts, target counts, the score join)
    # would each replay the explode without the barrier
    feats = materialize(dsir_features(docs))
    terms = dsir_fit_terms(feats)
    return (feats.join(F.broadcast(terms), on="bucket")
            .groupBy("doc_id")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_feats"),
                 F.expr("SUM(__term)").alias("logw")))


def dsir_select(scored: DataFrame) -> DataFrame:
    """Top-``DSIR_FRAC`` selection by (weight DESC, id ASC) — exact
    deterministic resampling via the distributed two-pass rank; adds
    ``sel_rank`` and keeps only selected rows. k = ceil(frac * n)."""

    # two consumers (the k-count aggregation and global_rank's
    # range-partition pass) would otherwise each replay the full
    # logweights lineage — a whole extra pass over the feature stream
    scored = materialize(scored)
    k = scored.agg(F.expr(
        f"CAST(CEIL(COUNT(*) * {DSIR_FRAC!r}) AS BIGINT)").alias("__k"))
    ranked = global_rank(
        scored,
        [F.col("logw").desc(), F.col("doc_id").asc()],
        rank_col="sel_rank")
    return (ranked.crossJoin(F.broadcast(k))
            .filter("sel_rank <= __k").drop("__k"))


def dsir_threshold(scored: DataFrame) -> DataFrame:
    """1-row frame (__thr DECIMAL): the weight at rank
    ceil(DSIR_FRAC * n) under (weight DESC, id ASC) — the acceptance
    threshold a streaming DSIR ingest applies to every incoming
    batch (>= semantics: ties AT the threshold are all admitted,
    the natural streaming relaxation of exact top-k).

    The 1-row contract holds for EMPTY history too: with no scored
    rows the threshold frame still has one row, with a NULL ``__thr``
    that the consumer reads as admit-everything (``coalesce`` below).
    Without it, a crossJoin against a 0-row frame would silently
    drop every incoming micro-batch forever — the worst possible
    failure mode for an ingest gate."""

    scored = materialize(scored)
    k = scored.agg(F.expr(
        f"CAST(CEIL(COUNT(*) * {DSIR_FRAC!r}) AS BIGINT)").alias("__k"))
    ranked = global_rank(
        scored,
        [F.col("logw").desc(), F.col("doc_id").asc()],
        rank_col="__rk")
    at_k = (ranked.crossJoin(F.broadcast(k))
            .filter("__rk = __k")
            .selectExpr("logw AS __thr"))
    # exactly one row, always: MIN over zero rows is NULL, and a
    # NULL threshold means "no history -> admit everything"
    return at_k.agg(F.expr("MIN(__thr)").alias("__thr"))
