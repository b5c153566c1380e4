"""Bradley-Terry preference-model fit — the pairwise-preference
aggregation an RLHF data-curation pipeline runs over comparison data
(which arm wins more often, and by how much?), as a Spark-first
full-batch gradient ascent on the BT log-likelihood:

    p_ab   = QTRUNC(sigmoid(s_a - s_b), 12)     (libm barrier)
    qc_ab  = QTRUNC(wins_ab - n_ab * p_ab, 9)   (per-pair residual,
                                                 floored on-grid)
    g_t    = DSUM(+qc for t=a, -qc for t=b) / total_matches
    s'_t   = s_t + lr * g_t

The pair-level gradient contribution of the LOSER side is defined as
the exact negation of the winner side's on-grid residual (algebraic
BT identity; negation of an on-grid double is IEEE-exact), so both
engines sum identical terms whatever the order.

Scale design (100 TB): the corpus-scale work is building the match
matrix — one hash aggregation per (actor, arm) plus a per-actor
self-join whose group size is bounded by the arm count, never by the
corpus. The matrix itself is <= arms^2 rows; each training round is
ONE grouped aggregation over it, and the driver state is the
arm-count-sized score vector per round (the bounded-collect
precedent of ``classifier.train_logreg``'s weights and ``pq``'s
centroid inits). Rounds are data-independent in count.

Determinism and oracle parity: wins come from exact DECIMAL-sum
comparisons (order-independent); the only libm call (exp) sits
behind the QTRUNC barrier; residuals ride the 1e-9 grid before the
exact DECIMAL sums; the score update is the same IEEE op order in
the Python driver fold and the oracle's chained-CTE replay — final
scores are value-exact cross-engine.

Reference parity: the reference engine (umr-lops/xsarsea) has no ML
surface; this module is part of the LLM-data-pipeline extension the
engine brief mandates (preference data curation), next to the
logistic-regression quality classifier (``classifier.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.expr import double_lit, spark_str_lit
from xsarsea_spark.operators.exactsum import DSUM, QTRUNC

__all__ = ["preference_matrix", "bt_step", "train_bradley_terry",
           "period_preference_matrix", "elo_step", "elo_periods",
           "BT_ROUNDS", "BT_LR", "BT_QK", "BT_SCALE",
           "ELO_PERIODS", "ELO_K", "ELO_INIT"]

BT_ROUNDS = 8
BT_LR = 4.0
BT_QK = 12      # sigmoid quantization grid (1e-12)
BT_SCALE = 9    # residual grid / DECIMAL sum scale

ELO_PERIODS = 6   # fixed rating-period count (weeks, clamped)
ELO_K = 8.0
ELO_INIT = 1000.0


def preference_matrix(events: DataFrame) -> DataFrame:
    """(arm_a, arm_b, wins_a, n_matches) with arm_a < arm_b: one
    match per (actor, unordered arm pair) where both arms appear for
    the actor; the winner is the arm with the larger exact DECIMAL
    value sum; exact ties are excluded from both counts.

    The per-actor sums are one hash aggregation over the corpus; the
    pair join is actor-keyed with group size bounded by the arm
    count (arms are a schema property, not data volume)."""
    uv = (events.groupBy("user_id", "event_type")
          .agg(F.expr("SUM(CAST(CASE WHEN isnan(value)"
                      " THEN NULL ELSE value END"
                      " AS DECIMAL(38,6)))")
               .alias("__v")))
    a = uv.selectExpr("user_id AS __u", "event_type AS arm_a",
                      "__v AS __va")
    b = uv.selectExpr("user_id AS __u", "event_type AS arm_b",
                      "__v AS __vb")
    return (a.join(b, on="__u")
            .filter(F.col("arm_a") < F.col("arm_b"))
            .groupBy("arm_a", "arm_b")
            .agg(F.expr("CAST(SUM(CASE WHEN __va > __vb THEN 1"
                        " ELSE 0 END) AS BIGINT)").alias("wins_a"),
                 F.expr("CAST(SUM(CASE WHEN __va <> __vb THEN 1"
                        " ELSE 0 END) AS BIGINT)").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _score_case(scores: dict[str, float], col: str,
                default: float | None = None) -> str:
    """Exact score-literal lookup; ``default`` adds an ELSE branch
    so arms first seen in a batch score at the init value without a
    prior discovery pass."""
    arms = sorted(scores)
    cases = " ".join(
        f"WHEN {spark_str_lit(a)} THEN {double_lit(scores[a])}"
        for a in arms)
    tail = f" ELSE {double_lit(default)}" if default is not None else ""
    if not arms:
        return double_lit(default if default is not None else 0.0)
    return f"CASE {col} {cases}{tail} END"


def bt_step(pm: DataFrame, scores: dict[str, float]) -> dict[str, float]:
    """ONE full BT gradient step over the match matrix ``pm``: a
    signed explode of the on-grid per-pair residual, one grouped
    exact DECIMAL aggregation, an arm-count-sized collect."""

    sa = _score_case(scores, "arm_a")
    sb = _score_case(scores, "arm_b")
    p = QTRUNC(
        f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        f" + exp(-(({sa}) - ({sb}))))", BT_QK)
    qc = QTRUNC(
        f"CAST(wins_a AS DOUBLE) - CAST(n_matches AS DOUBLE)"
        f" * ({p})", BT_SCALE)
    signed = pm.selectExpr(
        "arm_a", "arm_b", "n_matches", f"{qc} AS __qc"
    ).selectExpr(
        "stack(2, arm_a, __qc, arm_b, -__qc) AS (arm, qc)",
        "n_matches")
    rows = (signed.groupBy("arm")
            .agg(F.expr(DSUM("qc", BT_SCALE)).alias("sg"),
                 F.expr("CAST(SUM(n_matches) AS BIGINT)")
                 .alias("nm"))
            .collect())
    total = float(sum(r["nm"] for r in rows)) / 2.0
    out = dict(scores)
    for r in rows:
        # same IEEE tree as the oracle: s + lr * (sg / total)
        out[r["arm"]] = scores[r["arm"]] + BT_LR * (r["sg"] / total)
    return out


def train_bradley_terry(pm: DataFrame) -> dict[str, float]:
    """Full BT fit: ``BT_ROUNDS`` gradient steps from zero-initialized
    scores over a materialized match matrix."""
    arms = sorted({r["arm_a"] for r in pm.select("arm_a").distinct()
                   .collect()}
                  | {r["arm_b"] for r in pm.select("arm_b").distinct()
                     .collect()})
    scores = {a: 0.0 for a in arms}
    for _ in range(BT_ROUNDS):
        scores = bt_step(pm, scores)
    return scores


def period_preference_matrix(events: DataFrame,
                             periods: int = ELO_PERIODS) -> DataFrame:
    """(p, arm_a, arm_b, wins_a, n_matches): the per-rating-period
    match matrix — one match per (period, actor, unordered arm pair)
    decided by exact DECIMAL value sums within the period. Periods
    are integer event-time weeks from the corpus minimum day,
    clamped to a FIXED count (the last period absorbs the tail), so
    the sequential replay depth is data-independent. Same plan shape
    as :func:`preference_matrix` with the period in every key."""
    base = events.filter("ts IS NOT NULL")
    md = base.agg(F.expr(
        "MIN((ts DIV 1000) DIV 86400000000)").alias("__md"))
    uv = (base.crossJoin(F.broadcast(md))
          .selectExpr(
              "user_id", "event_type", "value",
              f"LEAST(CAST((((ts DIV 1000) DIV 86400000000) - __md)"
              f" DIV 7 AS BIGINT), {periods - 1}) AS p")
          .groupBy("p", "user_id", "event_type")
          .agg(F.expr("SUM(CAST(CASE WHEN isnan(value)"
                      " THEN NULL ELSE value END"
                      " AS DECIMAL(38,6)))").alias("__v")))
    a = uv.selectExpr("p", "user_id AS __u",
                      "event_type AS arm_a", "__v AS __va")
    b = uv.selectExpr("p", "user_id AS __u",
                      "event_type AS arm_b", "__v AS __vb")
    return (a.join(b, on=["p", "__u"])
            .filter(F.col("arm_a") < F.col("arm_b"))
            .groupBy("p", "arm_a", "arm_b")
            .agg(F.expr("CAST(SUM(CASE WHEN __va > __vb THEN 1"
                        " ELSE 0 END) AS BIGINT)").alias("wins_a"),
                 F.expr("CAST(SUM(CASE WHEN __va <> __vb THEN 1"
                        " ELSE 0 END) AS BIGINT)").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def elo_step(pm_slice: DataFrame,
             ratings: dict[str, float]) -> dict[str, float]:
    """ONE Elo rating-period update over a match-matrix slice:

        E_ab = QTRUNC(1 / (1 + 10^((r_b - r_a) / 400)), BT_QK)
        qc   = QTRUNC(wins_a - n_ab * E_ab, BT_SCALE)
        r'_t = r_t + ELO_K * DSUM(+qc for t=a, -qc for t=b)

    One grouped exact-DECIMAL aggregation, arm-count-sized collect —
    the same scale contract as :func:`bt_step`. Arms first seen in
    this slice enter at ``ELO_INIT`` (identical to a full-history init,
    since untouched ratings never move). The batch unit of both the
    periodized trainer (:func:`elo_periods`) and the streaming
    ingest."""

    # ONE job: the ELSE branch scores unseen arms at init, so the
    # batch needs no arm-discovery pass, and the grouped-agg result
    # rows ARE the batch's arm set
    ra = _score_case(ratings, "arm_a", default=ELO_INIT)
    rb = _score_case(ratings, "arm_b", default=ELO_INIT)
    e = QTRUNC(
        f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        f" + pow(CAST(10.0 AS DOUBLE),"
        f" (({rb}) - ({ra})) / CAST(400.0 AS DOUBLE)))", BT_QK)
    qc = QTRUNC(
        f"CAST(wins_a AS DOUBLE) - CAST(n_matches AS DOUBLE)"
        f" * ({e})", BT_SCALE)
    rows = (pm_slice
            .selectExpr("arm_a", "arm_b", f"{qc} AS __qc")
            .selectExpr("stack(2, arm_a, __qc, arm_b, -__qc)"
                        " AS (arm, qc)")
            .groupBy("arm")
            .agg(F.expr(DSUM("qc", BT_SCALE)).alias("d"))
            .collect())
    out = dict(ratings)
    for r in rows:
        # same IEEE tree as the oracle: r + K * d
        out[r["arm"]] = out.get(r["arm"], ELO_INIT) + ELO_K * r["d"]
    return out


def elo_periods(pm: DataFrame) -> dict[str, float]:
    """Sequential rating-period Elo (the Glicko-style batch regime:
    ratings frozen within a period, updated once per period) —
    ``ELO_PERIODS`` chained :func:`elo_step` calls over the period
    slices of the match matrix."""
    arms = sorted(
        {r["arm_a"] for r in pm.select("arm_a").distinct().collect()}
        | {r["arm_b"] for r in
           pm.select("arm_b").distinct().collect()})
    ratings = {a: ELO_INIT for a in arms}
    for p in range(ELO_PERIODS):
        ratings = elo_step(pm.filter(F.col("p") == p), ratings)
    return ratings
