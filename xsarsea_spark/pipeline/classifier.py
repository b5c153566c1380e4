"""Distributed logistic-regression training — the trainable quality
classifier a curation pipeline ships (the linear core of the
fastText/DCLM-style filters), as a Spark-first full-batch gradient
descent:

    z_i  = fold_d  w_d * x_{i,d}            (ascending-d double fold)
    p_i  = QTRUNC(sigmoid(z_i), 12)         (libm barrier: exp differs
                                             by 1 ulp cross-engine)
    g_d  = DSUM(QTRUNC((p_i - y_i) * x_{i,d})) / n   (terms floored
                                             onto the decimal grid,
                                             then exact DECIMAL sums)
    w'_d = w_d - lr * g_d

Scale design (100 TB): each round is ONE map-side-combined
aggregation over the corpus — d partial DECIMAL sums per partition,
a 1-row result, no explode, no shuffle beyond the keyless agg. The
driver state is the d-double weight vector per round (the bounded
collect precedent of ``pq.train_pq``'s centroids). Rounds are
data-independent in count, so the whole train is R corpus scans.

Determinism and oracle parity: features and labels are pure integer/
division arithmetic; the only libm call (exp) sits behind the QTRUNC
barrier; gradient sums ride the exact DECIMAL grid (order-
independent); the weight update is the same IEEE op order in the
Python driver fold and the oracle's chained-CTE replay, so the final
weights, predictions AND accuracy are value-exact cross-engine.

Reference parity: the reference engine has no ML surface; this is
part of the LLM-data-pipeline extension (engine brief), next to
k-means (`clustering.py`), PCA (`linalg.py`, `incpca.py`) and BPE
(`bpe.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.expr import double_lit, spark_str_lit
from xsarsea_spark.operators.exactsum import DSUM, QTRUNC

__all__ = ["doc_features", "gd_step", "train_logreg",
           "train_logreg_grouped", "score_docs", "save_weights",
           "load_weights", "GROUPED_Z_SQL", "N_FEATURES",
           "LABEL_MIN_CHARS", "ROUNDS", "LR", "QK", "GRAD_SCALE"]

N_FEATURES = 5
LABEL_MIN_CHARS = 300
ROUNDS = 8        # full-batch gradient steps
LR = 1.0          # learning rate
QK = 12           # QTRUNC decimals of the sigmoid
GRAD_SCALE = 12   # decimals of the exact per-dim gradient sums


def doc_features(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(id, *extra, x array<double>, y double): the classic length/
    diversity/stopword feature block (x0 = bias), label =
    long-document gate. All features are integer counts and single
    double divisions — no libm, exactly reproducible in SQL.
    ``extra`` columns (e.g. a grouping key) pass through untouched."""
    ntok = "CAST(size(split(text, ' ')) AS DOUBLE)"
    return (
        docs.filter("text IS NOT NULL AND n_chars IS NOT NULL")
        .selectExpr(
            "doc_id", *extra,
            f"array(CAST(1.0 AS DOUBLE),"
            f" {ntok} / CAST(100.0 AS DOUBLE),"
            f" CAST(size(array_distinct(split(text, ' ')))"
            f" AS DOUBLE) / {ntok},"
            f" CAST(size(filter(split(text, ' '),"
            f" x -> x = 'a' OR x = 'the')) AS DOUBLE) / {ntok},"
            f" CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE))"
            f" AS x",
            f"CASE WHEN n_chars >= {LABEL_MIN_CHARS}"
            f" THEN CAST(1.0 AS DOUBLE)"
            f" ELSE CAST(0.0 AS DOUBLE) END AS y",
        )
    )


def _w_lit(w: list[float]) -> str:
    """Weight vector as an exact SQL literal array (``double_lit``
    parses to the driver's double bit for bit)."""
    return "array(" + ", ".join(double_lit(x) for x in w) + ")"


def z_expr(w: list[float]) -> str:
    """The ascending-d zero-init dot-product fold (bit-equal to the
    oracle's list_reduce over per-dim products: 0.0 + a == a)."""
    return (f"aggregate(zip_with({_w_lit(w)}, x, (a, b) -> a * b),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def gd_step(xy: DataFrame, w: list[float]) -> list[float]:
    """ONE full gradient step of logistic regression over ``xy``:
    a single keyless map-side-combined aggregation whose per-dim
    components are exact DECIMAL-grid sums of the quantized residual
    times the feature. The batch unit of both the full-batch trainer
    (:func:`train_logreg`) and the streaming SGD ingest."""

    p = QTRUNC(
        f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        f" + exp(-({z_expr(w)})))", QK)
    # QTRUNC each term BEFORE the DECIMAL cast: the raw product is
    # an arbitrary double whose decimal tail can straddle the cast's
    # rounding boundary differently across engines; the floor grid
    # is pure IEEE arithmetic, so both engines cast an identical
    # on-grid double (then the cast is unambiguous).
    #
    # p is projected ONCE below the aggregate: inlining it into every
    # per-dim gradient sum evaluated the interpreted higher-order
    # dot product + sigmoid N_FEATURES times per row (identical
    # value, N_FEATURES x the work)
    row = xy.select("y", "x", F.expr(p).alias("__p")).agg(
        *[F.expr(DSUM(QTRUNC(
            f"(__p - y) * element_at(x, {d + 1})", GRAD_SCALE),
            GRAD_SCALE)).alias(f"g{d}")
          for d in range(N_FEATURES)],
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = row["n"]
    if n == 0:
        # an empty batch (e.g. a streaming micro-batch whose rows all
        # failed the feature filter) is a no-op step, not a crash —
        # NULL gradients / zero division must never poison the weights
        return list(w)
    # same op order as the oracle: grid-sum -> double -> / n, * lr,
    # subtract
    return [w[d] - LR * (row[f"g{d}"] / n) for d in range(N_FEATURES)]


def train_logreg(xy: DataFrame, rounds: int = ROUNDS) -> list[float]:
    """Full-batch GD from w = 0. Returns the final weight vector."""
    # cache the (x, y) projection across rounds: features drop the
    # raw text, so the cached frame is a few doubles per doc (~1% of
    # the corpus bytes — cacheable even at the 100-TB design point),
    # and rounds 2..R skip the parquet scan + the split()-heavy
    # feature recompute. Values are unchanged — persistence is a
    # storage hint, never a semantics change.
    txy = xy.select("x", "y").persist()
    try:
        w = [0.0] * N_FEATURES
        for _ in range(rounds):
            w = gd_step(txy, w)
        return w
    finally:
        txy.unpersist()


GROUPED_Z_SQL = ("aggregate(zip_with(w, x, (a, b) -> a * b),"
                 " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def train_logreg_grouped(xy: DataFrame, rounds: int = ROUNDS
                         ) -> dict[str, list[float]]:
    """Train ONE model PER ``lang`` GROUP in shared corpus scans — the
    per-domain/per-language filter fleet a multilingual curation
    pipeline ships, without multiplying passes: each round is a
    single grouped map-side-combined aggregation carrying every
    group's d DECIMAL-grid gradient sums at once, and the per-round
    weight state is inlined as a literal CASE-over-groups array
    expression (the grouped analog of :func:`train_logreg`'s literal
    ``z_expr``) — same ``zip_with`` fold over the same doubles as
    the broadcast-join formulation it replaces, but a round costs
    one aggregation job with no per-round createDataFrame +
    BroadcastExchange lifecycle. Driver state is |groups| * d
    doubles (groups are bounded — languages/domains, not
    documents). The arithmetic per group is identical to
    :func:`train_logreg`, so the same chained-CTE oracle ladder
    replays it with a GROUP BY.
    """

    txy = xy.select("lang", "x", "y").persist()
    try:
        groups = sorted(
            r[0] for r in txy.select("lang").distinct().collect()
            if r[0] is not None)
        w = {g: [0.0] * N_FEATURES for g in groups}
        # the old inner join against the (group, w) table also
        # dropped rows whose group is absent from `groups` (only
        # possible for NULL, which distinct() above filtered) — keep
        # that row set explicit under the literal-CASE formulation
        tin = txy.filter(F.col("lang").isin(list(groups)))
        for _ in range(rounds):
            wcase = ("CASE " + " ".join(
                "WHEN lang = {g} THEN {arr}".format(
                    g=spark_str_lit(str(g)), arr=_w_lit(w[g]))
                for g in groups) + " END")
            z = (f"aggregate(zip_with({wcase}, x, (a, b) -> a * b),"
                 f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
            p = QTRUNC(
                f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
                f" + exp(-({z})))", QK)
            rows = (
                tin
                # same once-below-the-agg projection as gd_step:
                # identical value, 1/N_FEATURES of the sigmoid work
                .select("lang", "y", "x", F.expr(p).alias("__p"))
                .groupBy("lang")
                .agg(*[F.expr(DSUM(QTRUNC(
                    f"(__p - y) * element_at(x, {d + 1})", GRAD_SCALE),
                    GRAD_SCALE)).alias(f"g{d}")
                    for d in range(N_FEATURES)],
                    F.count(F.lit(1)).alias("n"))
            ).collect()
            for r in rows:
                g, n = r["lang"], r["n"]
                w[g] = [w[g][d] - LR * (r[f"g{d}"] / n)
                        for d in range(N_FEATURES)]
        return w
    finally:
        txy.unpersist()


def save_weights(spark: SparkSession, w: list[float],
                 path: str) -> None:
    """Persist the trained weight vector as a parquet artifact —
    parquet doubles round-trip bit-exactly, so the loaded model
    scores identically to the in-memory one. repartition(1), never
    coalesce(1): coalesce of a local-relation frame stalls ~6 s in
    task scheduling on this Spark build."""
    spark.createDataFrame(
        [(d + 1, w[d]) for d in range(len(w))],
        "feature bigint, weight double",
    ).repartition(1).write.mode("overwrite").parquet(path)


def load_weights(spark: SparkSession, path: str) -> list[float]:
    """Reload a :func:`save_weights` artifact (bounded: one row per
    feature dimension)."""
    rows = spark.read.parquet(path).orderBy("feature").collect()
    return [r["weight"] for r in rows]


def score_docs(xy: DataFrame, w: list[float]) -> DataFrame:
    """O(batch) model application — the deploy half of the
    train-once/score-everywhere lifecycle: one scan, the weight
    vector inlined as exact double literals (broadcast-by-
    construction), no training jobs. Returns (id, score, prob,
    keep): score is the raw pure-IEEE dot product, prob the
    QTRUNC-quantized sigmoid, keep the 0-threshold decision."""

    return xy.select(
        "doc_id",
        F.expr(z_expr(w)).alias("score"),
    ).selectExpr(
        "doc_id", "score",
        QTRUNC("CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
               " + exp(-(score)))", QK) + " AS prob",
        "score >= CAST(0.0 AS DOUBLE) AS keep",
    )
