"""Event-stream query battery: tumbling windows, sessionization,
watermark dedup — each in a batch form and (where marked) a Structured
Streaming form validated by the SAME DuckDB oracle.

Time determinism: the batch loader canonicalizes ``events.ts`` to raw
nanosecond BIGINT whatever the parquet physical type (TIMESTAMP(NANOS)
via nanosAsLong, or TIMESTAMP(MICROS) via unix_micros — see
``sources.tables.normalize_event_ts``), and DuckDB reads the same file
at microsecond resolution — so ALL event-time math here is integer
MICROSECONDS (Spark ``ts DIV 1000``, DuckDB ``epoch_us(ts)``), exact
in BIGINT; sums use exact DECIMAL casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xsarsea_spark.engine import materialize
from xsarsea_spark.sources.tables import load
from xsarsea_spark.streaming.harness import (latest_version,
                                             run_available_now,
                                             stage_arrival,
                                             version_below)
from xsarsea_spark.suite.base import DAVG, DSUM, QTRUNC, spec

_US_SPARK = "(ts DIV 1000)"
_US_DUCK = "epoch_us(ts)"


# ----------------------------------------------------------------------
# Tumbling hourly aggregation (batch + streaming share this oracle)
# ----------------------------------------------------------------------

_HOURLY_ORACLE = f"""
SELECT ({_US_DUCK} // 3600000000) AS hour_bucket,
  event_type,
  COUNT(*) AS n_events,
  {DSUM('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@spec(
    "events_hourly",
    _HOURLY_ORACLE,
    description="Tumbling 1-hour event aggregation (count + exact sum) "
                "— partial/final hash agg, no shuffle beyond the groupBy",
    tags=("events", "window"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.expr(f"({_US_SPARK}) DIV 3600000000")
            .alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(DSUM("value")).alias("sum_value"),
        )
    )


@spec(
    "events_stream_hourly",
    _HOURLY_ORACLE,
    description="Structured Streaming variant: readStream -> watermark "
                "-> tumbling window agg -> memory sink (availableNow); "
                "same oracle as the batch query",
    tags=("events", "streaming"),
)
def q_events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_hourly_counts

    return stream_hourly_counts(spark, sf_dir)


# ----------------------------------------------------------------------
# Sessionization (30-min inactivity gap)
# ----------------------------------------------------------------------

_SESS_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, value, {_US_DUCK} AS ep FROM events),
m AS (
  SELECT *, CASE WHEN ep - LAG(ep) OVER w > 1800000000
                 OR LAG(ep) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                             ORDER BY ep, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM m)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  MIN(ep) AS session_start, MAX(ep) AS session_end,
  COUNT(*) AS n_events, {DSUM('value')} AS sum_value
FROM s GROUP BY user_id, session_id
"""


@spec(
    "events_sessionize",
    _SESS_ORACLE,
    description="Gap-based sessionization (30-min inactivity): lag + "
                "running sum session ids, per-session rollup",
    tags=("events", "window"),
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.expr(_US_SPARK).alias("ep"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    marked = ev.withColumn(
        "new_s",
        F.when(
            (F.col("ep") - F.lag("ep").over(w) > 1800000000)
            | F.lag("ep").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ep").alias("session_start"),
        F.max("ep").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr(DSUM("value")).alias("sum_value"),
    )


# ----------------------------------------------------------------------
# Minute-key dedup (batch + watermarked-stream variants, one oracle:
# the output is the key set, independent of which row wins)
# ----------------------------------------------------------------------

_DEDUP_ORACLE = f"""
SELECT DISTINCT user_id, event_type,
  ({_US_DUCK} // 60000000) AS minute_bucket
FROM events
"""


@spec(
    "events_minute_dedup",
    _DEDUP_ORACLE,
    description="Event dedup on (user, type, minute): batch "
                "dropDuplicates on the derived key",
    tags=("events", "dedup"),
)
def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id", "event_type",
        F.expr(f"({_US_SPARK}) DIV 60000000")
        .alias("minute_bucket"),
    ).dropDuplicates()


@spec(
    "events_stream_dedup",
    _DEDUP_ORACLE,
    description="Streaming variant: dropDuplicatesWithinWatermark on "
                "(user, type, minute); same oracle — output is the key "
                "set regardless of which physical row wins",
    tags=("events", "streaming"),
)
def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_minute_dedup

    return stream_minute_dedup(spark, sf_dir)


# ----------------------------------------------------------------------
# As-of join: each 'click' event picks up the latest prior 'error'
# event per user (backward as-of). Oracle: DuckDB's native ASOF JOIN.
# ----------------------------------------------------------------------

_ASOF_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, event_id, {_US_DUCK} AS us, value
  FROM events WHERE event_type = 'click'),
errors AS (
  SELECT user_id, {_US_DUCK} AS us, value
  FROM events WHERE event_type = 'error')
SELECT c.user_id, c.event_id, c.us, c.value,
  e.us AS us_asof, e.value AS value_asof
FROM clicks c
ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND c.us >= e.us
"""


@spec(
    "events_asof_join",
    _ASOF_ORACLE,
    description="Backward as-of join (latest prior error per click, "
                "per user) via union + carry-forward window — one "
                "shuffle, no range-join explosion; oracle is DuckDB's "
                "native ASOF JOIN",
    tags=("events", "join"),
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value",
        F.expr(_US_SPARK).alias("us"),
    )
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", "event_id", "us", "value")
    errors = ev.filter("event_type = 'error'").select(
        "user_id", "us", "value", F.col("us").alias("us_r"))
    return (
        asof_join(clicks, errors, on="us", by=["user_id"],
                  right_cols=["value", "us_r"])
        .select("user_id", "event_id", "us", "value",
                F.col("us_r_asof").alias("us_asof"), "value_asof")
    )


@spec(
    "events_stream_sessionize",
    _SESS_ORACLE,
    description="Structured Streaming sessionization via native "
                "session_window (merging session state, availableNow) "
                "— same oracle as the batch gap-sessionize query",
    tags=("events", "streaming"),
)
def q_events_stream_sessionize(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_sessionize

    return stream_sessionize(spark, sf_dir)


# ----------------------------------------------------------------------
# Stream-stream interval join: views -> same-user purchases within 30
# minutes. The batch oracle is the plain interval self-join in integer
# microseconds.
# ----------------------------------------------------------------------

_IVJOIN_ORACLE = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id,
  v.user_id AS user_id,
  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND epoch_us(p.ts) >= epoch_us(v.ts)
 AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@spec(
    "events_stream_interval_join",
    _IVJOIN_ORACLE,
    description="Stream-stream interval join (watermarked both sides, "
                "bounded join state): views to same-user purchases "
                "within 30 minutes — batch-identical output",
    tags=("events", "streaming", "join"),
)
def q_events_stream_interval_join(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_interval_join

    return stream_interval_join(spark, sf_dir)


# ----------------------------------------------------------------------
# Custom stateful operator via applyInPandasWithState: per-user
# running stats with an order-fixed value fold. Oracle: per-user
# aggregate with a list(... ORDER BY event_id) sequential reduction —
# the same op sequence as the kernel's sorted left-to-right fold.
# ----------------------------------------------------------------------

_USTATS_ORACLE = """
SELECT user_id,
  COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_purchases,
  list_reduce(list(value ORDER BY event_id), (a, b) -> a + b)
    AS sum_value,
  MAX(value) AS max_value,
  MIN(epoch_us(ts)) AS first_us,
  MAX(epoch_us(ts)) AS last_us
FROM events
GROUP BY user_id
"""


@spec(
    "events_stream_user_stats",
    _USTATS_ORACLE,
    description="applyInPandasWithState custom stateful aggregator: "
                "per-user counts, order-fixed value sum, max, "
                "first/last event time",
    tags=("events", "streaming", "udf"),
)
def q_events_stream_user_stats(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_user_stats

    return stream_user_stats(spark, sf_dir)


# ----------------------------------------------------------------------
# Skew-salted join: every user in events is a hot key (~67 rows/user
# at sf0.01, power-law-style fan-out at scale). Salting re-buckets
# the shuffle only; the oracle is the PLAIN join + aggregation, so
# the row-identity of the salted plan is what's being checked.
# ----------------------------------------------------------------------

_SALT_ORACLE = """
WITH dim AS (
  SELECT user_id, MIN(epoch_us(ts)) AS reg_us
  FROM events GROUP BY user_id)
SELECT e.user_id, e.event_type,
  COUNT(*) AS n_events,
  MIN(d.reg_us) AS reg_us,
  CAST(SUM(epoch_us(e.ts) - d.reg_us) AS BIGINT) AS age_us_sum
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY e.user_id, e.event_type
"""


@spec(
    "events_salted_join",
    _SALT_ORACLE,
    description="Skew-salted fact-dim join: hot keys split across "
                "salts, dim rows replicated per salt — row-identical "
                "to the plain join the oracle runs",
    tags=("events", "join", "skew"),
)
def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.expr("MIN(ts DIV 1000)").alias("reg_us"))
    joined = salted_join(ev.select("user_id", "event_type", "ts"),
                         dim, on="user_id", n_salts=8,
                         hot_threshold=20)
    return (
        joined.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("reg_us").alias("reg_us"),
            F.expr("SUM(ts DIV 1000 - reg_us)").alias("age_us_sum"),
        )
    )


# ----------------------------------------------------------------------
# KMV distinct-count sketch: deterministic (md5-based), so unlike
# HLL it is value-exact across engines while remaining a real
# mergeable sketch. Estimates distinct (user, props) combos per type
# next to the exact count.
# ----------------------------------------------------------------------

_KMV_K = 64
_KMV_VAL = "CAST(user_id AS VARCHAR) || '#' || props"

_KMV_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT event_type,
    {{h}} AS h
  FROM events),
r AS (
  SELECT event_type, h,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM d),
s AS (
  SELECT event_type,
    MAX(CASE WHEN rk = {_KMV_K} THEN h END) AS hk,
    MAX(rk) AS n
  FROM r WHERE rk <= {_KMV_K} GROUP BY event_type),
t AS (
  SELECT event_type,
    COUNT(DISTINCT CAST(user_id AS VARCHAR) || '#' || props)
      AS true_distinct
  FROM events GROUP BY event_type)
SELECT s.event_type,
  CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
       ELSE {_KMV_K - 1} * 1099511627776e0 / hk END AS kmv_estimate,
  t.true_distinct
FROM s JOIN t ON t.event_type = s.event_type
"""


@spec(
    "events_kmv_distinct",
    _KMV_ORACLE.format(
        h="CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||"
          " props), 1, 10) AS BIGINT)"),
    description="KMV distinct-count sketch (k smallest md5 hashes) "
                "per event type, next to the exact distinct — "
                "deterministic, so value-exact unlike HLL",
    tags=("events", "agg", "sketch"),
)
def q_events_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.sketch import kmv_estimate, kmv_sketch

    ev = load(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], _KMV_VAL.replace("VARCHAR",
                                                         "STRING"),
                    k=_KMV_K)
    est = kmv_estimate(sk, ["event_type"], k=_KMV_K)
    true = ev.groupBy("event_type").agg(
        F.expr(f"COUNT(DISTINCT {_KMV_VAL.replace('VARCHAR', 'STRING')})")
        .alias("true_distinct"))
    return est.join(true, on="event_type").select(
        "event_type", "kmv_estimate", "true_distinct")


# ----------------------------------------------------------------------
# DDSketch quantile sketch (Masson et al. 2019): log-gamma buckets,
# fully mergeable (per-bucket count addition), relative-error bound.
# gamma is the exact double 101/99 and the ln()/POW() results pass
# the QTRUNC barrier, so unlike percentile_approx the sketch AND its
# quantile estimates are value-exact cross-engine.
# ----------------------------------------------------------------------

_DD_QS = {"q50": "5e-1", "q95": "95e-2", "q99": "99e-2"}


def _dd_oracle() -> str:
    from xsarsea_spark.operators.sketch import (DD_GAMMA_SQL,
                                                dd_bucket_sql,
                                                dd_quantile_sql)
    from xsarsea_spark.suite.base import QTRUNC

    b = dd_bucket_sql("value", QTRUNC)
    picks = []
    for name, q in _DD_QS.items():
        cond, est = dd_quantile_sql(q, QTRUNC)
        picks.append(f"MIN(CASE WHEN {cond} THEN {est} END) AS {name}")
    return f"""
WITH s AS (
  SELECT event_type, {b} AS bucket, COUNT(*) AS cnt
  FROM events WHERE value > 0 AND NOT isnan(value)
  GROUP BY event_type, bucket),
t AS (
  SELECT event_type, bucket, cnt,
    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
    SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM s)
SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_values,
  {", ".join(picks)}
FROM t GROUP BY event_type
"""


@spec(
    "events_dd_quantiles",
    _dd_oracle(),
    description="DDSketch mergeable quantile sketch (log-gamma "
                "buckets, 1% relative error) per event type: q50/"
                "q95/q99 estimates value-exact cross-engine via the "
                "QTRUNC barrier — unlike engine-native "
                "percentile_approx",
    tags=("events", "agg", "sketch", "quantile"),
)
def q_events_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.sketch import dd_quantiles, dd_sketch

    ev = load(spark, sf_dir, "events")
    sk = dd_sketch(ev, ["event_type"], "value")
    return dd_quantiles(sk, ["event_type"], _DD_QS).select(
        "event_type", "n_values", *list(_DD_QS))


# ----------------------------------------------------------------------
# Funnel analysis: ordered view -> click -> purchase per user. Each
# stage timestamp is the earliest event of that type STRICTLY AFTER
# the previous stage (the classic ordered-funnel semantics, cf.
# ClickHouse windowFunnel). All three stage minima are unbounded
# window aggregates over the SAME partitioning key, so Catalyst plans
# ONE exchange on user_id for the whole chain, and the final per-user
# collapse reuses that partitioning — a single shuffle end-to-end at
# any scale. Pure BIGINT microsecond math: cross-engine exact.
# ----------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, {_US_DUCK} AS us, event_type FROM events),
w1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
    OVER (PARTITION BY user_id) AS t_view FROM e),
w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND us > t_view
                     THEN us END)
    OVER (PARTITION BY user_id) AS t_click FROM w1),
w3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us > t_click
                     THEN us END)
    OVER (PARTITION BY user_id) AS t_purchase FROM w2)
SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
  MIN(t_purchase) AS t_purchase,
  (CASE WHEN MIN(t_view) IS NOT NULL THEN 1 ELSE 0 END
   + CASE WHEN MIN(t_click) IS NOT NULL THEN 1 ELSE 0 END
   + CASE WHEN MIN(t_purchase) IS NOT NULL THEN 1 ELSE 0 END) AS stage
FROM w3 GROUP BY user_id
"""


@spec(
    "events_funnel",
    _FUNNEL_ORACLE,
    description="Ordered 3-stage funnel (view -> click -> purchase) "
                "per user: stage minima chained through window "
                "aggregates sharing one user_id exchange",
    tags=("events", "funnel", "window"),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "user_id", f"{_US_SPARK} AS us", "event_type")
    w = Window.partitionBy("user_id")
    df = ev.withColumn(
        "t_view",
        F.expr("min(CASE WHEN event_type = 'view' THEN us END)").over(w))
    df = df.withColumn(
        "t_click",
        F.expr("min(CASE WHEN event_type = 'click' AND us > t_view "
               "THEN us END)").over(w))
    df = df.withColumn(
        "t_purchase",
        F.expr("min(CASE WHEN event_type = 'purchase' AND us > t_click "
               "THEN us END)").over(w))
    return df.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
        F.expr(
            "CASE WHEN min(t_view) IS NOT NULL THEN 1 ELSE 0 END"
            " + CASE WHEN min(t_click) IS NOT NULL THEN 1 ELSE 0 END"
            " + CASE WHEN min(t_purchase) IS NOT NULL THEN 1 ELSE 0 END"
        ).alias("stage"),
    )


# ----------------------------------------------------------------------
# Cohort retention matrix: users bucketed by their first-active week,
# counted in every later week they return. Integer week arithmetic
# (us DIV week), one window pass for the cohort label (shared user_id
# exchange), then a distinct-count per (cohort, offset) cell.
# ----------------------------------------------------------------------

_WEEK_US = 604_800_000_000          # 7 * 86400 * 1e6 microseconds


_RETENTION_ORACLE = f"""
WITH e AS (
  SELECT user_id, ({_US_DUCK} // {_WEEK_US}) AS week FROM events),
c AS (
  SELECT *, MIN(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM e)
SELECT cohort_week, week - cohort_week AS week_offset,
  COUNT(DISTINCT user_id) AS n_users
FROM c GROUP BY 1, 2
"""


@spec(
    "events_retention",
    _RETENTION_ORACLE,
    description="Weekly cohort retention matrix: first-active week "
                "per user via one windowed min, then distinct users "
                "per (cohort_week, week_offset) cell",
    tags=("events", "retention", "window"),
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "user_id", f"({_US_SPARK}) DIV {_WEEK_US} AS week")
    w = Window.partitionBy("user_id")
    c = ev.withColumn("cohort_week", F.min("week").over(w))
    return (
        c.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ----------------------------------------------------------------------
# SCD2 dimension history from the purchase-value observation stream:
# consecutive equal values collapse, each surviving change opens a
# [valid_from, valid_to) interval, last interval flagged current —
# the standard warehouse MERGE-maintained layout, built here from two
# window passes over one user_id exchange. (us, event_id) ordering
# makes equal-timestamp ties deterministic in both engines.
# ----------------------------------------------------------------------

_SCD2_ORACLE = f"""
WITH c AS (
  SELECT user_id, {_US_DUCK} AS us, event_id, value
  FROM events WHERE event_type = 'purchase'),
d AS (
  SELECT *, lag(value) OVER
    (PARTITION BY user_id ORDER BY us, event_id) AS pv
  FROM c),
k AS (SELECT user_id, us, event_id, value FROM d
      WHERE value IS DISTINCT FROM pv)
SELECT user_id, value, us AS valid_from,
  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
    AS valid_to,
  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
    AS is_current
FROM k
"""


@spec(
    "events_scd2_history",
    _SCD2_ORACLE,
    description="SCD type-2 validity intervals from the purchase "
                "value stream: lag-collapse + lead-close, two window "
                "passes on one business-key exchange",
    tags=("events", "scd", "window"),
)
def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.scd import scd2_history

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .selectExpr("user_id", f"{_US_SPARK} AS us", "event_id",
                    "value")
    )
    return scd2_history(ev, ["user_id"], "us", ["value"], "event_id")


# ----------------------------------------------------------------------
# Count-min frequency sketch next to the exact counts. md5 bucketing
# and integer counters make the whole sketch value-exact cross-engine
# (library sketches never are); cm_count >= true_count always, with
# the classic e/width overestimate bound.
# ----------------------------------------------------------------------

_CM_D, _CM_W = 4, 64


def _cm_hash_duck(row: int) -> str:
    return (f"(CAST('0x' || substr(md5('{row}#' ||"
            f" CAST(user_id AS VARCHAR)), 1, 10) AS BIGINT)"
            f" % {_CM_W})")


def _countmin_oracle() -> str:
    bl = ", ".join(_cm_hash_duck(j) for j in range(_CM_D))
    rl = ", ".join(str(j) for j in range(_CM_D))
    return f"""
WITH ex AS (
  SELECT unnest([{bl}]) AS bucket, unnest([{rl}]) AS rw FROM events),
sk AS (SELECT rw, bucket, COUNT(*) AS counter FROM ex GROUP BY 1, 2),
items AS (SELECT DISTINCT user_id FROM events),
probes AS (
  SELECT user_id, unnest([{bl}]) AS bucket, unnest([{rl}]) AS rw
  FROM items),
est AS (
  SELECT user_id, MIN(coalesce(counter, 0)) AS cm_count
  FROM probes LEFT JOIN sk USING (rw, bucket) GROUP BY user_id),
tc AS (SELECT user_id, COUNT(*) AS true_count
       FROM events GROUP BY user_id)
SELECT user_id, true_count, cm_count FROM tc JOIN est USING (user_id)
"""


@spec(
    "events_countmin",
    _countmin_oracle(),
    description="Count-min frequency sketch (4x64 md5 rows, exact "
                "integer counters) vs true per-user counts — "
                "deterministic, mergeable, value-exact cross-engine",
    tags=("events", "sketch"),
)
def q_events_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.sketch import (countmin_estimate,
                                                countmin_sketch)

    ev = load(spark, sf_dir, "events")
    v = "CAST(user_id AS STRING)"
    sk = countmin_sketch(ev, v, depth=_CM_D, width=_CM_W)
    items = ev.select("user_id").distinct()
    est = countmin_estimate(items, sk, v, depth=_CM_D, width=_CM_W)
    true = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_count"))
    return true.join(est, on="user_id").select(
        "user_id", "true_count", "cm_count")


_COHORT_ENRICH_ORACLE = f"""
WITH c AS (
  SELECT user_id, MIN({_US_DUCK} // {_WEEK_US}) AS cohort_week
  FROM events GROUP BY user_id)
SELECT cohort_week, event_type, COUNT(*) AS n_events
FROM events JOIN c USING (user_id)
GROUP BY 1, 2
"""


@spec(
    "events_stream_cohort",
    _COHORT_ENRICH_ORACLE,
    description="Stream-static broadcast join: streaming events "
                "enriched with the batch-computed cohort dimension, "
                "aggregated per (cohort_week, event_type)",
    tags=("events", "streaming", "join"),
)
def q_events_stream_cohort(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_cohort_enrich

    return stream_cohort_enrich(spark, sf_dir)


# ----------------------------------------------------------------------
# Non-equi range-band join: each event lands in a value band via
# lo <= value < hi. With the band dimension broadcast this is a
# BroadcastNestedLoopJoin — O(1)-size inner loop per row, no shuffle
# of the fact side; the band table is inline VALUES so both engines
# join the identical literal dimension.
# ----------------------------------------------------------------------

_BANDS = [(0, "0e0", "1e1"), (1, "1e1", "5e1"), (2, "5e1", "1e2"),
          (3, "1e2", "25e1"), (4, "25e1", "1e9")]

_BAND_VALUES = ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _BANDS)

_BAND_ORACLE = f"""
WITH bands(band_id, lo, hi) AS (VALUES {_BAND_VALUES})
SELECT band_id, COUNT(*) AS n_events, {DSUM('value')} AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band_id
"""


@spec(
    "events_band_join",
    _BAND_ORACLE,
    description="Non-equi value-band join (broadcast nested loop over "
                "an inline dimension) + per-band exact aggregates",
    tags=("events", "join", "range"),
)
def q_events_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bands = spark.sql(
        f"SELECT * FROM VALUES {_BAND_VALUES} AS bands(band_id, lo, hi)")
    return (
        ev.join(F.broadcast(bands),
                (F.col("value") >= F.col("lo"))
                & (F.col("value") < F.col("hi")))
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.expr(DSUM("value")).alias("sum_value"))
    )


# ----------------------------------------------------------------------
# Bloom-filter semi-join prefilter — the runtime-row-filter pattern:
# a bounded bit table built from the selective side rides broadcast
# ahead of the real join, so the fact side sheds rows without
# shuffling. md5 bit positions + 63-bit words make the filter
# value-exact cross-engine; the row also carries the exact semi-join
# count so the (deterministic) false-positive overhead is visible.
# ----------------------------------------------------------------------

_BLOOM_M, _BLOOM_K, _BLOOM_THR = 4096, 3, 18


def _bloom_pos_duck(j: int) -> str:
    return (f"(CAST('0x' || substr(md5('B{j}#' ||"
            f" CAST(user_id AS VARCHAR)), 1, 10) AS BIGINT)"
            f" % {_BLOOM_M})")


def _bloom_oracle() -> str:
    poss = ", ".join(_bloom_pos_duck(j) for j in range(_BLOOM_K))
    probes = " AND ".join(
        f"""EXISTS (SELECT 1 FROM bits b
      WHERE b.word = ({_bloom_pos_duck(j)}) // 63
        AND (b.bits & (1::BIGINT << (({_bloom_pos_duck(j)}) % 63)))
            != 0)"""
        for j in range(_BLOOM_K))
    return f"""
WITH hot AS (
  SELECT user_id FROM events WHERE event_type = 'error'
  GROUP BY user_id HAVING COUNT(*) > {_BLOOM_THR}),
bits AS (
  SELECT p // 63 AS word, bit_or(1::BIGINT << (p % 63)) AS bits
  FROM (SELECT unnest([{poss}]) AS p FROM hot) GROUP BY 1),
cand AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
passed AS (SELECT user_id FROM cand WHERE {probes}),
exact AS (SELECT c.user_id FROM cand c
          WHERE c.user_id IN (SELECT user_id FROM hot))
SELECT (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
       (SELECT COUNT(*) FROM exact) AS n_exact_pass
"""


@spec(
    "events_bloom_prefilter",
    _bloom_oracle(),
    description="Deterministic bloom-filter semi-join prefilter "
                "(md5 bits, 63-bit bit_or words, broadcast probes) "
                "vs the exact semi join — the runtime-filter scale "
                "pattern, value-exact in both engines",
    tags=("events", "join", "sketch"),
)
def q_events_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.sketch import bloom_build, bloom_filter

    ev = load(spark, sf_dir, "events")
    v = "CAST(user_id AS STRING)"
    hot = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > _BLOOM_THR)
        .select("user_id")
    )
    bloom = bloom_build(hot, v, m_bits=_BLOOM_M, k=_BLOOM_K)
    cand = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id")
    passed = bloom_filter(cand, bloom, v, m_bits=_BLOOM_M,
                          k=_BLOOM_K)
    exact = cand.join(hot, on="user_id", how="left_semi")
    a = passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    b = exact.agg(F.count(F.lit(1)).alias("n_exact_pass"))
    return a.crossJoin(b)


# ----------------------------------------------------------------------
# CDC snapshot diff: two deterministic per-user profile snapshots
# (built from different event subsets) full-outer joined into
# I/U/D change rows — the read side of an incremental MERGE. All
# compared attributes are integers (counts, last-seen micros), so the
# diff is trivially exact.
# ----------------------------------------------------------------------

_CDC_ORACLE = f"""
WITH old_s AS (
  SELECT user_id, COUNT(*) AS n_events, MAX({_US_DUCK}) AS last_us
  FROM events WHERE event_id % 3 != 0 GROUP BY user_id),
new_s AS (
  SELECT user_id, COUNT(*) AS n_events, MAX({_US_DUCK}) AS last_us
  FROM events WHERE user_id % 11 != 0 GROUP BY user_id)
SELECT coalesce(o.user_id, n.user_id) AS user_id,
  CASE WHEN o.user_id IS NULL THEN 'I'
       WHEN n.user_id IS NULL THEN 'D'
       ELSE 'U' END AS op,
  o.n_events AS old_n_events, o.last_us AS old_last_us,
  n.n_events AS new_n_events, n.last_us AS new_last_us
FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
WHERE o.user_id IS NULL OR n.user_id IS NULL
   OR o.n_events != n.n_events OR o.last_us != n.last_us
"""


@spec(
    "events_snapshot_cdc",
    _CDC_ORACLE,
    description="CDC diff of two profile snapshots: one full-outer "
                "join emitting I/U/D rows with old/new values "
                "(co-partitionable on the key — zero-shuffle when "
                "bucketed)",
    tags=("events", "cdc", "join"),
)
def q_events_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.scd import snapshot_diff

    ev = load(spark, sf_dir, "events")

    def snap(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"MAX({_US_SPARK})").alias("last_us"))

    old = snap(ev.filter("event_id % 3 != 0"))
    new = snap(ev.filter("user_id % 11 != 0"))
    return snapshot_diff(old, new, ["user_id"],
                         ["n_events", "last_us"])


# ----------------------------------------------------------------------
# Semi-structured processing: JSON path extraction from the props
# column (string JSON), typed cast, grouped aggregation. The
# extracted field is an integer, so values are exact; both engines
# evaluate their native JSON path primitive (get_json_object /
# ->> '$.k') — same scalar out.
# ----------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(CAST(props ->> '$.k' AS BIGINT)) AS min_k,
  MAX(CAST(props ->> '$.k' AS BIGINT)) AS max_k,
  COUNT(DISTINCT CAST(props ->> '$.k' AS BIGINT)) AS n_distinct_k
FROM events
GROUP BY event_type
"""


@spec(
    "events_json_extract",
    _JSON_ORACLE,
    description="JSON path extraction from the props column with "
                "typed integer aggregation — semi-structured scan "
                "stays JVM-side (get_json_object)",
    tags=("events", "json"),
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = "CAST(get_json_object(props, '$.k') AS BIGINT)"
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.expr(f"SUM({k})").alias("sum_k"),
             F.expr(f"MIN({k})").alias("min_k"),
             F.expr(f"MAX({k})").alias("max_k"),
             F.expr(f"COUNT(DISTINCT {k})").alias("n_distinct_k"))
    )


# ----------------------------------------------------------------------
# Pivot: one row per user, one count column per event type (explicit
# value list, so Spark skips the extra distinct pass). The oracle is
# the equivalent conditional aggregation — what PIVOT desugars to.
# ----------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = f"""
SELECT user_id,
  {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0"
             f" END) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
"""


@spec(
    "events_pivot",
    _PIVOT_ORACLE,
    description="Pivot events to one count column per type (explicit "
                "value list -> single pass, map-side combined)",
    tags=("events", "pivot"),
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    out = piv
    for t in _EVENT_TYPES:
        out = out.withColumn(f"n_{t}",
                             F.coalesce(F.col(t), F.lit(0))) \
            .drop(t)
    return out


# ----------------------------------------------------------------------
# Markov transition mining: consecutive event-type pairs per user
# (time-ordered, event_id tie-break), corpus transition counts and
# QTRUNC'd conditional probabilities — first-order sequence model of
# user behavior. One user_id exchange for the lag, then a pair agg.
# ----------------------------------------------------------------------

_TRANS_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_type, {_US_DUCK} AS us, event_id
  FROM events),
p AS (
  SELECT event_type AS cur,
    lead(event_type) OVER
      (PARTITION BY user_id ORDER BY us, event_id) AS nxt
  FROM o),
c AS (SELECT cur, nxt, COUNT(*) AS n FROM p
      WHERE nxt IS NOT NULL GROUP BY cur, nxt),
tot AS (SELECT cur, SUM(n) AS t FROM c GROUP BY cur)
SELECT cur, nxt, n,
  {{q}} AS prob
FROM c JOIN tot USING (cur)
"""


def _trans_prob() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    return QTRUNC("n / CAST(t AS DOUBLE)", 9)


@spec(
    "events_markov_transitions",
    _TRANS_ORACLE.format(q=_trans_prob()),
    description="First-order Markov transition matrix of event types "
                "per user (lag pairs, conditional probabilities)",
    tags=("events", "sequence", "window"),
)
def q_events_transitions(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", f"{_US_SPARK} AS us", "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    p = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"))
    c = (p.filter(F.col("nxt").isNotNull())
         .groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n")))
    tot = c.groupBy("cur").agg(F.sum("n").alias("t"))
    return c.join(tot, on="cur").select(
        "cur", "nxt", "n", F.expr(_trans_prob()).alias("prob"))


# ----------------------------------------------------------------------
# Trailing-window anomaly detection: per-user hourly event counts
# z-scored against the mean/std of the 6 PRECEDING present hours
# (frame excludes the current row). Counts are integers, so the
# window sums are exact and the z arithmetic is pure IEEE on
# identical inputs in both engines; QTRUNC guards the final sqrt.
# ----------------------------------------------------------------------

_ANOM_ORACLE = f"""
WITH h AS (
  SELECT user_id, ({_US_DUCK} // 3600000000) AS hour_bucket,
    COUNT(*) AS n
  FROM events GROUP BY 1, 2),
w AS (
  SELECT user_id, hour_bucket, n,
    SUM(n) OVER wf AS s, SUM(n * n) OVER wf AS ss,
    COUNT(*) OVER wf AS k
  FROM h
  WINDOW wf AS (PARTITION BY user_id ORDER BY hour_bucket
                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
SELECT user_id, hour_bucket, n,
  {{z}} AS zscore
FROM w WHERE k >= 3
"""


def _anom_z() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    mean = "(s / CAST(k AS DOUBLE))"
    var = f"(ss / CAST(k AS DOUBLE) - {mean} * {mean})"
    return QTRUNC(f"(n - {mean}) / SQRT({var} + 1e-9)", 9)


@spec(
    "events_hourly_anomaly",
    _ANOM_ORACLE.format(z=_anom_z()),
    description="Trailing-window z-score anomaly detection on "
                "per-user hourly counts (6-hour preceding frame, "
                "exact integer window sums)",
    tags=("events", "window", "anomaly"),
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "user_id",
        F.expr(f"({_US_SPARK}) DIV 3600000000").alias("hour_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wf = (Window.partitionBy("user_id").orderBy("hour_bucket")
          .rowsBetween(-6, -1))
    w = (h.withColumn("s", F.sum("n").over(wf))
         .withColumn("ss", F.expr("SUM(n * n)").over(wf))
         .withColumn("k", F.count(F.lit(1)).over(wf)))
    return w.filter(F.col("k") >= 3).select(
        "user_id", "hour_bucket", "n",
        F.expr(_anom_z()).alias("zscore"))


# ----------------------------------------------------------------------
# Trailing EWMA per user: the recurrence acc <- 3/4*acc + 1/4*x folded
# over the last 8 events in event-time order. Recurrences don't fit
# window SUM/AVG, so the frame is materialized (collect_list over an
# 8-row frame — bounded width, unlike the k-means fold this replaced
# elsewhere) and sorted before folding, making the fold order an
# explicit array_sort contract rather than an engine's internal frame
# order. Dyadic decay weights (0.75/0.25 are exact binary fractions)
# keep every step a pure IEEE mul/add — value-exact cross-engine with
# NO quantization. One user_id exchange, one window pass.
# ----------------------------------------------------------------------

_EWMA_W = 8          # frame width (ROWS 7 PRECEDING .. CURRENT)
_EWMA_FOLD = "(acc, x) -> 7.5e-1 * acc + 2.5e-1 * x"

_EWMA_ORACLE = f"""
WITH b AS (
  SELECT user_id, event_id, value, {_US_DUCK} AS us
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
f AS (
  SELECT user_id, event_id, value,
    list_sort(list(struct_pack(us := us, eid := event_id,
                               v := value))
      OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN {_EWMA_W - 1} PRECEDING AND CURRENT ROW))
      AS fr
  FROM b)
SELECT user_id, event_id, value,
  list_reduce(list_transform(fr, s -> s.v), {_EWMA_FOLD}) AS ewma
FROM f
"""


@spec(
    "events_ewma",
    _EWMA_ORACLE,
    description="Trailing 8-event EWMA per user (recurrence fold in "
                "sorted event-time order, dyadic decay weights) — "
                "bit-exact cross-engine, no quantization",
    tags=("events", "window", "sequence"),
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.filter("value IS NOT NULL AND NOT isnan(value)") \
        .selectExpr("user_id", "event_id", "value",
                    f"{_US_SPARK} AS __us")
    wf = (Window.partitionBy("user_id").orderBy("__us", "event_id")
          .rowsBetween(-(_EWMA_W - 1), 0))
    fr = base.withColumn(
        "__fr",
        F.collect_list(F.struct("__us", "event_id", "value")).over(wf))
    # init = first frame value, fold the rest — the same op sequence
    # DuckDB's list_reduce applies (frame is never empty: the current
    # row is in it)
    vs = fr.withColumn(
        "__vs",
        F.expr("transform(array_sort(__fr), s -> s.value)"))
    return vs.select(
        "user_id", "event_id", "value",
        F.expr(
            "aggregate(slice(__vs, 2, size(__vs) - 1),"
            f" element_at(__vs, 1), {_EWMA_FOLD})"
        ).alias("ewma"),
    )


# ----------------------------------------------------------------------
# HyperLogLog distinct-count sketch: the third cardinality/frequency
# sketch next to KMV and count-min. Register index and rank come from
# a 60-bit md5 hash with a pure comparison-ladder rank (no
# log2/bit_length, whose spellings differ per engine), the harmonic
# mean is a scaled BIGINT sum, and only the final estimate touches
# libm (one ln behind QTRUNC) — so unlike library HLLs this one is
# value-exact cross-engine. Scale: output is <= 64 rows per group
# whatever the cardinality; merges are register-wise MAX.
# ----------------------------------------------------------------------

_HLL_VAL_SPARK = "CAST(user_id AS STRING) || '#' || props"
_HLL_VAL_DUCK = "CAST(user_id AS VARCHAR) || '#' || props"


def _hll_oracle() -> str:
    from xsarsea_spark.operators.sketch import (hll_estimate_sql,
                                                hll_rank_sql)

    rank = hll_rank_sql("__rest", 40)
    est = hll_estimate_sql("s", "c", 6, 40)
    return f"""
WITH h AS (
  SELECT event_type,
    CAST('0x' || substr(md5({_HLL_VAL_DUCK}), 1, 15) AS BIGINT) AS h
  FROM events),
r0 AS (
  SELECT event_type, h % 64 AS reg,
    (h // 64) % {1 << 40} AS __rest FROM h),
r AS (SELECT event_type, reg, {rank} AS rnk FROM r0),
s AS (
  SELECT event_type, reg, MAX(rnk) AS m_reg FROM r GROUP BY 1, 2),
e AS (
  SELECT event_type,
    SUM(CAST(1 AS BIGINT) << (41 - m_reg)) AS s,
    COUNT(*) AS c
  FROM s GROUP BY 1),
t AS (
  SELECT event_type,
    COUNT(DISTINCT {_HLL_VAL_DUCK}) AS true_distinct
  FROM events GROUP BY 1)
SELECT e.event_type, {est} AS hll_estimate,
  CAST(c AS INT) AS registers_used, t.true_distinct
FROM e JOIN t ON t.event_type = e.event_type
"""


@spec(
    "events_hll_distinct",
    _hll_oracle(),
    description="Deterministic HyperLogLog cardinality sketch per "
                "event type (64 md5 registers, comparison-ladder "
                "rank, BIGINT harmonic mean) next to the exact "
                "distinct — value-exact cross-engine, unlike "
                "engine-native HLLs",
    tags=("events", "agg", "sketch"),
)
def q_events_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.sketch import hll_estimate, hll_sketch

    ev = load(spark, sf_dir, "events")
    sk = hll_sketch(ev, ["event_type"], _HLL_VAL_SPARK, b=6, w=40)
    est = hll_estimate(sk, ["event_type"], b=6, w=40)
    true = ev.groupBy("event_type").agg(
        F.expr(f"COUNT(DISTINCT {_HLL_VAL_SPARK})")
        .alias("true_distinct"))
    return est.join(true, on="event_type").select(
        "event_type", "hll_estimate", "registers_used",
        "true_distinct")


# ----------------------------------------------------------------------
# Time-series gap-fill: densify sparse per-type 10-minute event
# counts onto the full bucket grid and linearly interpolate the gaps
# (~60% of buckets are empty at sf0.01). Grouped-carry windows — a
# running COUNT(value) partitions every gap with exactly its two
# observed neighbours — avoid IGNORE NULLS, which the two engines
# spell incompatibly. Integer carries; one cast-ordered IEEE division
# at the end, so the interpolated doubles are bit-exact.
# ----------------------------------------------------------------------

_GAPFILL_ORACLE = f"""
WITH c AS (
  SELECT event_type, {_US_DUCK} // 600000000 AS bucket,
    COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
bd AS (
  SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
  FROM c GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS bucket
  FROM bd),
g AS (
  SELECT grid.event_type, grid.bucket, c.cnt
  FROM grid LEFT JOIN c USING (event_type, bucket)),
f AS (
  SELECT *,
    COUNT(cnt) OVER (PARTITION BY event_type ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gf,
    COUNT(cnt) OVER (PARTITION BY event_type ORDER BY bucket DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gb
  FROM g),
p AS (
  SELECT *,
    MAX(cnt) OVER (PARTITION BY event_type, gf) AS pv,
    MIN(bucket) OVER (PARTITION BY event_type, gf) AS pt,
    MAX(cnt) OVER (PARTITION BY event_type, gb) AS nv,
    MAX(bucket) OVER (PARTITION BY event_type, gb) AS nt
  FROM f)
SELECT event_type, bucket,
  CASE WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
       ELSE CAST(pv AS DOUBLE)
            + CAST(nv - pv AS DOUBLE)
            * CAST(bucket - pt AS DOUBLE)
            / CAST(nt - pt AS DOUBLE) END AS cnt_filled,
  CAST(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS INT)
    AS interpolated
FROM p
"""


@spec(
    "events_gapfill_interp",
    _GAPFILL_ORACLE,
    description="Densify sparse 10-minute event counts onto the full "
                "per-type bucket grid and linearly interpolate gaps "
                "(grouped-carry windows, bit-exact interpolation)",
    tags=("events", "timeseries", "window"),
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.timeseries import gapfill_linear

    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        F.expr(f"({_US_SPARK}) DIV 600000000").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = gapfill_linear(c, ["event_type"], "bucket", "cnt")
    return out.select("event_type", "bucket",
                      F.col("cnt_filled"), "interpolated")


# ----------------------------------------------------------------------
# Growth accounting: per day, new vs returning active users and the
# cumulative user base. Per-user first-seen is one hash agg; the
# daily rollup is a second; the cumulative sum is a window over the
# day axis (bounded cardinality — one row per day, not per event).
# ----------------------------------------------------------------------

_GROWTH_ORACLE = f"""
WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
fs AS (
  SELECT user_id,
    MIN({_US_DUCK} // 86400000000) AS first_day
  FROM ev GROUP BY user_id),
act AS (
  SELECT ({_US_DUCK} // 86400000000) AS day, user_id,
    COUNT(*) AS n_events
  FROM ev GROUP BY 1, 2),
daily AS (
  SELECT act.day,
    COUNT(*) AS active_users,
    CAST(SUM(CASE WHEN fs.first_day = act.day THEN 1 ELSE 0 END)
         AS BIGINT) AS new_users,
    CAST(SUM(act.n_events) AS BIGINT) AS n_events
  FROM act JOIN fs USING (user_id)
  GROUP BY act.day)
SELECT day, active_users, new_users,
  active_users - new_users AS returning_users, n_events,
  CAST(SUM(new_users) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cumulative_users
FROM daily
"""


@spec(
    "events_user_growth",
    _GROWTH_ORACLE,
    description="Growth accounting: per-day new vs returning active "
                "users + cumulative user base — two hash aggs over "
                "events, then a window over the day axis only (one "
                "row per day, never per event)",
    tags=("events", "window"),
)
def q_events_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts rows would put a NULL day into the cumulative window,
    # where Spark orders NULLS FIRST but DuckDB NULLS LAST — exclude
    # them up front so the day axis is NULL-free in both engines
    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    day = f"({_US_SPARK}) DIV 86400000000"
    fs = ev.groupBy("user_id").agg(
        F.expr(f"MIN({day})").alias("first_day"))
    act = ev.groupBy(
        F.expr(day).alias("day"), "user_id",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    daily = (
        act.join(fs, on="user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.expr("CAST(SUM(CASE WHEN first_day = day THEN 1"
                   " ELSE 0 END) AS BIGINT)").alias("new_users"),
            F.expr("CAST(SUM(n_events) AS BIGINT)").alias("n_events"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "active_users", "new_users",
        F.expr("active_users - new_users").alias("returning_users"),
        "n_events",
        F.sum("new_users").over(w).cast("bigint")
        .alias("cumulative_users"),
    )


# ----------------------------------------------------------------------
# Welch's two-sample t-test (experimentation analytics): does `value`
# differ between click and purchase events? Ingredients are exact
# DECIMAL sums (order-independent), so the downstream IEEE arithmetic
# — means, variances, the t statistic and the Welch-Satterthwaite df
# — is the SAME formula tree over identical doubles in both engines
# (sqrt is IEEE-exact; x*x replaces pow to stay off libm).
# ----------------------------------------------------------------------

_TT_A, _TT_B = "click", "purchase"

# shared formula fragments — identical text on both engines
_TT_MEAN = "(s / CAST(n AS DOUBLE))"
_TT_VAR = ("((ss - s * s / CAST(n AS DOUBLE))"
           " / CAST(n - 1 AS DOUBLE))")
_TT_FINAL = """
SELECT a.n AS n_a, b.n AS n_b,
  a.m AS mean_a, b.m AS mean_b,
  a.v AS var_a, b.v AS var_b,
  (a.m - b.m) / sqrt(a.v / CAST(a.n AS DOUBLE)
                     + b.v / CAST(b.n AS DOUBLE)) AS t_stat,
  ((a.v / CAST(a.n AS DOUBLE) + b.v / CAST(b.n AS DOUBLE))
   * (a.v / CAST(a.n AS DOUBLE) + b.v / CAST(b.n AS DOUBLE)))
  / ((a.v / CAST(a.n AS DOUBLE)) * (a.v / CAST(a.n AS DOUBLE))
       / CAST(a.n - 1 AS DOUBLE)
     + (b.v / CAST(b.n AS DOUBLE)) * (b.v / CAST(b.n AS DOUBLE))
       / CAST(b.n - 1 AS DOUBLE)) AS welch_df
FROM a, b
"""

_TTEST_ORACLE = f"""
WITH g AS (
  SELECT event_type, COUNT(value) AS n,
    {DSUM('value')} AS s, {DSUM('value * value')} AS ss
  FROM events
  WHERE event_type IN ('{_TT_A}', '{_TT_B}')
  GROUP BY event_type),
gs AS (SELECT event_type, n, {_TT_MEAN} AS m, {_TT_VAR} AS v FROM g),
a AS (SELECT * FROM gs WHERE event_type = '{_TT_A}'),
b AS (SELECT * FROM gs WHERE event_type = '{_TT_B}')
{_TT_FINAL}
"""


@spec(
    "events_ab_ttest",
    _TTEST_ORACLE,
    description="Welch's two-sample t-test on event values "
                "(click vs purchase): exact DECIMAL sum/sumsq "
                "ingredients, then one identical IEEE formula tree "
                "per engine — t statistic and Welch-Satterthwaite "
                "df bit-exact with no quantization",
    tags=("events", "stats"),
)
def q_events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin(_TT_A, _TT_B))
        .groupBy("event_type")
        .agg(
            F.expr("COUNT(value)").alias("n"),
            F.expr(DSUM("value")).alias("s"),
            F.expr(DSUM("value * value")).alias("ss"),
        )
        .selectExpr("event_type", "n", f"{_TT_MEAN} AS m",
                    f"{_TT_VAR} AS v")
    )
    a = g.filter(F.col("event_type") == _TT_A).alias("a")
    b = g.filter(F.col("event_type") == _TT_B).alias("b")
    return a.crossJoin(b).selectExpr(
        "a.n AS n_a", "b.n AS n_b",
        "a.m AS mean_a", "b.m AS mean_b",
        "a.v AS var_a", "b.v AS var_b",
        "(a.m - b.m) / sqrt(a.v / CAST(a.n AS DOUBLE)"
        " + b.v / CAST(b.n AS DOUBLE)) AS t_stat",
        "((a.v / CAST(a.n AS DOUBLE) + b.v / CAST(b.n AS DOUBLE))"
        " * (a.v / CAST(a.n AS DOUBLE) + b.v / CAST(b.n AS DOUBLE)))"
        " / ((a.v / CAST(a.n AS DOUBLE)) * (a.v / CAST(a.n AS DOUBLE))"
        " / CAST(a.n - 1 AS DOUBLE)"
        " + (b.v / CAST(b.n AS DOUBLE)) * (b.v / CAST(b.n AS DOUBLE))"
        " / CAST(b.n - 1 AS DOUBLE)) AS welch_df",
    )


_STREAM_GROWTH_ORACLE = f"""
WITH fs AS (
  SELECT user_id, MIN({_US_DUCK} // 86400000000) AS first_day
  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
d AS (SELECT first_day AS day, COUNT(*) AS new_users
      FROM fs GROUP BY first_day)
SELECT day, new_users,
  CAST(SUM(new_users) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cumulative_users
FROM d
"""


@spec(
    "events_stream_growth",
    _STREAM_GROWTH_ORACLE,
    description="Streaming growth accounting: per-user first-seen "
                "day in applyInPandasWithState (one bigint of state "
                "per user), day rollup + cumulative base after the "
                "sink — the streaming twin of events_user_growth's "
                "first-seen stage, same oracle arithmetic",
    tags=("events", "streaming", "udf"),
)
def q_events_stream_growth(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_user_growth

    return stream_user_growth(spark, sf_dir)


# ----------------------------------------------------------------------
# Time-series similarity: Pearson correlation between event types'
# hourly count series. Counts are INTEGERS, so every sum (S_a, S_ab,
# S_aa...) is exact BIGINT arithmetic and the closed-form correlation
# is one identical IEEE expression per engine — bit-exact, no
# quantization. The series must be DENSIFIED first (a bucket with no
# events of a type is a 0, not a missing row) via a generated
# hour-spine cross the type dimension.
# ----------------------------------------------------------------------

_CORR_FINAL = """(CAST(n * sab - sa * sb AS DOUBLE))
  / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
     * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))"""

_TYPECORR_ORACLE = f"""
WITH c AS (
  SELECT event_type, ({_US_DUCK} // 3600000000) AS bucket,
    COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
span AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM c),
spine AS (SELECT unnest(range(lo, hi + 1)) AS bucket FROM span),
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT t.event_type, s.bucket, COALESCE(c.cnt, 0) AS cnt
  FROM spine s CROSS JOIN types t
  LEFT JOIN c ON c.event_type = t.event_type
             AND c.bucket = s.bucket),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    COUNT(*) AS n,
    SUM(a.cnt) AS sa, SUM(b.cnt) AS sb,
    SUM(a.cnt * b.cnt) AS sab,
    SUM(a.cnt * a.cnt) AS saa, SUM(b.cnt * b.cnt) AS sbb
  FROM dense a JOIN dense b
    ON a.bucket = b.bucket AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_buckets,
  {_CORR_FINAL} AS pearson
FROM p
"""


@spec(
    "events_type_correlation",
    _TYPECORR_ORACLE,
    description="Pearson correlation matrix between event types' "
                "densified hourly count series — integer-exact sums, "
                "one IEEE closed form per engine, bit-exact with no "
                "quantization",
    tags=("events", "timeseries", "stats"),
)
def q_events_type_correlation(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        F.expr(f"({_US_SPARK}) DIV 3600000000").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    span = c.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = span.selectExpr(
        "explode(sequence(lo, hi)) AS bucket")
    types = ev.select("event_type").distinct()
    dense = (
        spine.crossJoin(types)
        .join(c, on=["event_type", "bucket"], how="left")
        .selectExpr("event_type", "bucket",
                    "COALESCE(cnt, 0) AS cnt")
    )
    a = dense.selectExpr("event_type AS type_a", "bucket",
                         "cnt AS ca")
    b = dense.selectExpr("event_type AS type_b", "bucket",
                         "cnt AS cb")
    p = (
        a.join(b, on="bucket")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ca").alias("sa"), F.sum("cb").alias("sb"),
            F.expr("SUM(ca * cb)").alias("sab"),
            F.expr("SUM(ca * ca)").alias("saa"),
            F.expr("SUM(cb * cb)").alias("sbb"),
        )
    )
    return p.selectExpr(
        "type_a", "type_b", "CAST(n AS BIGINT) AS n_buckets",
        f"{_CORR_FINAL} AS pearson",
    )


# ----------------------------------------------------------------------
# Top-k ranking similarity over time (the ranking-similarity-join
# primitive): rank event types per day by activity, then Spearman
# footrule distance between consecutive days — pure integer window
# ranks + |rank diff| sums, exact in any engine.
# ----------------------------------------------------------------------

_RANKSTAB_ORACLE = f"""
WITH c AS (
  SELECT ({_US_DUCK} // 86400000000) AS day, event_type,
    COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
r AS (
  SELECT day, event_type,
    ROW_NUMBER() OVER (PARTITION BY day
      ORDER BY cnt DESC, event_type) AS rnk
  FROM c)
SELECT a.day AS day, COUNT(*) AS n_types,
  CAST(SUM(ABS(a.rnk - b.rnk)) AS BIGINT) AS footrule_dist
FROM r a JOIN r b ON b.day = a.day - 1
                 AND b.event_type = a.event_type
GROUP BY a.day
"""


@spec(
    "events_rank_stability",
    _RANKSTAB_ORACLE,
    description="Day-over-day ranking similarity: event types ranked "
                "per day by activity, Spearman footrule distance "
                "between consecutive days — integer window ranks, "
                "exact cross-engine",
    tags=("events", "window", "stats"),
)
def q_events_rank_stability(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        F.expr(f"({_US_SPARK}) DIV 86400000000").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("day").orderBy(
        F.col("cnt").desc(), F.col("event_type"))
    r = c.withColumn("rnk", F.row_number().over(w))
    a = r.selectExpr("day", "event_type", "rnk AS ra")
    b = r.selectExpr("day + 1 AS day", "event_type", "rnk AS rb")
    return (
        a.join(b, on=["day", "event_type"])
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.expr("CAST(SUM(ABS(ra - rb)) AS BIGINT)")
            .alias("footrule_dist"),
        )
    )


# ----------------------------------------------------------------------
# Cohort LTV curves: cumulative per-user purchase value by weekly
# cohort and week offset — retention's value-weighted sibling. Cell
# sums are exact DECIMAL; the cumulative pass windows over OFFSETS
# within a cohort (bounded by the observation span in weeks, never by
# user or event count).
# ----------------------------------------------------------------------

_LTV_ORACLE = f"""
WITH e AS (
  SELECT user_id, ({_US_DUCK} // {_WEEK_US}) AS week, value,
    event_type
  FROM events),
c AS (
  SELECT *, MIN(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM e),
cell AS (
  SELECT cohort_week, week - cohort_week AS week_offset,
    COUNT(DISTINCT user_id) AS n_users,
    CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                  ELSE 0e0 END AS DECIMAL(38,6))) AS DOUBLE)
      AS cell_value
  FROM c GROUP BY 1, 2),
sized AS (
  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
  FROM c GROUP BY cohort_week)
SELECT cell.cohort_week, week_offset, n_users, cell_value,
  CAST(SUM(CAST(cell_value AS DECIMAL(38,6))) OVER (
    PARTITION BY cell.cohort_week ORDER BY week_offset
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS cum_value,
  CAST(SUM(CAST(cell_value AS DECIMAL(38,6))) OVER (
    PARTITION BY cell.cohort_week ORDER BY week_offset
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / sized.cohort_size AS ltv_per_user
FROM cell JOIN sized ON sized.cohort_week = cell.cohort_week
"""


@spec(
    "events_cohort_ltv",
    _LTV_ORACLE,
    description="Cohort LTV curves: cumulative purchase value per "
                "(weekly cohort, week offset) with per-user LTV — "
                "exact DECIMAL cell sums, cumulative window over "
                "offsets only (bounded by the span in weeks)",
    tags=("events", "retention", "window"),
)
def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "user_id", f"({_US_SPARK}) DIV {_WEEK_US} AS week",
        "value", "event_type")
    w = Window.partitionBy("user_id")
    c = ev.withColumn("cohort_week", F.min("week").over(w))
    cell = (
        c.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.expr("CAST(SUM(CAST(CASE WHEN event_type = 'purchase'"
                   " THEN value ELSE 0e0 END AS DECIMAL(38,6)))"
                   " AS DOUBLE)").alias("cell_value"),
        )
    )
    sized = c.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size"))
    cw = Window.partitionBy("cohort_week").orderBy("week_offset") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.expr("CAST(SUM(CAST(cell_value AS DECIMAL(38,6)))"
                 " OVER (PARTITION BY cohort_week ORDER BY week_offset"
                 " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                 " AS DOUBLE)")
    return (
        cell.join(sized, on="cohort_week")
        .select(
            "cohort_week", "week_offset", "n_users", "cell_value",
            cum.alias("cum_value"),
            (cum / F.col("cohort_size")).alias("ltv_per_user"),
        )
    )


# ----------------------------------------------------------------------
# Behavioral diversity: Shannon entropy of each user's event-type
# distribution. Probabilities are exact integer ratios; each p*log2(p)
# term passes the QTRUNC barrier and the per-user sum is DECIMAL —
# order-independent and engine-exact. Two hash aggs, user keys only.
# ----------------------------------------------------------------------


def _entropy_term() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    return QTRUNC(
        "(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))", 9)


_ENTROPY_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
n AS (SELECT user_id, SUM(c) AS n, COUNT(*) AS n_types
      FROM c GROUP BY user_id),
t AS (
  SELECT c.user_id, n.n_types, {_entropy_term()} AS term
  FROM c JOIN n ON n.user_id = c.user_id)
SELECT user_id, CAST(n_types AS BIGINT) AS n_types,
  -CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS entropy
FROM t GROUP BY user_id, n_types
"""


@spec(
    "events_user_entropy",
    _ENTROPY_ORACLE,
    description="Per-user Shannon entropy of the event-type "
                "distribution (behavioral diversity): exact integer "
                "ratios, QTRUNC'd log terms, DECIMAL sum — "
                "engine-exact",
    tags=("events", "stats"),
)
def q_events_user_entropy(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c"))
    n = c.groupBy("user_id").agg(
        F.expr("SUM(c)").alias("n"),
        F.count(F.lit(1)).alias("n_types"))
    t = c.join(n, on="user_id").selectExpr(
        "user_id", "n_types", f"{_entropy_term()} AS term")
    return t.groupBy("user_id", "n_types").agg(
        F.expr("-CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE)")
        .alias("entropy")).selectExpr(
        "user_id", "CAST(n_types AS BIGINT) AS n_types", "entropy")


# ----------------------------------------------------------------------
# Holt's linear-trend exponential smoothing per user (double
# exponential smoothing + h-step forecast) — the 2-state recurrence
#   l_t = (x_t + (l_{t-1} + b_{t-1})) / 2          (alpha = 1/2)
#   b_t = (l_t - l_{t-1}) * 0.25 + b_{t-1} * 0.75  (beta  = 1/4)
# folded LEFT-TO-RIGHT over the user's event-time-ordered values.
# Cross-engine exactness trick: DuckDB's list_reduce constrains the
# accumulator type to the ELEMENT type, so the series is lifted to
# [l, b] DOUBLE-pair elements (b = 0) and the fold is pair -> pair
# with the same op order in both engines; all coefficients are
# dyadic, so there is no quantization anywhere. Init = first element
# (l = x_1, b = 0), matching list_reduce's first-as-accumulator.
# NOTE the state is a LIST, not a struct, deliberately: DuckDB
# 1.0's list_reduce mis-evaluates struct-typed accumulators (later
# field expressions observe the CURRENT step's earlier fields — a
# partially-updated acc; found by replaying the fold in python and
# minimized to `(acc,e) -> {{l: acc.l+e.l, b: acc.b+acc.l}}` giving
# b=112 instead of 12 on [1,10,100]); list-typed accumulators fold
# correctly. Scale: one row per user; per-user state is the
# collected series (the per-entity-sequence shape events_markov/ewma
# already use).
# ----------------------------------------------------------------------

_HOLT_FOLD = (
    "(acc, e) -> {arr}("
    "({e1} + ({a1} + {a2})) / 2e0,"
    " (({e1} + ({a1} + {a2})) / 2e0 - {a1}) * 25e-2"
    " + {a2} * 75e-2)"
)

_HOLT_ORACLE = f"""
WITH b AS (
  SELECT user_id, event_id, value, {_US_DUCK} AS us
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
s AS (
  SELECT user_id,
    list_transform(
      list_sort(list(struct_pack(us := us, eid := event_id,
                                 v := value))),
      e -> list_value(e.v, 0e0)) AS xs
  FROM b GROUP BY user_id),
f AS (
  SELECT user_id, len(xs) AS n_events,
    list_reduce(xs, {_HOLT_FOLD.format(arr="list_value",
                                       a1="acc[1]", a2="acc[2]",
                                       e1="e[1]")}) AS st
  FROM s)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
  st[1] AS level, st[2] AS trend,
  st[1] + 3e0 * st[2] AS forecast_3
FROM f
"""


@spec(
    "events_holt_trend",
    _HOLT_ORACLE,
    description="Holt's double exponential smoothing per user "
                "(level+trend recurrence, dyadic coefficients) with "
                "3-step forecast — struct-accumulator fold, "
                "bit-exact cross-engine with no quantization",
    tags=("events", "sequence", "timeseries"),
)
def q_events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.filter("value IS NOT NULL AND NOT isnan(value)") \
        .selectExpr("user_id", "event_id", "value",
                    f"{_US_SPARK} AS __us")
    xs = base.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "struct(__us, event_id, value))),"
            " e -> array(e.value, 0e0))").alias("__xs"))
    fold = _HOLT_FOLD.format(arr="array",
                             a1="element_at(acc, 1)",
                             a2="element_at(acc, 2)",
                             e1="element_at(e, 1)")
    st = xs.selectExpr(
        "user_id",
        "CAST(size(__xs) AS BIGINT) AS n_events",
        f"aggregate(slice(__xs, 2, size(__xs) - 1),"
        f" element_at(__xs, 1), {fold}) AS __st",
    )
    return st.selectExpr(
        "user_id", "n_events",
        "element_at(__st, 1) AS level",
        "element_at(__st, 2) AS trend",
        "element_at(__st, 1) + 3e0 * element_at(__st, 2) AS forecast_3",
    )


# ----------------------------------------------------------------------
# Forecast backtest per user: hold out the last 3 observations, fit
# Holt's smoothing (the events_holt_trend fold) on the train prefix,
# and score 1/2/3-step forecasts against the holdout vs the naive
# last-value baseline — the standard forecast-skill evaluation, all
# arithmetic exact (fixed fold order, dyadic coefficients, one /3e0
# per MAE, ratio as a single division).
# ----------------------------------------------------------------------

_HOLT_MIN_N = 6


def _holt_backtest_oracle() -> str:
    fold = _HOLT_FOLD.format(arr="list_value", a1="acc[1]",
                             a2="acc[2]", e1="e[1]")
    return f"""
WITH b AS (
  SELECT user_id, event_id, value, {_US_DUCK} AS us
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
s AS (
  SELECT user_id,
    list_transform(
      list_sort(list(struct_pack(us := us, eid := event_id,
                                 v := value))), e -> e.v) AS vs
  FROM b GROUP BY user_id),
t AS (SELECT user_id, vs, len(vs) AS n FROM s WHERE len(vs) >= {_HOLT_MIN_N}),
f AS (
  SELECT user_id, n, vs,
    list_reduce(list_transform(vs[1:n-3], v -> list_value(v, 0e0)),
                {fold}) AS st
  FROM t),
m AS (
  SELECT user_id, CAST(n AS BIGINT) AS n_events,
    ((abs((st[1] + 1e0 * st[2]) - vs[n-2])
      + abs((st[1] + 2e0 * st[2]) - vs[n-1]))
      + abs((st[1] + 3e0 * st[2]) - vs[n])) / 3e0 AS mae_holt,
    ((abs(vs[n-3] - vs[n-2]) + abs(vs[n-3] - vs[n-1]))
      + abs(vs[n-3] - vs[n])) / 3e0 AS mae_naive
  FROM f)
SELECT user_id, n_events, mae_holt, mae_naive,
  mae_holt / nullif(mae_naive, 0e0) AS rel_mae
FROM m
"""


@spec(
    "events_holt_backtest",
    _holt_backtest_oracle(),
    description="Per-user forecast backtest: Holt fit on the train "
                "prefix, 3-step holdout MAE vs the naive last-value "
                "baseline, relative skill ratio — exact fold + fixed "
                "summation order, bit-exact cross-engine",
    tags=("events", "sequence", "timeseries", "eval"),
)
def q_events_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.filter("value IS NOT NULL AND NOT isnan(value)") \
        .selectExpr("user_id", "event_id", "value",
                    f"{_US_SPARK} AS __us")
    s = base.groupBy("user_id").agg(
        F.expr("transform(array_sort(collect_list("
               "struct(__us, event_id, value))), e -> e.value)")
        .alias("__vs"))
    t = s.selectExpr("user_id", "__vs", "size(__vs) AS __n") \
        .filter(f"__n >= {_HOLT_MIN_N}")
    fold = _HOLT_FOLD.format(arr="array",
                             a1="element_at(acc, 1)",
                             a2="element_at(acc, 2)",
                             e1="element_at(e, 1)")
    fdf = t.selectExpr(
        "user_id", "__vs", "__n",
        "transform(slice(__vs, 1, __n - 3), v -> array(v, 0e0))"
        " AS __tr",
    ).selectExpr(
        "user_id", "__vs", "__n",
        f"aggregate(slice(__tr, 2, size(__tr) - 1),"
        f" element_at(__tr, 1), {fold}) AS __st",
    )
    return fdf.selectExpr(
        "user_id",
        "CAST(__n AS BIGINT) AS n_events",
        "((abs((element_at(__st, 1) + 1e0 * element_at(__st, 2))"
        " - element_at(__vs, __n - 2))"
        " + abs((element_at(__st, 1) + 2e0 * element_at(__st, 2))"
        " - element_at(__vs, __n - 1)))"
        " + abs((element_at(__st, 1) + 3e0 * element_at(__st, 2))"
        " - element_at(__vs, __n))) / 3e0 AS mae_holt",
        "((abs(element_at(__vs, __n - 3) - element_at(__vs, __n - 2))"
        " + abs(element_at(__vs, __n - 3) - element_at(__vs, __n - 1)))"
        " + abs(element_at(__vs, __n - 3) - element_at(__vs, __n)))"
        " / 3e0 AS mae_naive",
    ).selectExpr(
        "user_id", "n_events", "mae_holt", "mae_naive",
        "mae_holt / nullif(mae_naive, 0e0) AS rel_mae",
    )


# ----------------------------------------------------------------------
# Weekly seasonal profile per event type: day-of-week activity and
# value shape. dow is a pure-integer day arithmetic ((epoch_days + 3)
# % 7, Monday = 0) so both engines bucket identically with no
# calendar-function semantics drift; sums are exact DECIMAL, and the
# only divisions are the final mean and share (same operands both
# engines -> bit-equal).
# ----------------------------------------------------------------------

_DOW_SPARK = f"CAST((({_US_SPARK} DIV 86400000000) + 3) % 7 AS INT)"
_DOW_DUCK = f"CAST((({_US_DUCK} // 86400000000) + 3) % 7 AS INT)"

_SEASONAL_ORACLE = f"""
WITH b AS (
  SELECT event_type, {_DOW_DUCK} AS dow, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
g AS (
  SELECT event_type, dow, COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
  FROM b GROUP BY event_type, dow),
t AS (SELECT event_type, SUM(n_events) AS n_total FROM g
      GROUP BY event_type)
SELECT g.event_type, g.dow, g.n_events, g.sum_value,
  g.sum_value / CAST(g.n_events AS DOUBLE) AS mean_value,
  CAST(g.n_events AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS dow_share
FROM g JOIN t ON t.event_type = g.event_type
"""


@spec(
    "events_seasonal_profile",
    _SEASONAL_ORACLE,
    description="Weekly seasonality: per event type the day-of-week "
                "event counts, exact-DECIMAL value sums, means and "
                "activity shares — integer day bucketing, bit-exact "
                "cross-engine",
    tags=("events", "timeseries"),
)
def q_events_seasonal_profile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = ev.filter("value IS NOT NULL AND NOT isnan(value)") \
        .selectExpr("event_type", f"{_DOW_SPARK} AS dow", "value")
    g = b.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)")
        .alias("sum_value"))
    t = g.groupBy("event_type").agg(
        F.expr("SUM(n_events)").alias("__nt"))
    return (g.join(t, on="event_type")
            .selectExpr("event_type", "dow", "n_events", "sum_value",
                        "sum_value / CAST(n_events AS DOUBLE)"
                        " AS mean_value",
                        "CAST(n_events AS DOUBLE)"
                        " / CAST(__nt AS DOUBLE) AS dow_share"))


# ----------------------------------------------------------------------
# Batch interval-overlap join — the range-join class (room bookings,
# session collisions, sensor validity windows). Intervals derive
# deterministically from events ([ts, ts + value seconds), FLOOR to
# integer microseconds — CAST alone rounds in DuckDB but truncates
# in Spark). The Spark plan is the scale shape: intervals explode to
# the 10-minute buckets they cover, candidates meet in a bucket
# EQUI-join (hash-partitioned, AQE-skew-splittable — never an
# unbounded theta join), each overlapping pair is counted exactly
# once at the bucket holding the later start, then verified with the
# exact half-open predicate. The DuckDB oracle runs the native
# inequality join (IEJoin) instead — algorithmically independent,
# so a bucket-logic bug cannot hide.
# ----------------------------------------------------------------------

_IVO_B = 600_000_000        # bucket = 10 min of microseconds


_INTERVAL_OVERLAP_ORACLE = f"""
WITH i AS (
  SELECT event_id, {_US_DUCK} AS s_us,
    {_US_DUCK} + CAST(FLOOR(value * 1e6) AS BIGINT) AS e_us
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
p AS (
  SELECT a.event_id, COUNT(*) AS n_overlaps
  FROM i a JOIN i b
    ON a.event_id != b.event_id
   AND a.s_us < b.e_us AND b.s_us < a.e_us
  GROUP BY a.event_id)
SELECT i.event_id, i.s_us, i.e_us,
  CAST(COALESCE(p.n_overlaps, 0) AS BIGINT) AS n_overlaps
FROM i LEFT JOIN p ON p.event_id = i.event_id
"""


@spec(
    "events_interval_overlap",
    _INTERVAL_OVERLAP_ORACLE,
    description="Batch interval-overlap join: per event the number "
                "of concurrent intervals — Spark covers each "
                "interval with 10-minute buckets and meets "
                "candidates in a hash equi-join (first-shared-bucket "
                "dedup, exact half-open verify); the oracle replays "
                "it as DuckDB's native IEJoin, an algorithmically "
                "independent check",
    tags=("events", "timeseries", "joins"),
)
def q_events_interval_overlap(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    i = (ev.filter("ts IS NOT NULL AND value IS NOT NULL"
                   " AND NOT isnan(value)")
         .selectExpr("event_id", f"{_US_SPARK} AS s_us",
                     f"({_US_SPARK})"
                     " + CAST(FLOOR(value * 1e6) AS BIGINT) AS e_us"))
    a = i.selectExpr(
        "event_id", "s_us", "e_us",
        f"explode(sequence(s_us div {_IVO_B}, e_us div {_IVO_B}))"
        " AS bkt")
    b = a.selectExpr("event_id AS eb", "s_us AS sb", "e_us AS eb_us",
                     "bkt")
    pairs = (
        a.join(b, on="bkt")
        .filter("event_id != eb AND s_us < eb_us AND sb < e_us"
                # count each pair exactly once: only in the bucket
                # holding the later of the two starts (an overlapping
                # pair always shares it)
                f" AND bkt = greatest(s_us, sb) div {_IVO_B}")
    )
    deg = pairs.groupBy("event_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_overlaps"))
    return (i.join(deg, on="event_id", how="left")
            .selectExpr("event_id", "s_us", "e_us",
                        "COALESCE(n_overlaps, 0L) AS n_overlaps"))


# ----------------------------------------------------------------------
# Conversion attribution (last-touch + lookback gate): every purchase
# is credited to the LATEST view/click touch strictly earlier in the
# per-user (us, event_id) order and within a 7-day lookback; purchases
# with no qualifying touch land in the 'none' bucket. The carried
# "latest touch" is a running MAX over an encoded BIGINT
# (us * 4 + type_code) so one window pass carries both the touch time
# and its type — us is monotone in the frame's order, so the max IS
# the latest, and the low bits break same-microsecond ties
# deterministically (click > view). One user_id exchange end-to-end;
# the final rollup has at most 3 rows. All integer except the exact
# DECIMAL revenue sum — value-exact cross-engine.
# ----------------------------------------------------------------------

_ATTR_LOOKBACK_US = 7 * 86_400_000_000      # 7 days of microseconds

_ATTR_CASE = ("CASE WHEN event_type = 'view' THEN us * 4 + 1"
              " WHEN event_type = 'click' THEN us * 4 + 2 END")

_ATTR_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, value, {_US_DUCK} AS us
  FROM events WHERE ts IS NOT NULL),
c AS (
  SELECT *, MAX({_ATTR_CASE}) OVER (
      PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS enc
  FROM e),
p AS (
  SELECT CASE WHEN enc IS NULL
              OR us - (enc // 4) > {_ATTR_LOOKBACK_US} THEN 'none'
              WHEN enc % 4 = 2 THEN 'click' ELSE 'view'
         END AS touch_type,
         value
  FROM c WHERE event_type = 'purchase')
SELECT touch_type, COUNT(*) AS n_conversions,
  {DSUM('value')} AS attributed_value
FROM p GROUP BY touch_type
"""


@spec(
    "events_attribution",
    _ATTR_ORACLE,
    description="Last-touch conversion attribution with a 7-day "
                "lookback: one running-max window pass carries the "
                "latest view/click touch (time and type packed in "
                "one BIGINT) to each purchase over a single user_id "
                "exchange; unattributed purchases bucket to 'none'",
    tags=("events", "attribution", "window"),
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts rows are excluded on BOTH sides: the carry window
    # orders by us, and Spark sorts NULLS FIRST ascending while
    # DuckDB sorts them LAST — the same cross-engine hazard
    # events_user_growth filters for (and the streaming fold skips)
    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL") \
        .selectExpr("user_id", "event_id", "event_type", "value",
                    f"{_US_SPARK} AS us")
    w = (Window.partitionBy("user_id").orderBy("us", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = ev.withColumn("enc", F.expr(f"max({_ATTR_CASE})").over(w))
    p = c.filter("event_type = 'purchase'").selectExpr(
        f"CASE WHEN enc IS NULL"
        f" OR us - (enc DIV 4) > {_ATTR_LOOKBACK_US} THEN 'none'"
        f" WHEN enc % 4 = 2 THEN 'click' ELSE 'view'"
        f" END AS touch_type",
        "value")
    return p.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.expr(DSUM("value")).alias("attributed_value"))


# ----------------------------------------------------------------------
# RFM segmentation: per-user Recency (last activity of ANY type),
# Frequency (purchase count) and Monetary (exact-DECIMAL purchase
# revenue), each quintiled into scores 1-5 (bin 1 = most recent /
# most frequent / highest spend). The Spark side computes each
# quintile with operators.rank.ntile_grouped — value-identical to
# NTILE(5) but built on the two-pass global rank, so no corpus-wide
# single-partition sort exists in the plan at any user count; the
# oracle replays it as DuckDB's native NTILE. (user_id tiebreaks make
# every ordering total, so the quintile assignment is unique.)
# ----------------------------------------------------------------------

_RFM_ORACLE = f"""
WITH u AS (
  SELECT user_id, MAX({_US_DUCK}) AS last_us,
    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS f,
    COALESCE({DSUM("CASE WHEN event_type = 'purchase'"
                   " THEN value END")}, 0e0) AS m
  FROM events GROUP BY user_id)
SELECT user_id, last_us, CAST(f AS BIGINT) AS f, m,
  CAST(NTILE(5) OVER (ORDER BY last_us DESC, user_id) AS INT) AS r_bin,
  CAST(NTILE(5) OVER (ORDER BY f DESC, user_id) AS INT) AS f_bin,
  CAST(NTILE(5) OVER (ORDER BY m DESC, user_id) AS INT) AS m_bin,
  CAST(NTILE(5) OVER (ORDER BY last_us DESC, user_id) * 100
   + NTILE(5) OVER (ORDER BY f DESC, user_id) * 10
   + NTILE(5) OVER (ORDER BY m DESC, user_id) AS INT) AS rfm
FROM u
"""


@spec(
    "events_rfm",
    _RFM_ORACLE,
    description="RFM quintile segmentation: per-user recency/"
                "frequency/monetary rollup, then three NTILE(5) "
                "scores via the two-pass grouped rank (no global "
                "single-partition window) and the combined 3-digit "
                "RFM segment code",
    tags=("events", "segmentation", "rank"),
)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import ntile_grouped

    ev = load(spark, sf_dir, "events")
    u = (ev.groupBy("user_id").agg(
            F.expr(f"MAX({_US_SPARK})").alias("last_us"),
            F.expr("CAST(COUNT(CASE WHEN event_type = 'purchase'"
                   " THEN 1 END) AS BIGINT)").alias("f"),
            F.expr("COALESCE(" + DSUM(
                "CASE WHEN event_type = 'purchase' THEN value END")
                + ", 0e0)").alias("m"))
         .withColumn("__g", F.lit(0)))
    for col, order in (("r_bin", [F.col("last_us").desc(),
                                  F.col("user_id").asc()]),
                       ("f_bin", [F.col("f").desc(),
                                  F.col("user_id").asc()]),
                       ("m_bin", [F.col("m").desc(),
                                  F.col("user_id").asc()])):
        u = ntile_grouped(u, 5, ["__g"], order, bin_col=col)
    return u.selectExpr(
        "user_id", "last_us", "f", "m",
        "CAST(r_bin AS INT) AS r_bin", "CAST(f_bin AS INT) AS f_bin",
        "CAST(m_bin AS INT) AS m_bin",
        "CAST(r_bin * 100 + f_bin * 10 + m_bin AS INT) AS rfm")


# ----------------------------------------------------------------------
# Streaming hourly top-k event types: the watermarked tumbling-hour
# stream aggregation (same engine path as events_stream_hourly)
# finished by a per-hour top-3 rank on the emitted result. The rank
# window partitions on hour_bucket — per-partition state is bounded
# by the event-type cardinality, never by corpus size — and ties
# break on event_type, so the top-3 set is unique and exact. The
# oracle replays the whole thing as batch SQL.
# ----------------------------------------------------------------------

_STREAM_TOPK_ORACLE = f"""
WITH h AS (
  SELECT ({_US_DUCK} // 3600000000) AS hour_bucket, event_type,
    COUNT(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT hour_bucket, rank, event_type, n_events FROM (
  SELECT *, row_number() OVER (PARTITION BY hour_bucket
      ORDER BY n_events DESC, event_type) AS rank
  FROM h)
WHERE rank <= 3
"""


@spec(
    "events_stream_topk",
    _STREAM_TOPK_ORACLE,
    description="Streaming hourly top-3 event types: watermarked "
                "tumbling-window stream aggregation finished by a "
                "bounded-state per-hour rank (partition cardinality "
                "= event types, never corpus size)",
    tags=("events", "streaming", "rank"),
)
def q_events_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_hourly_counts

    h = stream_hourly_counts(spark, sf_dir).select(
        "hour_bucket", "event_type", "n_events")
    w = Window.partitionBy("hour_bucket").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc())
    return (h.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("hour_bucket", "rank", "event_type", "n_events"))


# ----------------------------------------------------------------------
# DAU / WAU / MAU + stickiness: the standard product-analytics active-
# user ladder. One distinct (user, day) presence table feeds all three
# counts; the trailing 7- and 30-day windows are EXPLODED FORWARD
# (each presence day contributes to the next 7/30 target days) so the
# whole query is distinct + hash aggregations — no corpus-wide window,
# no per-day self-join, and the fan-out is a bounded constant (x7,
# x30 on user-DAYS, already deduped, not raw events). Target days are
# clamped to the observed [min_day, max_day] via a 1-row broadcast.
# stickiness = dau/mau is a single exact IEEE division.
# ----------------------------------------------------------------------

_DAY_US = 86_400_000_000

_ACTIVE_USERS_ORACLE = f"""
WITH p AS (
  SELECT DISTINCT user_id, ({_US_DUCK} // {_DAY_US}) AS day
  FROM events),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM p),
dau AS (SELECT day, COUNT(*) AS dau FROM p GROUP BY day),
w AS (SELECT DISTINCT user_id, day + o AS day
      FROM p, (SELECT unnest(range(0, 7)) AS o)),
wau AS (SELECT w.day, COUNT(*) AS wau FROM w, bounds
        WHERE w.day <= bounds.hi GROUP BY w.day),
m AS (SELECT DISTINCT user_id, day + o AS day
      FROM p, (SELECT unnest(range(0, 30)) AS o)),
mau AS (SELECT m.day, COUNT(*) AS mau FROM m, bounds
        WHERE m.day <= bounds.hi GROUP BY m.day)
SELECT wau.day AS day,
  CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
  CAST(wau.wau AS BIGINT) AS wau,
  CAST(mau.mau AS BIGINT) AS mau,
  COALESCE(dau.dau, 0) / CAST(mau.mau AS DOUBLE) AS stickiness
FROM wau JOIN mau ON mau.day = wau.day
LEFT JOIN dau ON dau.day = wau.day
"""


@spec(
    "events_active_users",
    _ACTIVE_USERS_ORACLE,
    description="DAU/WAU/MAU active-user ladder + stickiness: one "
                "distinct user-day presence table exploded forward "
                "into bounded 7/30-day contributions — distinct + "
                "hash aggs only, no corpus-wide window or per-day "
                "self-join",
    tags=("events", "analytics", "agg"),
)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = ev.selectExpr("user_id",
                      f"({_US_SPARK}) DIV {_DAY_US} AS day").distinct()
    bounds = p.agg(F.max("day").alias("__hi"))
    dau = p.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n: int, name: str) -> DataFrame:
        x = (p.selectExpr("user_id",
                          f"explode(sequence(day, day + {n - 1}))"
                          " AS day")
             .distinct()
             .join(F.broadcast(bounds), F.col("day") <= F.col("__hi"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).alias(name)))
        return x

    wau, mau = trailing(7, "wau"), trailing(30, "mau")
    return (wau.join(mau, on="day")
            .join(dau, on="day", how="left")
            .selectExpr(
                "day",
                "CAST(COALESCE(dau, 0) AS BIGINT) AS dau",
                "CAST(wau AS BIGINT) AS wau",
                "CAST(mau AS BIGINT) AS mau",
                "COALESCE(dau, 0) / CAST(mau AS DOUBLE)"
                " AS stickiness"))


# ----------------------------------------------------------------------
# User-journey path analysis: the top event-type trigrams (consecutive
# 3-step paths) across all user sessions — the "what do users do
# next" query every product-analytics stack runs. Two leads over one
# user_id exchange (linear per-user state), a path hash agg, then a
# global top-20 via sort+limit, which Spark plans as
# TakeOrderedAndProject — per-partition heaps + a k-row driver merge,
# NEVER a corpus-wide window or full sort. (path, count) ties break
# on the path string, so the top-k set is unique cross-engine.
# ----------------------------------------------------------------------

_PATH_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, {_US_DUCK} AS us, event_id
  FROM events WHERE ts IS NOT NULL),
t AS (
  SELECT user_id, event_type AS s0,
    lead(event_type, 1) OVER w AS s1,
    lead(event_type, 2) OVER w AS s2
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
p AS (
  SELECT user_id, s0 || '>' || s1 || '>' || s2 AS path FROM t
  WHERE s1 IS NOT NULL AND s2 IS NOT NULL)
SELECT path, COUNT(*) AS n_occurrences,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM p GROUP BY path
ORDER BY n_occurrences DESC, path
LIMIT 20
"""


@spec(
    "events_path_analysis",
    _PATH_ORACLE,
    description="Top-20 user-journey event-type trigrams: two leads "
                "over one user_id exchange, path hash agg, global "
                "top-k as TakeOrderedAndProject (per-partition heaps "
                "+ k-row merge — no corpus-wide sort or window)",
    tags=("events", "analytics", "window"),
)
def q_events_path_analysis(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    # ts IS NOT NULL on both sides: lead order on us diverges
    # cross-engine for NULLs (Spark NULLS FIRST asc, DuckDB LAST)
    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL") \
        .selectExpr("user_id", "event_type", f"{_US_SPARK} AS us",
                    "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t = ev.select(
        "user_id",
        F.col("event_type").alias("s0"),
        F.lead("event_type", 1).over(w).alias("s1"),
        F.lead("event_type", 2).over(w).alias("s2"))
    p = (t.filter("s1 IS NOT NULL AND s2 IS NOT NULL")
         .selectExpr("user_id",
                     "concat(s0, '>', s1, '>', s2) AS path"))
    return (p.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)")
                 .alias("n_users"))
            .orderBy(F.col("n_occurrences").desc(), F.col("path"))
            .limit(20))


# ----------------------------------------------------------------------
# LINEAR multi-touch attribution — the fractional-credit complement
# to events_attribution's last-touch: every view/click touch in the
# 7-day window strictly before a purchase shares the conversion
# equally (credit 1/n). Spark meets purchase->touch candidates in a
# bucketed hash equi-join (7-day buckets, purchases exploded to 2
# covering buckets — the events_interval_overlap pattern, never an
# unbounded range join); the oracle replays it as DuckDB's native
# IEJoin, an algorithmically independent check. Per-purchase credit
# shares pass a QTRUNC 1e-9 barrier BEFORE the exact DECIMAL rollup,
# so the order-free sums agree cross-engine despite 1/n being a
# non-terminating binary fraction.
# ----------------------------------------------------------------------

_ATTRL_US = 7 * 86_400_000_000


def _attrl_oracle() -> str:
    sq = QTRUNC("c / CAST(n AS DOUBLE)", 9)
    return f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value, {_US_DUCK} AS us
  FROM events),
p AS (SELECT event_id AS pid, user_id, us AS pus, value FROM e
      WHERE event_type = 'purchase'),
t AS (SELECT user_id, us AS tus, event_type AS ttype FROM e
      WHERE event_type IN ('view', 'click')),
j AS (SELECT p.pid, p.value, t.ttype FROM p JOIN t
      ON t.user_id = p.user_id AND t.tus < p.pus
     AND p.pus - t.tus <= {_ATTRL_US}),
g1 AS (SELECT pid, value, ttype, COUNT(*) AS c FROM j
       GROUP BY pid, value, ttype),
g2 AS (SELECT pid, SUM(c) AS n FROM g1 GROUP BY pid),
s AS (SELECT ttype, {sq} AS sq, value
      FROM g1 JOIN g2 USING (pid))
SELECT ttype AS touch_type, {DSUM('sq', 9)} AS credit,
  {DSUM('sq * value')} AS credited_value
FROM s GROUP BY ttype
UNION ALL
SELECT 'none' AS touch_type, CAST(COUNT(*) AS DOUBLE) AS credit,
  {DSUM('value')} AS credited_value
FROM p WHERE pid NOT IN (SELECT pid FROM g2)
HAVING COUNT(*) > 0
"""


@spec(
    "events_attribution_linear",
    _attrl_oracle(),
    description="Linear multi-touch attribution: every view/click in "
                "the 7-day pre-purchase window shares credit 1/n — "
                "bucketed hash equi-join candidates (purchases "
                "exploded to 2 covering 7-day buckets) vs the "
                "oracle's native IEJoin; QTRUNC'd shares feed exact "
                "DECIMAL rollups",
    tags=("events", "attribution", "join", "range"),
)
def q_events_attribution_linear(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type", "value",
        f"{_US_SPARK} AS us")
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "event_id AS pid", "user_id", "us AS pus", "value")
    t = (ev.filter("event_type IN ('view', 'click')")
         .selectExpr("user_id", "us AS tus", "event_type AS ttype",
                     f"tus DIV {_ATTRL_US} AS bkt"))
    pe = p.selectExpr(
        "pid", "user_id", "pus", "value",
        f"explode(array(pus DIV {_ATTRL_US} - 1,"
        f" pus DIV {_ATTRL_US})) AS bkt")
    j = (pe.join(t, on=["user_id", "bkt"])
         .filter(f"tus < pus AND pus - tus <= {_ATTRL_US}")
         .select("pid", "value", "ttype"))
    # lazily checkpointed: the per-(purchase, touch-type) counts are
    # purchase-scale, but their lineage is the bucketed corpus join —
    # g1 feeds g2, the share join AND (via g2) the none anti-join, so
    # an unmaterialized g1 re-runs the join per branch (14 source
    # scans in the executed plan)
    g1 = materialize(
        j.groupBy("pid", "value", "ttype").agg(
            F.count(F.lit(1)).alias("c")),
        eager=False)
    g2 = g1.groupBy("pid").agg(F.sum("c").alias("n"))
    sq = QTRUNC("c / CAST(n AS DOUBLE)", 9)
    s = g1.join(g2, on="pid").selectExpr("ttype", f"{sq} AS sq",
                                         "value")
    att = s.groupBy(F.col("ttype").alias("touch_type")).agg(
        F.expr(DSUM("sq", 9)).alias("credit"),
        F.expr(DSUM("sq * value")).alias("credited_value"))
    none = (p.join(g2, on="pid", how="left_anti")
            .groupBy(F.lit("none").alias("touch_type"))
            .agg(F.expr("CAST(COUNT(*) AS DOUBLE)").alias("credit"),
                 F.expr(DSUM("value")).alias("credited_value")))
    return att.unionByName(none)


@spec(
    "events_stream_attribution",
    _ATTR_ORACLE,
    description="Stateful streaming last-touch attribution "
                "(applyInPandasWithState): per-user carry is one "
                "packed BIGINT crossing micro-batches; same oracle "
                "as the batch window form — the stateful fold IS the "
                "running max",
    tags=("events", "streaming", "attribution"),
)
def q_events_stream_attribution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from xsarsea_spark.streaming.events import stream_attribution

    att = stream_attribution(spark, sf_dir)
    return att.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.expr(DSUM("value")).alias("attributed_value"))


# ----------------------------------------------------------------------
# Experiment guardrails, part 1: sample-ratio-mismatch (SRM) check.
# Users hash 50/50 into variants (md5-derived bucket — the same
# deterministic assignment the ab_ttest row uses); per event-type
# segment, the chi-square goodness-of-fit statistic against the
# expected even split, flagged at the df=1 95% critical value. The
# statistic is pure arithmetic on exact integer user counts, so
# values AND flags are identical cross-engine. One distinct + one
# hash agg; output cardinality = event types.
# ----------------------------------------------------------------------

_SRM_CRIT = "3.841458820694124e0"     # chi2 df=1, p=0.05
_VARIANT_DUCK = ("CASE WHEN (CAST('0x' || substr(md5('V#' ||"
                 " CAST(user_id AS VARCHAR)), 1, 10) AS BIGINT))"
                 " % 2 = 0 THEN 'a' ELSE 'b' END")
_VARIANT_SPARK = ("CASE WHEN CAST(conv(substring(md5(concat('V#',"
                  " CAST(user_id AS STRING))), 1, 10), 16, 10)"
                  " AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END")

_SRM_ORACLE = f"""
WITH p AS (
  SELECT DISTINCT event_type, user_id, {_VARIANT_DUCK} AS variant
  FROM events),
g AS (
  SELECT event_type,
    COUNT(CASE WHEN variant = 'a' THEN 1 END) AS n_a,
    COUNT(CASE WHEN variant = 'b' THEN 1 END) AS n_b
  FROM p GROUP BY event_type)
SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
  CAST(n_b AS BIGINT) AS n_b,
  (n_a - (n_a + n_b) / 2e0) * (n_a - (n_a + n_b) / 2e0)
    / ((n_a + n_b) / 2e0)
  + (n_b - (n_a + n_b) / 2e0) * (n_b - (n_a + n_b) / 2e0)
    / ((n_a + n_b) / 2e0) AS chi2,
  ((n_a - (n_a + n_b) / 2e0) * (n_a - (n_a + n_b) / 2e0)
    / ((n_a + n_b) / 2e0)
  + (n_b - (n_a + n_b) / 2e0) * (n_b - (n_a + n_b) / 2e0)
    / ((n_a + n_b) / 2e0)) > {_SRM_CRIT} AS srm
FROM g
"""


@spec(
    "events_ab_srm",
    _SRM_ORACLE,
    description="Sample-ratio-mismatch guardrail: per-segment "
                "chi-square GOF of the hash-assigned 50/50 split "
                "against its expectation, flagged at the df=1 95% "
                "critical value — exact integer counts, "
                "deterministic statistic and flag",
    tags=("events", "experimentation", "agg"),
)
def q_events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # distinct FIRST: variant is a pure function of user_id, so the
    # md5/conv chain runs once per (type, user) pair — not once per
    # raw event — and the derived string never rides the shuffle
    p = (ev.select("event_type", "user_id").distinct()
         .selectExpr("event_type", "user_id",
                     f"{_VARIANT_SPARK} AS variant"))
    g = p.groupBy("event_type").agg(
        F.expr("COUNT(CASE WHEN variant = 'a' THEN 1 END)")
        .alias("__na"),
        F.expr("COUNT(CASE WHEN variant = 'b' THEN 1 END)")
        .alias("__nb"))
    chi2 = ("(__na - (__na + __nb) / 2e0) * (__na - (__na + __nb)"
            " / 2e0) / ((__na + __nb) / 2e0)"
            " + (__nb - (__na + __nb) / 2e0) * (__nb - (__na +"
            " __nb) / 2e0) / ((__na + __nb) / 2e0)")
    return g.selectExpr(
        "event_type", "CAST(__na AS BIGINT) AS n_a",
        "CAST(__nb AS BIGINT) AS n_b",
        f"{chi2} AS chi2", f"({chi2}) > {_SRM_CRIT} AS srm")


# ----------------------------------------------------------------------
# Experiment guardrails, part 2: CUPED variance reduction (Deng et
# al. 2013) — the standard pre-experiment covariate adjustment:
# theta = cov(pre, post) / var(pre) over all exposed users, adjusted
# metric = post - theta * (pre - mean(pre)), reported per variant
# with the achieved variance-reduction ratio. The pre/post split is
# the corpus's 14th day (min event time + 14 days, a 1-row
# broadcast); moments ride exact DECIMAL sums, every division and
# the final statistics pass a QTRUNC 1e-9 barrier, so theta, means
# and ratios agree cross-engine bit-for-grid.
# ----------------------------------------------------------------------


def _cuped_oracle() -> str:
    q = "{}"
    t9 = lambda e: QTRUNC(e, 9)   # noqa: E731
    return f"""
WITH b AS (SELECT MIN({_US_DUCK}) + 14 * 86400000000 AS cut
           FROM events),
u AS (
  SELECT user_id, {_VARIANT_DUCK} AS variant,
    COALESCE({DSUM("CASE WHEN ts IS NOT NULL AND "
                   + _US_DUCK + " < b.cut THEN value END")}, 0e0)
      AS pre,
    COALESCE({DSUM("CASE WHEN ts IS NOT NULL AND "
                   + _US_DUCK + " >= b.cut THEN value END")}, 0e0)
      AS post
  FROM events, b GROUP BY user_id, {_VARIANT_DUCK}),
m AS (
  SELECT COUNT(*) AS n, {DSUM('pre')} AS sx, {DSUM('post')} AS sy,
    {DSUM('pre * pre')} AS sxx, {DSUM('pre * post')} AS sxy
  FROM u),
t AS (
  SELECT n, sx / n AS mx,
    {t9("(sxy - sx * sy / n) / nullif(sxx - sx * sx / n, 0e0)")}
      AS theta
  FROM m)
SELECT variant, COUNT(*) AS n_users,
  {t9(DAVG('post'))} AS mean_post,
  {t9("%s" % DAVG("post - t.theta * (pre - t.mx)"))} AS mean_cuped,
  {t9("t.theta")} AS theta
FROM u, t GROUP BY variant, t.theta, t.mx
"""


@spec(
    "events_cuped",
    _cuped_oracle(),
    description="CUPED variance reduction (Deng et al. 2013): "
                "theta = cov(pre,post)/var(pre) from exact DECIMAL "
                "moments, per-variant adjusted means — pre/post cut "
                "at min event time + 14 days via a 1-row broadcast; "
                "QTRUNC barriers make every statistic value-exact",
    tags=("events", "experimentation", "agg"),
)
def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t9 = lambda e: QTRUNC(e, 9)   # noqa: E731
    ev = load(spark, sf_dir, "events")
    b = ev.agg(F.expr(f"MIN({_US_SPARK}) + 14 * 86400000000")
               .alias("cut"))
    u = (ev.join(F.broadcast(b))
         .groupBy("user_id",
                  F.expr(_VARIANT_SPARK).alias("variant"))
         .agg(F.expr("COALESCE(" + DSUM(
                 "CASE WHEN ts IS NOT NULL AND " + _US_SPARK
                 + " < cut THEN value END") + ", 0e0)").alias("pre"),
              F.expr("COALESCE(" + DSUM(
                 "CASE WHEN ts IS NOT NULL AND " + _US_SPARK
                 + " >= cut THEN value END") + ", 0e0)")
              .alias("post")))
    m = u.agg(F.expr("COUNT(*)").alias("n"),
              F.expr(DSUM("pre")).alias("sx"),
              F.expr(DSUM("post")).alias("sy"),
              F.expr(DSUM("pre * pre")).alias("sxx"),
              F.expr(DSUM("pre * post")).alias("sxy"))
    t = m.selectExpr(
        "n", "sx / n AS mx",
        t9("(sxy - sx * sy / n)"
           " / nullif(sxx - sx * sx / n, 0e0)") + " AS theta")
    return (u.join(F.broadcast(t))
            .groupBy("variant", "theta", "mx")
            .agg(F.expr(t9(DAVG("post"))).alias("mean_post"),
                 F.expr(t9(DAVG("post - theta * (pre - mx)")))
                 .alias("mean_cuped"),
                 F.count(F.lit(1)).alias("n_users"))
            .selectExpr("variant", "n_users", "mean_post",
                        "mean_cuped", t9("theta") + " AS theta"))


# ----------------------------------------------------------------------
# Seasonal-residual anomaly detection (STL-lite): hourly counts per
# event type are deseasonalized against their HOUR-OF-DAY profile
# (mean and sample variance per (type, hod) — a bounded 24 x types
# frame, broadcast back), and hours whose residual z-score passes
# |z| > 3 are flagged. Distinct from events_hourly_anomaly's
# trailing-window score: this one removes the daily cycle first, so
# a busy-but-normal 9am never alarms while a quiet-hour spike does.
# Two hash aggs + one broadcast join — no window; integer count
# sums make the moments exact, and z passes a QTRUNC barrier so
# scores AND flags agree cross-engine.
# ----------------------------------------------------------------------


def _seasonal_anom_oracle() -> str:
    z = QTRUNC("(n - mu) / sd", 9)
    return f"""
WITH h AS (
  SELECT event_type, ({_US_DUCK} // 3600000000) AS hour_bucket,
    COUNT(*) AS n
  FROM events GROUP BY 1, 2),
p AS (
  SELECT event_type, hour_bucket % 24 AS hod, COUNT(*) AS cnt,
    SUM(CAST(n AS DECIMAL(38,0))) AS sx,
    SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
      AS sxx
  FROM h GROUP BY 1, 2),
m AS (
  SELECT event_type, hod, CAST(sx AS DOUBLE) / cnt AS mu,
    sqrt(nullif(GREATEST(
      (CAST(sxx AS DOUBLE) / cnt
       - (CAST(sx AS DOUBLE) / cnt) * (CAST(sx AS DOUBLE) / cnt))
      * cnt / nullif(cnt - 1, 0), 0e0), 0e0)) AS sd
  FROM p)
SELECT h.event_type, h.hour_bucket, CAST(h.n AS BIGINT) AS n,
  CAST(h.hour_bucket % 24 AS BIGINT) AS hod,
  {QTRUNC('mu', 9)} AS expected,
  {z} AS z,
  COALESCE(ABS({z}) > 3e0, false) AS is_anomaly
FROM h JOIN m ON m.event_type = h.event_type
              AND m.hod = h.hour_bucket % 24
"""


@spec(
    "events_seasonal_anomaly",
    _seasonal_anom_oracle(),
    description="Seasonal-residual anomaly detection: hourly counts "
                "deseasonalized against the hour-of-day profile "
                "(bounded broadcast frame), |z| > 3 flags — removes "
                "the daily cycle before scoring, unlike the "
                "trailing-window variant; no window, exact moments, "
                "QTRUNC'd scores",
    tags=("events", "anomaly", "timeseries"),
)
def q_events_seasonal_anomaly(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    h = (ev.groupBy("event_type",
                    F.expr(f"({_US_SPARK}) DIV 3600000000")
                    .alias("hour_bucket"))
         .agg(F.count(F.lit(1)).alias("n")))
    # moments on the DECIMAL grid (BIGINT sx*sx wraps silently past
    # ~3e9 events per cell in non-ANSI mode), variance composed in
    # doubles from the exact sums and CLAMPED at 0 — double rounding
    # can go infinitesimally negative for a near-constant series,
    # and DuckDB's sqrt hard-errors on it where Spark returns NaN
    p = (h.groupBy("event_type",
                   F.expr("hour_bucket % 24").alias("hod"))
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.expr("SUM(CAST(n AS DECIMAL(38,0)))").alias("sx"),
              F.expr("SUM(CAST(n AS DECIMAL(19,0))"
                     " * CAST(n AS DECIMAL(19,0)))").alias("sxx")))
    m = p.selectExpr(
        "event_type AS __mt", "hod AS __mh",
        "CAST(sx AS DOUBLE) / cnt AS mu",
        "sqrt(nullif(GREATEST("
        "(CAST(sxx AS DOUBLE) / cnt"
        " - (CAST(sx AS DOUBLE) / cnt) * (CAST(sx AS DOUBLE) / cnt))"
        " * cnt / nullif(cnt - 1, 0), 0e0), 0e0)) AS sd")
    z = QTRUNC("(n - mu) / sd", 9)
    return (h.join(F.broadcast(m),
                   (F.col("event_type") == F.col("__mt"))
                   & (F.expr("hour_bucket % 24") == F.col("__mh")))
            .select("event_type", "hour_bucket",
                    F.col("n").cast("bigint").alias("n"),
                    F.expr("CAST(hour_bucket % 24 AS BIGINT)")
                    .alias("hod"),
                    F.expr(QTRUNC("mu", 9)).alias("expected"),
                    F.expr(z).alias("z"),
                    F.expr(f"COALESCE(ABS({z}) > 3e0, false)")
                    .alias("is_anomaly")))


# ----------------------------------------------------------------------
# Experiment guardrails, part 3: power analysis — the sample-size
# calculation run BEFORE an A/B test. Per event-type metric, the
# baseline mean/variance come from exact DECIMAL moments, the
# minimum detectable effect is 5% of the mean, and the required
# per-arm n is the standard two-sided normal approximation
# n = (z_{a/2} + z_b)^2 * 2 * var / delta^2 at alpha = 5%, power =
# 80% (z constants as literals). Every statistic passes a QTRUNC
# barrier BEFORE the ceil, so n_per_arm is integer-identical
# cross-engine. One hash agg; output cardinality = event types.
# ----------------------------------------------------------------------

_PWR_Z = "(1.959963984540054e0 + 8.416212335729143e-1)"


def _power_oracle() -> str:
    mean = QTRUNC("sx / n", 9)
    var = QTRUNC("(sxx - sx * sx / n) / nullif(n - 1, 0)", 9)
    mde = f"({mean}) * 5e-2"
    npa = (f"CAST(CEIL({_PWR_Z} * {_PWR_Z} * 2e0 * ({var})"
           f" / nullif(({mde}) * ({mde}), 0e0)) AS BIGINT)")
    return f"""
WITH g AS (
  SELECT event_type, COUNT(value) AS n,
    {DSUM('value')} AS sx, {DSUM('value * value')} AS sxx
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n_obs,
  {mean} AS mean, {var} AS variance,
  {QTRUNC(mde, 9)} AS mde,
  {npa} AS n_per_arm
FROM g
"""


@spec(
    "events_power_analysis",
    _power_oracle(),
    description="A/B power analysis: per-metric baseline moments "
                "(exact DECIMAL sums), 5%-of-mean minimum detectable "
                "effect, and the two-sided normal-approximation "
                "per-arm sample size at alpha=5%/power=80% — QTRUNC "
                "before ceil makes n_per_arm integer-identical "
                "cross-engine; one hash agg",
    tags=("events", "experimentation", "agg"),
)
def q_events_power_analysis(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    mean = QTRUNC("sx / n", 9)
    var = QTRUNC("(sxx - sx * sx / n) / nullif(n - 1, 0)", 9)
    mde = f"({mean}) * 5e-2"
    npa = (f"CAST(CEIL({_PWR_Z} * {_PWR_Z} * 2e0 * ({var})"
           f" / nullif(({mde}) * ({mde}), 0e0)) AS BIGINT)")
    ev = load(spark, sf_dir, "events")
    g = (ev.filter("value IS NOT NULL AND NOT isnan(value)")
         .groupBy("event_type")
         .agg(F.expr("COUNT(value)").alias("n"),
              F.expr(DSUM("value")).alias("sx"),
              F.expr(DSUM("value * value")).alias("sxx")))
    return g.selectExpr(
        "event_type", "CAST(n AS BIGINT) AS n_obs",
        f"{mean} AS mean", f"{var} AS variance",
        f"{QTRUNC(mde, 9)} AS mde", f"{npa} AS n_per_arm")


# ----------------------------------------------------------------------
# Exact equi-depth histogram construction — the ANALYZE-statistics
# op an optimizer runs to build per-column histograms: 10 equal-
# population buckets per event type over `value`, each reporting
# its population and [lo, hi] bounds. EXACT, not a sketch (the
# dd_quantiles row is the mergeable-sketch counterpart): bucket
# assignment is NTILE(10) by (value, event_id) — a total order — on
# the two-pass grouped rank, so no per-type single-partition sort
# exists at any scale; the oracle replays it as native NTILE.
# ----------------------------------------------------------------------

_EQD_ORACLE = f"""
WITH e AS (
  SELECT event_type, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
b AS (
  SELECT event_type, value,
    NTILE(10) OVER (PARTITION BY event_type
                    ORDER BY value, event_id) AS bucket
  FROM e)
SELECT event_type, CAST(bucket AS INT) AS bucket,
  COUNT(*) AS n_rows, MIN(value) AS lo, MAX(value) AS hi
FROM b GROUP BY event_type, bucket
"""


@spec(
    "events_equidepth_histogram",
    _EQD_ORACLE,
    description="Exact equi-depth histogram (ANALYZE-style column "
                "statistics): 10 equal-population value buckets per "
                "event type via NTILE on the two-pass grouped rank "
                "— no per-group single-partition sort; per-bucket "
                "population and [lo, hi] bounds, value-exact",
    tags=("events", "statistics", "rank"),
)
def q_events_equidepth_histogram(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import ntile_grouped

    ev = (load(spark, sf_dir, "events")
          .filter("value IS NOT NULL AND NOT isnan(value)")
          .select("event_type", "event_id", "value"))
    b = ntile_grouped(
        ev, 10, ["event_type"],
        [F.col("value").asc(), F.col("event_id").asc()],
        bin_col="bucket")
    return (b.groupBy("event_type",
                      F.col("bucket").cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("value").alias("lo"),
                 F.max("value").alias("hi")))


# ----------------------------------------------------------------------
# Activity concentration (Gini coefficient) — "do 1% of users
# generate half the events?": per event type, the exact Gini of
# per-user event counts via the sorted-rank identity
# G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n with x ascending
# by (count, user_id). The in-type rank comes from ONE global
# two-pass rank plus broadcast per-type offsets (the crawl-frontier
# shape — no per-type single-partition sort), sum(i * x_i) rides
# the DECIMAL grid (i * x products overflow BIGINT long before a
# 100 TB corpus runs out of users), and the final statistic passes
# a QTRUNC barrier.
# ----------------------------------------------------------------------

_GINI_ORACLE = f"""
WITH u AS (
  SELECT event_type, user_id, COUNT(*) AS c FROM events
  GROUP BY event_type, user_id),
r AS (
  SELECT event_type, c,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY c, user_id) AS i
  FROM u),
g AS (
  SELECT event_type, COUNT(*) AS n,
    CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT) AS t,
    SUM(CAST(i AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS s
  FROM r GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n_users,
  t AS n_events,
  {QTRUNC("2e0 * CAST(s AS DOUBLE) / (n * CAST(t AS DOUBLE))"
          " - (n + 1e0) / n", 9)} AS gini
FROM g
"""


@spec(
    "events_user_gini",
    _GINI_ORACLE,
    description="Exact Gini concentration of per-user activity per "
                "event type via the sorted-rank identity — in-type "
                "ranks on the two-pass grouped rank (no per-type "
                "single-partition sort), DECIMAL-grid moment, "
                "QTRUNC'd statistic",
    tags=("events", "statistics", "rank"),
)
def q_events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c"))
    ranked = global_rank(
        u, [F.col("event_type").asc(), F.col("c").asc(),
            F.col("user_id").asc()], rank_col="__gr")
    first = ranked.groupBy("event_type").agg(
        F.min("__gr").alias("__first"))
    r = (ranked.join(F.broadcast(first), on="event_type")
         .selectExpr("event_type", "c",
                     "__gr - __first + 1 AS i"))
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT)")
        .alias("t"),
        F.expr("SUM(CAST(i AS DECIMAL(19,0))"
               " * CAST(c AS DECIMAL(19,0)))").alias("s"))
    return g.selectExpr(
        "event_type", "CAST(n AS BIGINT) AS n_users",
        "t AS n_events",
        QTRUNC("2e0 * CAST(s AS DOUBLE) / (n * CAST(t AS DOUBLE))"
               " - (n + 1e0) / n", 9) + " AS gini")


# ----------------------------------------------------------------------
# Journey predictability — per-state transition entropy of the
# user-journey Markov chain (the information-theoretic companion of
# events_markov_transitions' probabilities): for each current event
# type, H = -sum_next p * log2(p) in bits — 0 means the next step
# is fully determined, log2(|types|) means uniform. Transition
# counts are integers; each p*log2(p) term passes a QTRUNC barrier
# (log2 is libm) and the per-state sum rides an exact DECIMAL grid,
# so entropies agree cross-engine. One user_id exchange for the
# lead, two hash aggs after.
# ----------------------------------------------------------------------


def _entropy_oracle() -> str:
    term = QTRUNC(
        "(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))", 12)
    return f"""
WITH e AS (
  SELECT user_id, event_type, {_US_DUCK} AS us, event_id
  FROM events WHERE ts IS NOT NULL),
t AS (
  SELECT event_type AS s0, lead(event_type) OVER w AS s1
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
c AS (SELECT s0, s1, COUNT(*) AS c FROM t WHERE s1 IS NOT NULL
      GROUP BY s0, s1),
n AS (SELECT s0, SUM(c) AS n FROM c GROUP BY s0),
h AS (SELECT c.s0, CAST(n.n AS BIGINT) AS n_transitions,
        CAST(SUM(CAST(-({term}) AS DECIMAL(38,12))) AS DOUBLE)
          AS entropy_bits
      FROM c JOIN n ON n.s0 = c.s0 GROUP BY c.s0, n.n)
SELECT s0 AS event_type, n_transitions, entropy_bits FROM h
"""


@spec(
    "events_transition_entropy",
    _entropy_oracle(),
    description="Per-state transition entropy of the user-journey "
                "Markov chain (bits): QTRUNC'd p*log2(p) terms on "
                "an exact DECIMAL sum — 0 = deterministic next "
                "step; one user_id exchange + two hash aggs",
    tags=("events", "statistics", "window"),
)
def q_events_transition_entropy(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    term = QTRUNC(
        "(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))", 12)
    ev = (load(spark, sf_dir, "events").filter("ts IS NOT NULL")
          .selectExpr("user_id", "event_type", f"{_US_SPARK} AS us",
                      "event_id"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t = ev.select(F.col("event_type").alias("s0"),
                  F.lead("event_type").over(w).alias("s1"))
    c = (t.filter("s1 IS NOT NULL")
         .groupBy("s0", "s1").agg(F.count(F.lit(1)).alias("c")))
    n = c.groupBy("s0").agg(F.sum("c").alias("n"))
    return (c.join(n, on="s0")
            .groupBy(F.col("s0").alias("event_type"),
                     F.col("n").cast("bigint")
                     .alias("n_transitions"))
            .agg(F.expr(f"CAST(SUM(CAST(-({term})"
                        f" AS DECIMAL(38,12))) AS DOUBLE)")
                 .alias("entropy_bits")))


# ----------------------------------------------------------------------
# Dead-letter quarantine report — the ingest-side data-quality
# split (the events twin of lineitem_dq_gate's expectation report):
# each record is checked against the gate battery (NULL timestamp,
# NULL user, missing/NaN value, unknown event type, negative
# value), per-reason violation counts are exact integers, and the
# headline row reports how many records quarantine (>= 1 reason)
# vs pass clean. One scan, one aggregate — the counts a pipeline
# alerts on before the clean slice proceeds.
# ----------------------------------------------------------------------

_DQQ_REASONS = (
    ("null_ts", "ts IS NULL"),
    ("null_user", "user_id IS NULL"),
    ("bad_value", "value IS NULL OR isnan(value)"),
    ("unknown_type",
     "event_type IS NULL OR event_type NOT IN"
     " ('view', 'click', 'purchase', 'signup', 'error')"),
    ("negative_value",
     "value IS NOT NULL AND NOT isnan(value) AND value < 0e0"),
)

_DQQ_ANY = " OR ".join(f"({cond})" for _n, cond in _DQQ_REASONS)


def _dqq_oracle() -> str:
    rows = [
        f"SELECT '{name}' AS reason,"
        f" CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT)"
        f" AS n_rows FROM events"
        for name, cond in _DQQ_REASONS
    ]
    rows.append(
        f"SELECT '__quarantined' AS reason,"
        f" CAST(COUNT(CASE WHEN {_DQQ_ANY} THEN 1 END) AS BIGINT)"
        f" AS n_rows FROM events")
    rows.append(
        f"SELECT '__clean' AS reason,"
        f" CAST(COUNT(CASE WHEN NOT ({_DQQ_ANY}) THEN 1 END)"
        f" AS BIGINT) AS n_rows FROM events")
    return " UNION ALL ".join(rows)


@spec(
    "events_dq_quarantine",
    _dqq_oracle(),
    description="Dead-letter quarantine report: per-reason gate "
                "violation counts (NULL ts/user, NaN value, unknown "
                "type, negative value) plus the quarantined-vs-clean "
                "headline — one scan, one aggregate, exact integers",
    tags=("events", "quality", "agg"),
)
def q_events_dq_quarantine(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    aggs = [
        F.expr(f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT)")
        .alias(f"__{name}")
        for name, cond in _DQQ_REASONS
    ]
    aggs.append(F.expr(
        f"CAST(COUNT(CASE WHEN {_DQQ_ANY} THEN 1 END) AS BIGINT)")
        .alias("__quar"))
    aggs.append(F.expr(
        f"CAST(COUNT(CASE WHEN NOT ({_DQQ_ANY}) THEN 1 END)"
        f" AS BIGINT)").alias("__clean"))
    g = ev.agg(*aggs)
    stack = ", ".join(
        [f"'{name}', __{name}" for name, _c in _DQQ_REASONS]
        + ["'__quarantined', __quar", "'__clean', __clean"])
    return g.selectExpr(
        f"stack({len(_DQQ_REASONS) + 2}, {stack})"
        " AS (reason, n_rows)")


# ----------------------------------------------------------------------
# SLO error-budget report — the SRE rollup run over event streams:
# per day, total events, error events, the error rate against a 1%
# SLO, the fraction of that day's budget consumed, and the breach
# flag. Exact integer counts and one division per row — a single
# hash agg on the integer day bucket.
# ----------------------------------------------------------------------

_SLO_TARGET = "1e-2"

_SLO_ORACLE = f"""
SELECT ({_US_DUCK} // {_DAY_US}) AS day,
  COUNT(*) AS n_events,
  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
    AS n_errors,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END)
    / CAST(COUNT(*) AS DOUBLE) AS error_rate,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END)
    / CAST(COUNT(*) AS DOUBLE) / {_SLO_TARGET} AS budget_consumed,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END)
    / CAST(COUNT(*) AS DOUBLE) > {_SLO_TARGET} AS slo_breach
FROM events WHERE ts IS NOT NULL
GROUP BY 1
"""


@spec(
    "events_slo_error_budget",
    _SLO_ORACLE,
    description="SLO error-budget report: per-day error rate vs a "
                "1% target, budget-consumed fraction and breach "
                "flag — one hash agg on the integer day bucket, "
                "exact counts and one division per row",
    tags=("events", "quality", "agg"),
)
def q_events_slo_error_budget(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    err = "COUNT(CASE WHEN event_type = 'error' THEN 1 END)"
    return (ev.groupBy(F.expr(f"({_US_SPARK}) DIV {_DAY_US}")
                       .alias("day"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.expr(f"CAST({err} AS BIGINT)").alias("n_errors"),
                 F.expr(f"{err} / CAST(COUNT(*) AS DOUBLE)")
                 .alias("error_rate"),
                 F.expr(f"{err} / CAST(COUNT(*) AS DOUBLE)"
                        f" / {_SLO_TARGET}").alias("budget_consumed"),
                 F.expr(f"{err} / CAST(COUNT(*) AS DOUBLE)"
                        f" > {_SLO_TARGET}").alias("slo_breach")))


# ----------------------------------------------------------------------
# Bradley-Terry preference-model fit (RLHF data curation): which
# event types "win" head-to-head per user (larger exact DECIMAL
# value sum), then a full-batch BT gradient ascent on the pairwise
# win matrix. The corpus-scale work is ONE (user, type) hash agg +
# a user-keyed pair join whose group size is bounded by the type
# count; each training round is one grouped exact-DECIMAL agg over
# the <= T^2-row matrix with the QTRUNC'd sigmoid as the only libm
# call — scores value-exact vs the chained-CTE replay of every
# round. See pipeline/preference.py for the scale argument.
# ----------------------------------------------------------------------

_BT_GUARDED_V = ("SUM(CAST(CASE WHEN isnan(value) THEN NULL"
                 " ELSE value END AS DECIMAL(38,6)))")


def _bt_fit_parts() -> list:
    """The BT fit as a chained-CTE list up to the final score table
    ``s{BT_ROUNDS}`` — shared verbatim by the fit report
    (events_bradley_terry) and the DPO pair-curation oracle."""
    from xsarsea_spark.pipeline.preference import (BT_LR, BT_QK,
                                                   BT_ROUNDS,
                                                   BT_SCALE)
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    parts = [
        f"uv AS MATERIALIZED (SELECT user_id, event_type,"
        f" {_BT_GUARDED_V} AS v FROM events GROUP BY 1, 2)",
        "pm AS MATERIALIZED (SELECT a.event_type AS arm_a,"
        " b.event_type AS arm_b,"
        " CAST(SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)"
        " AS BIGINT) AS wins_a,"
        " CAST(SUM(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_matches"
        " FROM uv a JOIN uv b ON a.user_id = b.user_id"
        " AND a.event_type < b.event_type GROUP BY 1, 2"
        " HAVING CAST(SUM(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END)"
        " AS BIGINT) > 0)",
        "tot AS (SELECT CAST(SUM(n_matches) AS DOUBLE) AS t FROM pm)",
        "s0 AS (SELECT arm, CAST(0.0 AS DOUBLE) AS s FROM"
        " (SELECT arm_a AS arm FROM pm"
        " UNION SELECT arm_b FROM pm) u)",
    ]
    for r in range(BT_ROUNDS):
        p = QTRUNC(
            "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
            " + exp(-((sa2.s) - (sb2.s))))", BT_QK)
        qc = QTRUNC(
            f"CAST(wins_a AS DOUBLE) - CAST(n_matches AS DOUBLE)"
            f" * ({p})", BT_SCALE)
        parts.append(
            f"j{r} AS MATERIALIZED (SELECT pm.arm_a, pm.arm_b,"
            f" {qc} AS qc FROM pm"
            f" JOIN s{r} sa2 ON sa2.arm = pm.arm_a"
            f" JOIN s{r} sb2 ON sb2.arm = pm.arm_b)")
        parts.append(
            f"c{r} AS (SELECT arm_a AS arm, qc FROM j{r}"
            f" UNION ALL SELECT arm_b AS arm, -qc FROM j{r})")
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT arm,"
            f" {DSUM('qc', BT_SCALE)} AS sg"
            f" FROM c{r} GROUP BY arm)")
        parts.append(
            f"s{r + 1} AS MATERIALIZED (SELECT s.arm,"
            f" s.s + CAST({BT_LR!r} AS DOUBLE) * (g.sg / tot.t) AS s"
            f" FROM s{r} s JOIN g{r} g ON g.arm = s.arm, tot)")
    return parts


def _bt_oracle() -> str:
    from xsarsea_spark.pipeline.preference import BT_ROUNDS

    parts = _bt_fit_parts()
    parts.append(
        "wt AS (SELECT arm, CAST(SUM(w) AS BIGINT) AS wins,"
        " CAST(SUM(n) AS BIGINT) AS n_matches FROM"
        " (SELECT arm_a AS arm, wins_a AS w, n_matches AS n FROM pm"
        " UNION ALL SELECT arm_b AS arm, n_matches - wins_a,"
        " n_matches FROM pm) u GROUP BY arm)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT wt.arm AS event_type, wt.wins,
  wt.n_matches - wt.wins AS losses, wt.n_matches,
  sf.s AS bt_score
FROM wt JOIN s{BT_ROUNDS} sf ON sf.arm = wt.arm""")


@spec(
    "events_bradley_terry",
    _bt_oracle(),
    description="Bradley-Terry preference fit over head-to-head "
                "event-type matches per user: exact DECIMAL value "
                "sums decide winners, then full-batch BT gradient "
                "ascent (QTRUNC sigmoid barrier, on-grid residuals, "
                "exact DECIMAL gradient sums) — per-type scores "
                "value-exact vs a chained-CTE replay of every round",
    tags=("events", "stats", "pipeline", "iterative"),
)
def q_events_bradley_terry(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize
    from xsarsea_spark.pipeline.preference import (
        preference_matrix, train_bradley_terry)

    ev = load(spark, sf_dir, "events")
    pm = materialize(preference_matrix(ev))
    scores = train_bradley_terry(pm)
    arms = sorted(scores)
    score_case = "CASE arm " + " ".join(
        f"WHEN '{a}' THEN CAST({scores[a]!r} AS DOUBLE)"
        for a in arms) + " END"
    wa = pm.selectExpr("arm_a AS arm", "wins_a AS w",
                       "n_matches AS n")
    wb = pm.selectExpr("arm_b AS arm", "n_matches - wins_a AS w",
                       "n_matches AS n")
    return (wa.unionAll(wb).groupBy("arm")
            .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("wins"),
                 F.expr("CAST(SUM(n) AS BIGINT)").alias("n_matches"))
            .selectExpr("arm AS event_type", "wins",
                        "n_matches - wins AS losses", "n_matches",
                        f"{score_case} AS bt_score"))


# ----------------------------------------------------------------------
# DPO/RLHF preference-pair curation on top of the Bradley-Terry fit:
# per-actor head-to-head outcomes become (chosen, rejected) training
# pairs, kept only when the actor's local verdict AGREES with the
# global BT ordering by at least a margin (noisy / contradictory
# pairs are what DPO curation drops), capped per actor (no single
# heavy actor dominates the pair set), then deduped into per-pair
# counts. The corpus appears in ONE (actor, arm) hash agg; the pair
# join is actor-keyed with group size bounded by the arm count; the
# per-actor cap is a group-limited rank window (WindowGroupLimit);
# BT scores ride the same value-exact chained-CTE replay as
# events_bradley_terry (shared _bt_fit_parts).
# ----------------------------------------------------------------------

_DPO_MARGIN = 0.05   # min BT-score margin for a curated pair
_DPO_CAP = 2         # max pairs kept per actor


def _dpo_oracle() -> str:
    from xsarsea_spark.pipeline.preference import BT_ROUNDS

    parts = _bt_fit_parts()
    parts += [
        "up AS (SELECT a.user_id,"
        " CASE WHEN a.v > b.v THEN a.event_type"
        " ELSE b.event_type END AS chosen,"
        " CASE WHEN a.v > b.v THEN b.event_type"
        " ELSE a.event_type END AS rejected"
        " FROM uv a JOIN uv b ON a.user_id = b.user_id"
        " AND a.event_type < b.event_type WHERE a.v <> b.v)",
        f"mg AS (SELECT up.user_id, up.chosen, up.rejected,"
        f" sc.s - sr.s AS bt_margin FROM up"
        f" JOIN s{BT_ROUNDS} sc ON sc.arm = up.chosen"
        f" JOIN s{BT_ROUNDS} sr ON sr.arm = up.rejected"
        f" WHERE sc.s - sr.s >= CAST({_DPO_MARGIN!r} AS DOUBLE))",
        "cap AS (SELECT user_id, chosen, rejected, bt_margin,"
        " ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY"
        " bt_margin DESC, chosen, rejected) AS rn FROM mg)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT chosen, rejected, MIN(bt_margin) AS bt_margin,
  CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM cap WHERE rn <= {_DPO_CAP} GROUP BY chosen, rejected""")


@spec(
    "events_dpo_pairs",
    _dpo_oracle(),
    description="DPO preference-pair curation over the Bradley-"
                "Terry fit: per-actor head-to-head (chosen, "
                "rejected) pairs kept when the actor agrees with "
                "the global BT ordering by >= the margin, capped "
                "per actor via a group-limited rank window, deduped "
                "to per-pair counts — margins value-exact vs the "
                "shared chained-CTE BT replay",
    tags=("events", "stats", "pipeline", "iterative"),
)
def q_events_dpo_pairs(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.engine import materialize
    from xsarsea_spark.pipeline.preference import (
        _score_case, preference_matrix, train_bradley_terry)

    ev = load(spark, sf_dir, "events")
    pm = materialize(preference_matrix(ev))
    scores = train_bradley_terry(pm)
    uv = (ev.groupBy("user_id", "event_type")
          .agg(F.expr(_BT_GUARDED_V).alias("v")))
    a = uv.selectExpr("user_id", "event_type AS arm_a",
                      "v AS __va")
    b = uv.selectExpr("user_id", "event_type AS arm_b",
                      "v AS __vb")
    up = (a.join(b, on="user_id")
          .filter("arm_a < arm_b AND __va <> __vb")
          .selectExpr(
              "user_id",
              "CASE WHEN __va > __vb THEN arm_a ELSE arm_b END"
              " AS chosen",
              "CASE WHEN __va > __vb THEN arm_b ELSE arm_a END"
              " AS rejected"))
    margin = (f"({_score_case(scores, 'chosen')})"
              f" - ({_score_case(scores, 'rejected')})")
    mg = (up.selectExpr("user_id", "chosen", "rejected",
                        f"{margin} AS bt_margin")
          .filter(f"bt_margin >= CAST({_DPO_MARGIN!r} AS DOUBLE)"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("bt_margin"), F.asc("chosen"), F.asc("rejected"))
    capped = (mg.withColumn("rn", F.row_number().over(w))
              .filter(f"rn <= {_DPO_CAP}"))
    return (capped.groupBy("chosen", "rejected")
            .agg(F.expr("MIN(bt_margin)").alias("bt_margin"),
                 F.expr("CAST(COUNT(*) AS BIGINT)")
                 .alias("n_pairs")))


# ----------------------------------------------------------------------
# Sequential rating-period Elo (the Glicko-style batch regime):
# ratings frozen within an event-time week, updated once per period
# from that period's head-to-head matches — the time-respecting
# counterpart of events_bradley_terry. Period count is FIXED (the
# last week absorbs the tail), so the oracle's sequential replay
# depth is data-independent. Only libm call is the 10^x in the
# expected-score formula, QTRUNC'd; updates ride on-grid residuals
# and exact DECIMAL sums — final ratings value-exact cross-engine.
# ----------------------------------------------------------------------


def _elo_oracle(periods: int | None = None) -> str:
    from xsarsea_spark.pipeline.preference import (BT_QK, BT_SCALE,
                                                   ELO_INIT, ELO_K,
                                                   ELO_PERIODS)
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    if periods is None:
        periods = ELO_PERIODS
    parts = [
        f"uvp AS MATERIALIZED (SELECT"
        f" LEAST(({_US_DUCK} // 86400000000 - md.d) // 7,"
        f" {periods - 1}) AS p, user_id, event_type,"
        f" {_BT_GUARDED_V} AS v"
        f" FROM events, (SELECT MIN({_US_DUCK} // 86400000000) AS d"
        f" FROM events WHERE ts IS NOT NULL) md"
        f" WHERE ts IS NOT NULL GROUP BY 1, 2, 3)",
        "pm AS MATERIALIZED (SELECT a.p, a.event_type AS arm_a,"
        " b.event_type AS arm_b,"
        " CAST(SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)"
        " AS BIGINT) AS wins_a,"
        " CAST(SUM(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_matches"
        " FROM uvp a JOIN uvp b ON a.p = b.p"
        " AND a.user_id = b.user_id"
        " AND a.event_type < b.event_type GROUP BY 1, 2, 3"
        " HAVING CAST(SUM(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END)"
        " AS BIGINT) > 0)",
        f"r0 AS (SELECT arm, CAST({ELO_INIT!r} AS DOUBLE) AS s FROM"
        f" (SELECT arm_a AS arm FROM pm"
        f" UNION SELECT arm_b FROM pm) u)",
    ]
    for p in range(periods):
        e = QTRUNC(
            "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
            " + pow(CAST(10.0 AS DOUBLE),"
            " ((rb2.s) - (ra2.s)) / CAST(400.0 AS DOUBLE)))", BT_QK)
        qc = QTRUNC(
            f"CAST(wins_a AS DOUBLE) - CAST(n_matches AS DOUBLE)"
            f" * ({e})", BT_SCALE)
        parts.append(
            f"j{p} AS MATERIALIZED (SELECT pm.arm_a, pm.arm_b,"
            f" {qc} AS qc FROM pm"
            f" JOIN r{p} ra2 ON ra2.arm = pm.arm_a"
            f" JOIN r{p} rb2 ON rb2.arm = pm.arm_b"
            f" WHERE pm.p = {p})")
        parts.append(
            f"c{p} AS (SELECT arm_a AS arm, qc FROM j{p}"
            f" UNION ALL SELECT arm_b AS arm, -qc FROM j{p})")
        parts.append(
            f"g{p} AS MATERIALIZED (SELECT arm,"
            f" {DSUM('qc', BT_SCALE)} AS d FROM c{p} GROUP BY arm)")
        parts.append(
            f"r{p + 1} AS MATERIALIZED (SELECT r.arm,"
            f" r.s + CAST({ELO_K!r} AS DOUBLE)"
            f" * COALESCE(g.d, CAST(0.0 AS DOUBLE)) AS s"
            f" FROM r{p} r LEFT JOIN g{p} g ON g.arm = r.arm)")
    parts.append(
        "wt AS (SELECT arm, CAST(SUM(w) AS BIGINT) AS wins,"
        " CAST(SUM(n) AS BIGINT) AS n_matches FROM"
        " (SELECT arm_a AS arm, wins_a AS w, n_matches AS n FROM pm"
        " UNION ALL SELECT arm_b AS arm, n_matches - wins_a,"
        " n_matches FROM pm) u GROUP BY arm)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT wt.arm AS event_type, wt.wins,
  wt.n_matches - wt.wins AS losses, wt.n_matches,
  rf.s AS elo
FROM wt JOIN r{periods} rf ON rf.arm = wt.arm""")


@spec(
    "events_elo_periods",
    _elo_oracle(),
    description="Sequential rating-period Elo over weekly "
                "head-to-head event-type matches: ratings frozen "
                "within each week, one exact-DECIMAL grouped update "
                "per period (QTRUNC'd 10^x expected score) — final "
                "ratings value-exact vs the chained-CTE sequential "
                "replay",
    tags=("events", "stats", "pipeline", "iterative"),
)
def q_events_elo_periods(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize
    from xsarsea_spark.pipeline.preference import (
        elo_periods, period_preference_matrix)

    ev = load(spark, sf_dir, "events")
    pm = materialize(period_preference_matrix(ev))
    ratings = elo_periods(pm)
    arms = sorted(ratings)
    rating_case = "CASE arm " + " ".join(
        f"WHEN '{a}' THEN CAST({ratings[a]!r} AS DOUBLE)"
        for a in arms) + " END"
    wa = pm.selectExpr("arm_a AS arm", "wins_a AS w",
                       "n_matches AS n")
    wb = pm.selectExpr("arm_b AS arm", "n_matches - wins_a AS w",
                       "n_matches AS n")
    return (wa.unionAll(wb).groupBy("arm")
            .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("wins"),
                 F.expr("CAST(SUM(n) AS BIGINT)").alias("n_matches"))
            .selectExpr("arm AS event_type", "wins",
                        "n_matches - wins AS losses", "n_matches",
                        f"{rating_case} AS elo"))


# ----------------------------------------------------------------------
# k-anonymity privacy gate (Sweeney 2002) — the pre-release check a
# training-data pipeline runs before shipping event-derived data:
# each row's quasi-identifier tuple (event_type, day, prop bucket)
# must be shared by >= K rows; rows failing generalize the QI
# ladder day -> week -> whole-range and are suppressed if every
# level fails. Three hash aggs + three hash joins back on the QI
# keys — all integers, one division per output row.
# ----------------------------------------------------------------------

_KA_K = 25
# NULLIF guards the no-digit case: Spark's ANSI CAST('' AS BIGINT)
# throws (and DuckDB's errors too); rows without a numeric prop are
# excluded from the gate identically in both engines.
_KA_PK_DUCK = ("CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1),"
               " '') AS BIGINT) // 10")
_KA_PK_SPARK = ("CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1),"
                " '') AS BIGINT) DIV 10")

_KANON_ORACLE = f"""
WITH b AS (
  SELECT event_id, event_type,
    {_US_DUCK} // 86400000000 AS day,
    ({_US_DUCK} // 86400000000) // 7 AS week,
    {_KA_PK_DUCK} AS pk
  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL
    AND NULLIF(regexp_extract(props, '([0-9]+)', 1), '')
      IS NOT NULL),
g0 AS (SELECT event_type, day, pk, COUNT(*) AS c0
       FROM b GROUP BY 1, 2, 3),
g1 AS (SELECT event_type, week, pk, COUNT(*) AS c1
       FROM b GROUP BY 1, 2, 3),
g2 AS (SELECT event_type, pk, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
lv AS (SELECT b.event_type,
         CASE WHEN g0.c0 >= {_KA_K} THEN 0
              WHEN g1.c1 >= {_KA_K} THEN 1
              WHEN g2.c2 >= {_KA_K} THEN 2
              ELSE 3 END AS lvl
       FROM b
       JOIN g0 ON g0.event_type = b.event_type
         AND g0.day = b.day AND g0.pk = b.pk
       JOIN g1 ON g1.event_type = b.event_type
         AND g1.week = b.week AND g1.pk = b.pk
       JOIN g2 ON g2.event_type = b.event_type AND g2.pk = b.pk)
SELECT event_type,
  COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_day_anon,
  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_week_anon,
  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_range_anon,
  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_suppressed,
  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS suppression_rate
FROM lv GROUP BY event_type
"""


@spec(
    "events_k_anonymity",
    _KANON_ORACLE,
    description="k-anonymity privacy gate: per-row quasi-identifier "
                "group sizes along the generalization ladder "
                "(day -> week -> whole range), suppression of rows "
                "failing every level — three hash aggs + joins back "
                "on the QI keys, exact integer counts",
    tags=("events", "quality", "privacy"),
)
def q_events_k_anonymity(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = (ev.filter("ts IS NOT NULL AND props IS NOT NULL AND"
                   " NULLIF(regexp_extract(props, '([0-9]+)', 1),"
                   " '') IS NOT NULL")
         .selectExpr("event_id", "event_type",
                     f"({_US_SPARK}) DIV 86400000000 AS day",
                     f"(({_US_SPARK}) DIV 86400000000) DIV 7"
                     " AS week",
                     f"{_KA_PK_SPARK} AS pk"))
    g0 = b.groupBy("event_type", "day", "pk").agg(
        F.count(F.lit(1)).alias("c0"))
    g1 = b.groupBy("event_type", "week", "pk").agg(
        F.count(F.lit(1)).alias("c1"))
    g2 = b.groupBy("event_type", "pk").agg(
        F.count(F.lit(1)).alias("c2"))
    lv = (b.join(g0, on=["event_type", "day", "pk"])
          .join(g1, on=["event_type", "week", "pk"])
          .join(g2, on=["event_type", "pk"])
          .selectExpr("event_type",
                      f"CASE WHEN c0 >= {_KA_K} THEN 0"
                      f" WHEN c1 >= {_KA_K} THEN 1"
                      f" WHEN c2 >= {_KA_K} THEN 2"
                      f" ELSE 3 END AS lvl"))
    agg = [F.count(F.lit(1)).alias("n_rows")]
    for lvl, nm in ((0, "n_day_anon"), (1, "n_week_anon"),
                    (2, "n_range_anon"), (3, "n_suppressed")):
        agg.append(F.expr(
            f"CAST(SUM(CASE WHEN lvl = {lvl} THEN 1 ELSE 0 END)"
            f" AS BIGINT)").alias(nm))
    agg.append(F.expr(
        "CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE)").alias("suppression_rate"))
    return lv.groupBy("event_type").agg(*agg)


# ----------------------------------------------------------------------
# STREAMING Elo ingest — continual preference-rating training as
# rating periods arrive: each file arrival becomes one foreachBatch
# micro-batch that applies ONE Elo period update (elo_step: a
# grouped exact-DECIMAL agg over the batch's match matrix) from the
# latest persisted rating version STRICTLY BELOW its batch id, then
# persists v{batch_id} — crash-replay of batch N rebuilds v{N} from
# v{N-1} + its own rows, never compounding (the
# stream_classifier_train versioned-state contract). A final
# no-new-files run proves the exactly-once no-op. Because the
# arrival slices ARE the event-time periods in order, the final
# ratings equal the batch events_elo_periods fit — the SAME oracle
# grades both.
# ----------------------------------------------------------------------


_ELO_STREAM_PERIODS = 3


@spec(
    "stream_elo_train",
    _elo_oracle(_ELO_STREAM_PERIODS),
    description="Structured-Streaming Elo ingest: one rating-period "
                "update per file-arrival micro-batch, versioned "
                "rating state rebuilt from strictly-below versions "
                "(crash-replay safe), no-op on replay — final "
                "ratings value-exact vs the batch periodized fit's "
                "chained-CTE sequential replay",
    tags=("events", "stats", "pipeline", "streaming", "iterative",
          "incremental"),
)
def q_stream_elo_train(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.engine import (load_kv_json, save_kv_json,
                                      scratch_path)
    from xsarsea_spark.pipeline.preference import (
        elo_step, period_preference_matrix)

    base = scratch_path(spark, "stream_elo", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    watch = os.path.join(base, "incoming")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(watch)

    ev = load(spark, sf_dir, "events")
    # the full periodized match matrix once; arrival slice p = the
    # period-p matches (delivered in event-time order)
    pm = materialize(period_preference_matrix(
        ev, periods=_ELO_STREAM_PERIODS))
    for p in range(_ELO_STREAM_PERIODS):
        (pm.filter(F.col("p") == p).repartition(1)
         .write.parquet(os.path.join(base, f"arrival_{p}")))
    schema = pm.schema

    def step(df, batch_id: int) -> None:
        prev = version_below(spark, state, batch_id)
        ratings = dict(load_kv_json(spark, prev)) if prev else {}
        r2 = elo_step(df, ratings)
        save_kv_json(spark, sorted(r2.items()),
                     os.path.join(state, f"v{batch_id}"))

    src = spark.readStream.schema(schema).parquet(watch)
    for p in range(_ELO_STREAM_PERIODS):
        stage_arrival(os.path.join(base, f"arrival_{p}"), watch, f"a{p}")
        run_available_now(src, step, ckpt)
    run_available_now(src, step, ckpt)   # no new files: no-op

    ratings = dict(load_kv_json(spark, latest_version(
        spark, state, expect=_ELO_STREAM_PERIODS)))
    arms = sorted(ratings)
    rating_case = "CASE arm " + " ".join(
        f"WHEN '{a}' THEN CAST({ratings[a]!r} AS DOUBLE)"
        for a in arms) + " END"
    wa = pm.selectExpr("arm_a AS arm", "wins_a AS w",
                       "n_matches AS n")
    wb = pm.selectExpr("arm_b AS arm", "n_matches - wins_a AS w",
                       "n_matches AS n")
    return (wa.unionAll(wb).groupBy("arm")
            .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("wins"),
                 F.expr("CAST(SUM(n) AS BIGINT)").alias("n_matches"))
            .selectExpr("arm AS event_type", "wins",
                        "n_matches - wins AS losses", "n_matches",
                        f"{rating_case} AS elo"))


# ----------------------------------------------------------------------
# l-diversity (Machanavajjhala 2007) — k-anonymity's companion gate:
# a quasi-identifier group is safe only if its SENSITIVE attribute
# (here user_id) takes at least L distinct values, otherwise group
# membership leaks the sensitive value even when the group is
# k-anonymous. One grouped distinct-count over the QI keys + a
# per-type rollup — all integers, one division per output row.
# ----------------------------------------------------------------------

_LDIV_L = 5

_LDIV_ORACLE = f"""
WITH b AS (
  SELECT event_type, user_id,
    ({_US_DUCK} // 86400000000) // 7 AS week,
    {_KA_PK_DUCK} AS pk
  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL
    AND NULLIF(regexp_extract(props, '([0-9]+)', 1), '')
      IS NOT NULL),
g AS (SELECT event_type, week, pk,
        COUNT(*) AS n, COUNT(DISTINCT user_id) AS l
      FROM b GROUP BY 1, 2, 3)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(CASE WHEN l >= {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_diverse_groups,
  CAST(SUM(n) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN l >= {_LDIV_L} THEN n ELSE 0 END) AS BIGINT)
    AS n_rows_diverse,
  CAST(MIN(l) AS BIGINT) AS min_l,
  CAST(SUM(CASE WHEN l >= {_LDIV_L} THEN n ELSE 0 END) AS DOUBLE)
    / CAST(SUM(n) AS DOUBLE) AS retention_rate
FROM g GROUP BY event_type
"""


@spec(
    "events_l_diversity",
    _LDIV_ORACLE,
    description="l-diversity privacy gate over the week-level "
                "quasi-identifier groups: distinct sensitive values "
                "(user_id) per group vs the L threshold, retained "
                "row fraction per event type — one grouped "
                "distinct-count + a per-type rollup, exact integers",
    tags=("events", "quality", "privacy"),
)
def q_events_l_diversity(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = (ev.filter("ts IS NOT NULL AND props IS NOT NULL AND"
                   " NULLIF(regexp_extract(props, '([0-9]+)', 1),"
                   " '') IS NOT NULL")
         .selectExpr("event_type", "user_id",
                     f"(({_US_SPARK}) DIV 86400000000) DIV 7"
                     " AS week",
                     f"{_KA_PK_SPARK} AS pk"))
    g = (b.groupBy("event_type", "week", "pk")
         .agg(F.count(F.lit(1)).alias("n"),
              F.countDistinct("user_id").alias("l")))
    return (g.groupBy("event_type")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)")
                 .alias("n_groups"),
                 F.expr(f"CAST(SUM(CASE WHEN l >= {_LDIV_L} THEN 1"
                        f" ELSE 0 END) AS BIGINT)")
                 .alias("n_diverse_groups"),
                 F.expr("CAST(SUM(n) AS BIGINT)").alias("n_rows"),
                 F.expr(f"CAST(SUM(CASE WHEN l >= {_LDIV_L} THEN n"
                        f" ELSE 0 END) AS BIGINT)")
                 .alias("n_rows_diverse"),
                 F.expr("CAST(MIN(l) AS BIGINT)").alias("min_l"),
                 F.expr(f"CAST(SUM(CASE WHEN l >= {_LDIV_L} THEN n"
                        f" ELSE 0 END) AS DOUBLE)"
                        f" / CAST(SUM(n) AS DOUBLE)")
                 .alias("retention_rate")))


# ----------------------------------------------------------------------
# Theil-Sen robust trend (Sen 1968) — the outlier-resistant slope a
# metrics pipeline prefers over OLS when single days spike: the
# LOWER MEDIAN of all pairwise slopes between per-day means, and the
# matching intercept median. The pair frame is bounded by the SQUARE
# OF THE DAY SPAN (a property of the time range, not the corpus), so
# the rank window over it is bounded at any data scale; the
# corpus-scale work is one per-day exact-DECIMAL mean. The lower
# median (element at rank (n+1)/2 under (value, tie-key) order) is
# chosen over the interpolating median so both engines pick the
# IDENTICAL element — no midpoint arithmetic.
# ----------------------------------------------------------------------

_TS_ORACLE = f"""
WITH daily AS (
  SELECT {_US_DUCK} // 86400000000 AS day, {DAVG('value')} AS m
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
pr AS (
  SELECT a.day AS d1, b.day AS d2,
    (b.m - a.m) / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.day > a.day),
ns AS (SELECT COUNT(*) AS n FROM pr),
sl AS (SELECT slope FROM (
    SELECT slope, ROW_NUMBER() OVER
      (ORDER BY slope, d1, d2) AS rk FROM pr), ns
  WHERE rk = (ns.n + 1) // 2),
ic AS (SELECT icpt FROM (
    SELECT daily.m - sl.slope * CAST(daily.day AS DOUBLE) AS icpt,
      daily.day,
      ROW_NUMBER() OVER (ORDER BY daily.m - sl.slope
        * CAST(daily.day AS DOUBLE), daily.day) AS rk
    FROM daily, sl),
    (SELECT COUNT(*) AS nd FROM daily) c
  WHERE rk = (c.nd + 1) // 2)
SELECT sl.slope AS ts_slope, ic.icpt AS ts_intercept,
  CAST(c.nd AS BIGINT) AS n_days, CAST(ns.n AS BIGINT) AS n_pairs
FROM sl, ic, ns, (SELECT COUNT(*) AS nd FROM daily) c
"""


@spec(
    "events_theil_sen",
    _TS_ORACLE,
    description="Theil-Sen robust trend of daily mean value: lower "
                "median of all pairwise slopes (pair frame bounded "
                "by the day-span square, never the corpus) + the "
                "matching intercept median — exact-DECIMAL daily "
                "means, identical element selection in both engines",
    tags=("events", "stats"),
)
def q_events_theil_sen(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    daily = (ev.groupBy(F.expr(f"({_US_SPARK}) DIV 86400000000")
                        .alias("day"))
             .agg(F.expr(DAVG("value")).alias("m")))
    a = daily.selectExpr("day AS d1", "m AS m1")
    b = daily.selectExpr("day AS d2", "m AS m2")
    # the daily frame is bounded by the day span (a time-range
    # property, not data volume) — broadcasting it keeps the
    # inequality pair join a BroadcastNestedLoopJoin, never a
    # cartesian of distributed partitions
    pr = (a.join(F.broadcast(b), F.col("d2") > F.col("d1"))
          .selectExpr("d1", "d2",
                      "(m2 - m1) / CAST(d2 - d1 AS DOUBLE)"
                      " AS slope"))
    ns = pr.agg(F.count(F.lit(1)).alias("n"))
    wsl = Window.orderBy("slope", "d1", "d2")
    sl = (pr.withColumn("rk", F.row_number().over(wsl))
          .crossJoin(F.broadcast(ns))
          .filter("rk = (n + 1) DIV 2")
          .selectExpr("slope", "CAST(n AS BIGINT) AS n_pairs"))
    ic_base = (daily.crossJoin(F.broadcast(sl))
               .selectExpr("m - slope * CAST(day AS DOUBLE)"
                           " AS icpt", "day", "slope", "n_pairs"))
    nd = daily.agg(F.count(F.lit(1)).alias("nd"))
    wic = Window.orderBy("icpt", "day")
    return (ic_base.withColumn("rk", F.row_number().over(wic))
            .crossJoin(F.broadcast(nd))
            .filter("rk = (nd + 1) DIV 2")
            .selectExpr("slope AS ts_slope", "icpt AS ts_intercept",
                        "CAST(nd AS BIGINT) AS n_days", "n_pairs"))


# ----------------------------------------------------------------------
# Mann-Kendall trend test (Mann 1945, Kendall 1975) — the
# nonparametric significance companion to events_theil_sen's slope:
# S = sum of pairwise signs over the per-day exact-DECIMAL means,
# tie-corrected variance, the standard continuity-corrected z. The
# pair frame is bounded by the day-span square (a time-range
# property); the corpus appears in ONE per-day mean hash agg. All
# inputs to the final z are exact integers or identically-derived
# doubles (sqrt is IEEE-exact), so no quantization barrier is
# needed anywhere.
# ----------------------------------------------------------------------

_MK_Z95 = 1.959963984540054


def _mk_oracle() -> str:
    return f"""
WITH daily AS (
  SELECT {_US_DUCK} // 86400000000 AS day, {DAVG('value')} AS m
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
sgn AS (SELECT CAST(SUM(CASE WHEN b.m > a.m THEN 1
                 WHEN b.m < a.m THEN -1 ELSE 0 END) AS BIGINT) AS s
        FROM daily a JOIN daily b ON b.day > a.day),
tg AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily
       GROUP BY m HAVING COUNT(*) > 1),
tc AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
         AS BIGINT) AS corr,
         CAST(COUNT(*) AS BIGINT) AS n_tie_groups FROM tg),
vr AS (SELECT CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5) - tc.corr
         AS DOUBLE) / CAST(18 AS DOUBLE) AS var_s,
         tc.n_tie_groups FROM nd, tc),
zs AS (SELECT CASE
         WHEN sgn.s > 0 THEN CAST(sgn.s - 1 AS DOUBLE) / sqrt(vr.var_s)
         WHEN sgn.s < 0 THEN CAST(sgn.s + 1 AS DOUBLE) / sqrt(vr.var_s)
         ELSE CAST(0.0 AS DOUBLE) END AS z
       FROM sgn, vr)
SELECT nd.n AS n_days, sgn.s AS s_stat, vr.n_tie_groups,
  vr.var_s, zs.z AS z_score,
  CASE WHEN zs.z > CAST({_MK_Z95!r} AS DOUBLE) THEN 'increasing'
       WHEN zs.z < -CAST({_MK_Z95!r} AS DOUBLE) THEN 'decreasing'
       ELSE 'no_trend' END AS trend
FROM nd, sgn, vr, zs"""


@spec(
    "events_mann_kendall",
    _mk_oracle(),
    description="Mann-Kendall nonparametric trend test on the daily "
                "mean: pairwise-sign S over the bounded daily frame, "
                "tie-corrected variance, continuity-corrected z and "
                "the 95% trend verdict — exact integers and "
                "IEEE-identical arithmetic end to end",
    tags=("events", "stats"),
)
def q_events_mann_kendall(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    daily = (ev.groupBy(F.expr(f"({_US_SPARK}) DIV 86400000000")
                        .alias("day"))
             .agg(F.expr(DAVG("value")).alias("m")))
    nd = daily.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"))
    a = daily.selectExpr("day AS d1", "m AS m1")
    b = daily.selectExpr("day AS d2", "m AS m2")
    sgn = (a.join(F.broadcast(b), F.col("d2") > F.col("d1"))
           .agg(F.expr("CAST(SUM(CASE WHEN m2 > m1 THEN 1"
                       " WHEN m2 < m1 THEN -1 ELSE 0 END)"
                       " AS BIGINT)").alias("s")))
    tc = (daily.groupBy("m")
          .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("t"))
          .filter("t > 1")
          .agg(F.expr("CAST(COALESCE(SUM(t * (t - 1)"
                      " * (2 * t + 5)), 0) AS BIGINT)")
               .alias("corr"),
               F.expr("CAST(COUNT(*) AS BIGINT)")
               .alias("n_tie_groups")))
    return (nd.crossJoin(F.broadcast(sgn))
            .crossJoin(F.broadcast(tc))
            .selectExpr(
                "n", "s", "n_tie_groups",
                "CAST(n * (n - 1) * (2 * n + 5) - corr AS DOUBLE)"
                " / CAST(18 AS DOUBLE) AS var_s")
            .selectExpr(
                "n", "s", "n_tie_groups", "var_s",
                "CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)"
                " / sqrt(var_s)"
                " WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)"
                " / sqrt(var_s)"
                " ELSE CAST(0.0 AS DOUBLE) END AS z")
            .selectExpr(
                "n AS n_days", "s AS s_stat", "n_tie_groups",
                "var_s", "z AS z_score",
                f"CASE WHEN z > CAST({_MK_Z95!r} AS DOUBLE)"
                " THEN 'increasing'"
                f" WHEN z < -CAST({_MK_Z95!r} AS DOUBLE)"
                " THEN 'decreasing'"
                " ELSE 'no_trend' END AS trend"))


# ----------------------------------------------------------------------
# Cramér's V association between event type and day-of-week — the
# contingency-independence check a metrics pipeline runs before
# trusting a per-weekday rollup (is the type mix stable across the
# week?). The weekday key is the epoch-day residue mod 7 (pure
# integer arithmetic, engine-neutral — no calendar functions whose
# week conventions differ). The full R x C expected grid comes from
# a broadcast cross of the two bounded margin frames LEFT-joined to
# the observed cells (zero cells contribute their expectation);
# chi-square terms are QTRUNC'd onto the 1e-9 grid before the exact
# DECIMAL sum; V's sqrt is IEEE-exact. ONE corpus-scale hash agg.
# ----------------------------------------------------------------------


def _cv_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    term = QTRUNC("(CAST(COALESCE(o.c, 0) AS DOUBLE) - e.e)"
                  " * (CAST(COALESCE(o.c, 0) AS DOUBLE) - e.e)"
                  " / e.e", 9)
    return f"""
WITH base AS (
  SELECT event_type, ({_US_DUCK} // 86400000000) % 7 AS dow
  FROM events WHERE ts IS NOT NULL),
obs AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2),
rt AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS r
       FROM obs GROUP BY 1),
ct AS (SELECT dow, CAST(SUM(c) AS BIGINT) AS k FROM obs GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs),
e AS (SELECT rt.event_type, ct.dow,
        CAST(rt.r * ct.k AS DOUBLE) / CAST(tot.n AS DOUBLE) AS e
      FROM rt, ct, tot),
x2 AS (SELECT {DSUM(term, 12)} AS chi2
       FROM e LEFT JOIN obs o
         ON o.event_type = e.event_type AND o.dow = e.dow),
dims AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM rt),
dimc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM ct)
SELECT tot.n AS n_events, dims.nr AS n_types, dimc.nc AS n_dows,
  x2.chi2,
  CAST((dims.nr - 1) * (dimc.nc - 1) AS BIGINT) AS dof,
  sqrt(x2.chi2 / NULLIF(CAST(tot.n AS DOUBLE)
    * CAST(LEAST(dims.nr - 1, dimc.nc - 1) AS DOUBLE),
    CAST(0 AS DOUBLE)))
    AS cramers_v
FROM tot, dims, dimc, x2"""


@spec(
    "events_cramers_v",
    _cv_oracle(),
    description="Cramér's V association between event type and the "
                "epoch-day weekday residue: full expected grid from "
                "broadcast margins (zero cells included), on-grid "
                "chi-square DECIMAL sum, IEEE-exact sqrt — one "
                "corpus hash agg, windowless",
    tags=("events", "stats", "quality"),
)
def q_events_cramers_v(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    obs = (ev.selectExpr("event_type",
                         f"(({_US_SPARK}) DIV 86400000000) % 7"
                         " AS dow")
           .groupBy("event_type", "dow")
           .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("c")))
    rt = obs.groupBy("event_type").agg(
        F.expr("CAST(SUM(c) AS BIGINT)").alias("r"))
    ct = obs.groupBy("dow").agg(
        F.expr("CAST(SUM(c) AS BIGINT)").alias("k"))
    tot = obs.agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("n"))
    e = (rt.crossJoin(F.broadcast(ct))
         .crossJoin(F.broadcast(tot))
         .selectExpr("event_type", "dow",
                     "CAST(r * k AS DOUBLE) / CAST(n AS DOUBLE)"
                     " AS e"))
    term = QTRUNC("(CAST(COALESCE(c, 0) AS DOUBLE) - e)"
                  " * (CAST(COALESCE(c, 0) AS DOUBLE) - e) / e", 9)
    x2 = (e.join(obs, on=["event_type", "dow"], how="left")
          .agg(F.expr(DSUM(term, 12)).alias("chi2")))
    dims = rt.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("nr"))
    dimc = ct.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("nc"))
    return (tot.crossJoin(F.broadcast(dims))
            .crossJoin(F.broadcast(dimc))
            .crossJoin(F.broadcast(x2))
            .selectExpr(
                "n AS n_events", "nr AS n_types", "nc AS n_dows",
                "chi2",
                "CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof",
                # NULLIF guard: a degenerate corpus (single event
                # type or single weekday residue) zeroes the
                # denominator — NULL in both engines, never an
                # engine-specific inf/NaN division convention
                "sqrt(chi2 / NULLIF(CAST(n AS DOUBLE)"
                " * CAST(LEAST(nr - 1, nc - 1) AS DOUBLE),"
                " CAST(0 AS DOUBLE)))"
                " AS cramers_v"))


# ----------------------------------------------------------------------
# CUSUM mean-shift detection (Page 1954) over the daily mean — the
# change-point alarm a metrics pipeline keeps next to the trend
# tests: S_i = max(0, S_{i-1} + x_i - mu). The recurrence has the
# closed form S_i = P_i - min(0, min_{j<=i} P_j) with P the running
# sum of deviations, so it is ONE cumulative sum plus ONE running
# min over the bounded daily frame — no sequential fold anywhere.
# Exactness: daily means are QTRUNC'd onto the 1e-9 grid, the
# global mean is an exact DECIMAL sum + one division, deviations
# are re-QTRUNC'd, and the cumulative machinery runs on
# DECIMAL(38,9) (exact, order-free); the only doubles are the final
# projections. The alarm threshold is 4x the mean absolute
# deviation — data-derived, identically computed in both engines.
# ----------------------------------------------------------------------


def _cusum_oracle() -> str:
    x = QTRUNC("m", 9)
    dev = QTRUNC("x - mu", 9)
    mad_t = QTRUNC("abs(x - mu)", 9)
    return f"""
WITH daily AS (
  SELECT {_US_DUCK} // 86400000000 AS day, {DAVG('value')} AS m
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
dx AS (SELECT day, {x} AS x FROM daily),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mu FROM dx),
dv AS (SELECT day, {dev} AS d,
         {mad_t} AS ad FROM dx, st),
h AS (SELECT CAST(4 AS DOUBLE)
        * (CAST(SUM(CAST(ad AS DECIMAL(38,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE)) AS h FROM dv),
cs AS (SELECT day,
         CAST(SUM(CAST(d AS DECIMAL(38,9))) OVER (ORDER BY day)
           AS DECIMAL(30,9)) AS p
       FROM dv),
cu AS (SELECT day,
         CAST(p - LEAST(MIN(p) OVER (ORDER BY day),
                        CAST(0 AS DECIMAL(30,9))) AS DOUBLE) AS s
       FROM cs),
al AS (SELECT CAST(COUNT(CASE WHEN cu.s > h.h THEN 1 END)
         AS BIGINT) AS n_alarms,
         MAX(cu.s) AS max_cusum,
         MIN(CASE WHEN cu.s > h.h THEN cu.day END)
           AS first_alarm_day
       FROM cu, h)
SELECT st.n AS n_days, st.mu, h.h AS threshold,
  al.max_cusum, al.n_alarms,
  CAST(al.first_alarm_day AS BIGINT) AS first_alarm_day
FROM st, h, al"""


@spec(
    "events_cusum_shift",
    _cusum_oracle(),
    description="CUSUM mean-shift detection on the daily mean via "
                "the closed form (cumulative deviation sum minus "
                "its running min, both exact DECIMAL over the "
                "bounded daily frame): max statistic, alarm count "
                "and first alarm day against a 4x-MAD threshold",
    tags=("events", "stats", "quality"),
)
def q_events_cusum_shift(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    daily = (ev.groupBy(F.expr(f"({_US_SPARK}) DIV 86400000000")
                        .alias("day"))
             .agg(F.expr(DAVG("value")).alias("m")))
    dx = daily.selectExpr("day", QTRUNC("m", 9) + " AS x")
    st = dx.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE)"
               " / CAST(COUNT(*) AS DOUBLE)").alias("mu"))
    dv = (dx.crossJoin(F.broadcast(st))
          .selectExpr("day", QTRUNC("x - mu", 9) + " AS d",
                      QTRUNC("abs(x - mu)", 9) + " AS ad"))
    h = dv.agg(
        F.expr("CAST(4 AS DOUBLE)"
               " * (CAST(SUM(CAST(ad AS DECIMAL(38,9))) AS DOUBLE)"
               " / CAST(COUNT(*) AS DOUBLE))").alias("h"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0)
    # the cumulative sum widens to DECIMAL(38,9); narrow it to
    # (30,9) BEFORE the subtraction — Spark promotes a (38,9)-(38,9)
    # difference to precision 39, which caps at 38 by SHRINKING the
    # scale to 8 (a silent digit loss DuckDB does not mirror)
    cs = dv.withColumn(
        "p", F.sum(F.expr("CAST(d AS DECIMAL(38,9))")).over(w)
        .cast("decimal(30,9)"))
    cu = (cs.withColumn("__rm", F.min("p").over(w))
          .selectExpr(
              "day",
              "CAST(p - LEAST(__rm, CAST(0 AS DECIMAL(30,9)))"
              " AS DOUBLE) AS s"))
    al = (cu.crossJoin(F.broadcast(h))
          .agg(F.expr("CAST(COUNT(CASE WHEN s > h THEN 1 END)"
                      " AS BIGINT)").alias("n_alarms"),
               F.expr("MAX(s)").alias("max_cusum"),
               F.expr("CAST(MIN(CASE WHEN s > h THEN day END)"
                      " AS BIGINT)").alias("first_alarm_day")))
    return (st.crossJoin(F.broadcast(h))
            .crossJoin(F.broadcast(al))
            .selectExpr("n AS n_days", "mu", "h AS threshold",
                        "max_cusum", "n_alarms", "first_alarm_day"))


# ----------------------------------------------------------------------
# Poisson-bootstrap confidence intervals (the one-pass bootstrap of
# Chamandy et al. 2012 — the resampling a metrics platform runs when
# the data cannot be materialized B times): per (row, replicate) a
# DETERMINISTIC Poisson(1) weight from the inverse CDF of an md5
# unit uniform, so both engines draw the identical resample; per
# (type, replicate) weighted exact-DECIMAL means; the CI bounds are
# ORDER-STATISTIC elements of the B replicate means ((value,
# replicate) order — identical element selection, no interpolation).
# One pass: the replicate explode multiplies map-side rows B times
# but partial aggregation collapses them to (type, B) cells before
# any shuffle.
# ----------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) inverse-CDF thresholds scaled to the 2^40 hash space
# (floor(cdf * 2^40) as exact integer literals): P(X<=k) for k=0..5.
_BOOT_THRESH = (404487723187, 808975446375, 1011219307969,
                1078633928500, 1095487583633, 1098858314660)


def _boot_w(h: str) -> str:
    conds = " ".join(
        f"WHEN {h} < {t} THEN {k}"
        for k, t in enumerate(_BOOT_THRESH))
    return f"CASE {conds} ELSE 6 END"


_BOOT_H_DUCK = ("CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)"
                " || ':' || CAST(b AS VARCHAR)), 1, 10) AS BIGINT)")
_BOOT_H_SPARK = ("CAST(conv(substring(md5(concat(CAST(event_id AS"
                 " STRING), ':', CAST(b AS STRING))), 1, 10), 16,"
                 " 10) AS BIGINT)")


def _boot_oracle() -> str:
    w = _boot_w(_BOOT_H_DUCK)
    return f"""
WITH r AS (
  SELECT event_type, value, b, {w} AS w
  FROM events, unnest(range(1, {_BOOT_B} + 1)) AS t(b)
  WHERE value IS NOT NULL AND NOT isnan(value)),
bm AS (
  SELECT event_type, b,
    {DSUM('w * value')} / CAST(SUM(w) AS DOUBLE) AS bmean
  FROM r GROUP BY event_type, b HAVING SUM(w) > 0),
rk AS (
  SELECT event_type, bmean,
    ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY bmean, b) AS lo_rk,
    ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY bmean DESC, b DESC) AS hi_rk
  FROM bm),
full_m AS (
  SELECT event_type, {DAVG('value')} AS mean_value,
    COUNT(value) AS n
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY event_type)
SELECT f.event_type, f.mean_value, CAST(f.n AS BIGINT) AS n,
  CAST({_BOOT_B} AS BIGINT) AS n_replicates,
  lo.bmean AS ci_lo, hi.bmean AS ci_hi
FROM full_m f
JOIN rk lo ON lo.event_type = f.event_type AND lo.lo_rk = 2
JOIN rk hi ON hi.event_type = f.event_type AND hi.hi_rk = 2
"""


@spec(
    "events_bootstrap_ci",
    _boot_oracle(),
    description="One-pass Poisson-bootstrap CI of the per-type mean "
                "value: deterministic md5 inverse-CDF Poisson(1) "
                "weights, 32 replicate exact-DECIMAL weighted means, "
                "order-statistic CI bounds (2nd smallest / 2nd "
                "largest) — identical resamples in both engines",
    tags=("events", "stats", "sketch"),
)
def q_events_bootstrap_ci(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = (load(spark, sf_dir, "events")
          .filter("value IS NOT NULL AND NOT isnan(value)"))
    w = _boot_w(_BOOT_H_SPARK)
    r = ev.selectExpr(
        "event_id", "event_type", "value",
        f"explode(sequence(1, {_BOOT_B})) AS b"
    ).selectExpr("event_type", "value", "b", f"{w} AS w")
    bm = (r.groupBy("event_type", "b")
          .agg(F.expr(f"{DSUM('w * value')} / CAST(SUM(w)"
                      f" AS DOUBLE)").alias("bmean"),
               F.expr("SUM(w)").alias("__sw"))
          .filter("__sw > 0"))
    wlo = Window.partitionBy("event_type").orderBy("bmean", "b")
    whi = Window.partitionBy("event_type").orderBy(
        F.desc("bmean"), F.desc("b"))
    rk = (bm.withColumn("lo_rk", F.row_number().over(wlo))
          .withColumn("hi_rk", F.row_number().over(whi)))
    lo = (rk.filter("lo_rk = 2")
          .selectExpr("event_type", "bmean AS ci_lo"))
    hi = (rk.filter("hi_rk = 2")
          .selectExpr("event_type", "bmean AS ci_hi"))
    full_m = (ev.groupBy("event_type")
              .agg(F.expr(DAVG("value")).alias("mean_value"),
                   F.expr("CAST(COUNT(value) AS BIGINT)")
                   .alias("n")))
    return (full_m.join(lo, on="event_type")
            .join(hi, on="event_type")
            .selectExpr("event_type", "mean_value", "n",
                        f"CAST({_BOOT_B} AS BIGINT)"
                        " AS n_replicates",
                        "ci_lo", "ci_hi"))


# ----------------------------------------------------------------------
# KMV set algebra — the reason a platform keeps KMV sketches around:
# union/intersection/Jaccard estimates BETWEEN sets without
# rescanning either (Beyer et al. 2007). Sides = click vs purchase
# user sets; the union sketch is the k smallest distinct hashes of
# the merged sketches (the defining mergeability), Jaccard = the
# fraction of the union top-k present in BOTH side sketches,
# intersection = Jaccard x union estimate. Deterministic md5 hashes
# make every estimate value-exact cross-engine; the rank windows
# are WindowGroupLimit-rewritten partial top-ks.
# ----------------------------------------------------------------------

_KSA_A, _KSA_B, _KSA_K = "click", "purchase", 64

_KSA_EST = ("CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
            " ELSE {km1} * 1099511627776e0 / {hk} END")


def _ksa_oracle() -> str:
    k = _KSA_K
    h = ("CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)"
         " AS BIGINT)")
    est = lambda n, hk: _KSA_EST.format(n=n, hk=hk, k=k, km1=k - 1)
    return f"""
WITH da AS (SELECT DISTINCT {h} AS h FROM events
            WHERE event_type = '{_KSA_A}'),
db AS (SELECT DISTINCT {h} AS h FROM events
       WHERE event_type = '{_KSA_B}'),
sa AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h)
         AS rk FROM da) WHERE rk <= {k}),
sb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h)
         AS rk FROM db) WHERE rk <= {k}),
su AS (SELECT h, rk FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h)
         AS rk FROM (SELECT h FROM sa UNION SELECT h FROM sb) u)
       WHERE rk <= {k}),
ea AS (SELECT MAX(CASE WHEN rk = {k} THEN h END) AS hk, MAX(rk) AS n
       FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM da)
       WHERE rk <= {k}),
eb AS (SELECT MAX(CASE WHEN rk = {k} THEN h END) AS hk, MAX(rk) AS n
       FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM db)
       WHERE rk <= {k}),
eu AS (SELECT MAX(CASE WHEN rk = {k} THEN h END) AS hk, MAX(rk) AS n
       FROM su),
jc AS (SELECT COUNT(*) AS nboth, (SELECT MAX(rk) FROM su) AS nu
       FROM su JOIN sa USING (h) JOIN sb USING (h)),
tr AS (SELECT
    COUNT(DISTINCT CASE WHEN event_type = '{_KSA_A}'
      THEN user_id END) AS true_a,
    COUNT(DISTINCT CASE WHEN event_type = '{_KSA_B}'
      THEN user_id END) AS true_b,
    COUNT(DISTINCT CASE WHEN event_type IN ('{_KSA_A}',
      '{_KSA_B}') THEN user_id END) AS true_union
  FROM events),
ti AS (SELECT COUNT(*) AS true_intersection FROM (
    SELECT user_id FROM events
    WHERE event_type IN ('{_KSA_A}', '{_KSA_B}')
    GROUP BY user_id
    HAVING COUNT(DISTINCT event_type) = 2) x)
SELECT
  {est('ea.n', 'ea.hk')} AS est_a,
  {est('eb.n', 'eb.hk')} AS est_b,
  {est('eu.n', 'eu.hk')} AS est_union,
  CAST(jc.nboth AS DOUBLE) / CAST(jc.nu AS DOUBLE) AS jaccard_est,
  (CAST(jc.nboth AS DOUBLE) / CAST(jc.nu AS DOUBLE))
    * ({est('eu.n', 'eu.hk')}) AS est_intersection,
  CAST(tr.true_a AS BIGINT) AS true_a,
  CAST(tr.true_b AS BIGINT) AS true_b,
  CAST(tr.true_union AS BIGINT) AS true_union,
  CAST(ti.true_intersection AS BIGINT) AS true_intersection
FROM ea, eb, eu, jc, tr, ti"""


@spec(
    "events_kmv_set_algebra",
    _ksa_oracle(),
    description="KMV sketch set algebra: union / Jaccard / "
                "intersection estimates between the click and "
                "purchase user sets from merged k-smallest-hash "
                "sketches, next to the exact counts — deterministic "
                "md5 hashes, group-limited rank windows, value-exact",
    tags=("events", "agg", "sketch"),
)
def q_events_kmv_set_algebra(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.sketch import (kmv_estimate,
                                                kmv_merge,
                                                kmv_sketch)

    k = _KSA_K
    ev = load(spark, sf_dir, "events")
    val = "CAST(user_id AS STRING)"
    # the three sketches are k-row tables, but each side's lineage is
    # a corpus scan + distinct + top-k — sa/sb feed the merge, their
    # own estimates AND the Jaccard join (the merged sketch three
    # consumers more), so without the lazy checkpoints the corpus
    # sketch pass executed ~6x (12 source scans in the plan)
    sa = materialize(kmv_sketch(
        ev.filter(f"event_type = '{_KSA_A}'")
        .selectExpr("'u' AS side", "user_id"), ["side"], val, k=k),
        eager=False)
    sb = materialize(kmv_sketch(
        ev.filter(f"event_type = '{_KSA_B}'")
        .selectExpr("'u' AS side", "user_id"), ["side"], val, k=k),
        eager=False)
    su = materialize(kmv_merge(sa, sb, ["side"], k=k), eager=False)
    ea = kmv_estimate(sa, ["side"], k=k).selectExpr(
        "kmv_estimate AS est_a")
    eb = kmv_estimate(sb, ["side"], k=k).selectExpr(
        "kmv_estimate AS est_b")
    eu = kmv_estimate(su, ["side"], k=k).selectExpr(
        "kmv_estimate AS est_union")
    jc = (su.join(sa.selectExpr("h"), on="h")
          .join(sb.selectExpr("h"), on="h")
          .agg(F.count(F.lit(1)).alias("nboth"))
          .crossJoin(F.broadcast(
              su.agg(F.expr("MAX(rk)").alias("nu"))))
          .selectExpr("CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE)"
                      " AS jaccard_est"))
    tr = ev.agg(
        F.expr(f"CAST(COUNT(DISTINCT CASE WHEN event_type ="
               f" '{_KSA_A}' THEN user_id END) AS BIGINT)")
        .alias("true_a"),
        F.expr(f"CAST(COUNT(DISTINCT CASE WHEN event_type ="
               f" '{_KSA_B}' THEN user_id END) AS BIGINT)")
        .alias("true_b"),
        F.expr(f"CAST(COUNT(DISTINCT CASE WHEN event_type IN"
               f" ('{_KSA_A}', '{_KSA_B}') THEN user_id END)"
               f" AS BIGINT)").alias("true_union"))
    ti = (ev.filter(f"event_type IN ('{_KSA_A}', '{_KSA_B}')")
          .groupBy("user_id")
          .agg(F.countDistinct("event_type").alias("__t"))
          .filter("__t = 2")
          .agg(F.expr("CAST(COUNT(*) AS BIGINT)")
               .alias("true_intersection")))
    return (ea.crossJoin(F.broadcast(eb))
            .crossJoin(F.broadcast(eu))
            .crossJoin(F.broadcast(jc))
            .crossJoin(F.broadcast(tr))
            .crossJoin(F.broadcast(ti))
            .selectExpr("est_a", "est_b", "est_union",
                        "jaccard_est",
                        "jaccard_est * est_union"
                        " AS est_intersection",
                        "true_a", "true_b", "true_union",
                        "true_intersection"))


# ----------------------------------------------------------------------
# STREAMING KMV ingestion — the sketch path of the incremental
# family: each file-arrival micro-batch sketches its own rows and
# MERGES into the persisted per-type sketch (keep k smallest
# distinct hashes — merge is associative, commutative and
# idempotent, so the versioned-state replay contract needs no batch
# order at all). Because the merge is order-free, the final merged
# sketch is BIT-IDENTICAL to the one-shot sketch of the full data —
# the batch events_kmv_distinct oracle grades the stream verbatim.
# ----------------------------------------------------------------------

_SKMV_ARRIVALS = 3


@spec(
    "stream_kmv_union",
    _KMV_ORACLE.format(
        h="CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||"
          " props), 1, 10) AS BIGINT)"),
    description="Structured-Streaming KMV ingestion: per-micro-batch "
                "sketch merged into versioned persisted state (merge "
                "is order-free, idempotent), no-op replay proven — "
                "final estimates bit-identical to the one-shot batch "
                "sketch, graded by the same oracle",
    tags=("events", "agg", "sketch", "streaming", "incremental"),
)
def q_stream_kmv_union(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.engine import scratch_path
    from xsarsea_spark.operators.sketch import (kmv_estimate,
                                                kmv_merge,
                                                kmv_sketch)

    base = scratch_path(spark, "stream_kmv", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    watch = os.path.join(base, "incoming")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(watch)

    ev = load(spark, sf_dir, "events")
    # ONE corpus pass via partitionBy; the partition column is
    # dropped from the data files, so each __a={k} directory holds
    # exactly arrival k's rows
    (ev.withColumn("__a", F.expr(f"event_id % {_SKMV_ARRIVALS}"))
     .repartition(_SKMV_ARRIVALS, "__a")
     .write.partitionBy("__a")
     .parquet(os.path.join(base, "arrivals")))
    # the staged slices carry the loader-canonicalized schema
    # (ts as BIGINT nanos), not the raw parquet timestamp
    schema = ev.schema

    def step(df, batch_id: int) -> None:
        sk = kmv_sketch(df, ["event_type"],
                        _KMV_VAL.replace("VARCHAR", "STRING"),
                        k=_KMV_K)
        prev = version_below(spark, state, batch_id)
        if prev:
            sk = kmv_merge(spark.read.parquet(prev), sk,
                           ["event_type"], k=_KMV_K)
        (sk.repartition(1).write.mode("overwrite")
         .parquet(os.path.join(state, f"v{batch_id}")))

    src = spark.readStream.schema(schema).parquet(watch)
    for a in range(_SKMV_ARRIVALS):
        stage_arrival(os.path.join(base, "arrivals", f"__a={a}"),
                      watch, f"a{a}")
        run_available_now(src, step, ckpt)
    run_available_now(src, step, ckpt)   # no new files: no-op

    final = spark.read.parquet(
        latest_version(spark, state, expect=_SKMV_ARRIVALS))
    est = kmv_estimate(final, ["event_type"], k=_KMV_K)
    true = ev.groupBy("event_type").agg(
        F.expr(f"COUNT(DISTINCT"
               f" {_KMV_VAL.replace('VARCHAR', 'STRING')})")
        .alias("true_distinct"))
    return est.join(true, on="event_type").select(
        "event_type", "kmv_estimate", "true_distinct")


# ----------------------------------------------------------------------
# Benford first-digit audit (Newcomb 1881 / Benford 1938) — the
# classic data-quality screen for fabricated or truncated numeric
# columns: observed first-significant-digit counts vs the log10
# law. Digit extraction is ALL-INTEGER (exact DECIMAL micro-units ->
# BIGINT -> first character), so no log/float hazard touches the
# group key; the expected probabilities are the only libm calls,
# QTRUNC'd; chi-square terms ride the on-grid DECIMAL sum.
# ----------------------------------------------------------------------

# first significant digit of a positive value, exactly: the DECIMAL
# cast is exact, x1e6 keeps six fractional digits, the leading
# character of the BIGINT's decimal print is the digit
_BFD_DIGIT_DUCK = ("substr(CAST(CAST(CAST(value AS DECIMAL(38,6))"
                   " * 1000000 AS BIGINT) AS VARCHAR), 1, 1)")
_BFD_DIGIT_SPARK = ("substring(CAST(CAST(CAST(value AS"
                    " DECIMAL(38,6)) * 1000000 AS BIGINT)"
                    " AS STRING), 1, 1)")


def _benford_oracle() -> str:
    p = QTRUNC("log10(1e0 + 1e0 / CAST(digit AS DOUBLE))", 12)
    chi = QTRUNC(
        "(CAST(observed AS DOUBLE) - expected_n)"
        " * (CAST(observed AS DOUBLE) - expected_n) / expected_n", 9)
    return f"""
WITH b AS (
  SELECT CAST({_BFD_DIGIT_DUCK} AS BIGINT) AS digit
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0),
o AS (SELECT digit, COUNT(*) AS observed FROM b
      WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
n AS (SELECT CAST(SUM(observed) AS DOUBLE) AS n FROM o),
e AS (SELECT digit, observed, {p} AS expected_p,
        ({p}) * n.n AS expected_n
      FROM o, n)
SELECT digit, CAST(observed AS BIGINT) AS observed, expected_p,
  expected_n, {chi} AS chi_term
FROM e"""


@spec(
    "events_benford",
    _benford_oracle(),
    description="Benford first-digit audit of event values: "
                "all-integer digit extraction (exact DECIMAL "
                "micro-units, no log on the group key), QTRUNC'd "
                "log10 expected probabilities, on-grid chi-square "
                "terms — one hash agg",
    tags=("events", "quality", "stats"),
)
def q_events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = QTRUNC("log10(1e0 + 1e0 / CAST(digit AS DOUBLE))", 12)
    chi = QTRUNC(
        "(CAST(observed AS DOUBLE) - expected_n)"
        " * (CAST(observed AS DOUBLE) - expected_n) / expected_n", 9)
    ev = load(spark, sf_dir, "events")
    o = (ev.filter("value IS NOT NULL AND NOT isnan(value)"
                   " AND value > 0")
         .selectExpr(f"CAST({_BFD_DIGIT_SPARK} AS BIGINT) AS digit")
         .filter("digit BETWEEN 1 AND 9")
         .groupBy("digit")
         .agg(F.count(F.lit(1)).alias("observed")))
    n = o.agg(F.expr("CAST(SUM(observed) AS DOUBLE)").alias("n"))
    return (o.crossJoin(F.broadcast(n))
            .selectExpr("digit",
                        "CAST(observed AS BIGINT) AS observed",
                        f"{p} AS expected_p",
                        f"({p}) * n AS expected_n")
            .selectExpr("digit", "observed", "expected_p",
                        "expected_n", f"{chi} AS chi_term"))


# ----------------------------------------------------------------------
# Lag-1 autocorrelation of the daily mean (the quick seasonality /
# momentum screen before fitting anything heavier): Pearson r
# between consecutive-day exact-DECIMAL means. The lag join and the
# correlation run over the BOUNDED daily frame (day-span rows); the
# corpus meets only the per-day mean agg. Products are floored onto
# the 1e-9 grid before exact DECIMAL sums, then one shared IEEE
# formula tree — r is value-exact cross-engine.
# ----------------------------------------------------------------------


def _autocorr_oracle() -> str:
    t = lambda e: QTRUNC(e, 9)
    return f"""
WITH daily AS (
  SELECT {_US_DUCK} // 86400000000 AS day, {DAVG('value')} AS m
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
pr AS (
  SELECT a.m AS x, b.m AS y
  FROM daily a JOIN daily b ON b.day = a.day + 1),
s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        {DSUM(t('x'), 9)} AS sx, {DSUM(t('y'), 9)} AS sy,
        {DSUM(t('x * x'), 9)} AS sxx, {DSUM(t('y * y'), 9)} AS syy,
        {DSUM(t('x * y'), 9)} AS sxy
      FROM pr)
SELECT CAST(1 AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
  (n * sxy - sx * sy)
    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
FROM s"""


@spec(
    "events_autocorr",
    _autocorr_oracle(),
    description="Lag-1 autocorrelation of daily mean value: exact "
                "DECIMAL per-day means, on-grid product sums over "
                "the bounded daily frame, one shared IEEE Pearson "
                "tree — value-exact",
    tags=("events", "stats"),
)
def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = lambda e: QTRUNC(e, 9)
    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    daily = (ev.groupBy(F.expr(f"({_US_SPARK}) DIV 86400000000")
                        .alias("day"))
             .agg(F.expr(DAVG("value")).alias("m")))
    a = daily.selectExpr("day AS d1", "m AS x")
    b = daily.selectExpr("day AS d2", "m AS y")
    pr = (a.join(F.broadcast(b), F.expr("d2 = d1 + 1"))
          .select("x", "y"))
    return (pr.agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("n"),
        F.expr(DSUM(t("x"), 9)).alias("sx"),
        F.expr(DSUM(t("y"), 9)).alias("sy"),
        F.expr(DSUM(t("x * x"), 9)).alias("sxx"),
        F.expr(DSUM(t("y * y"), 9)).alias("syy"),
        F.expr(DSUM(t("x * y"), 9)).alias("sxy"))
        .selectExpr("CAST(1 AS BIGINT) AS lag",
                    "CAST(n AS BIGINT) AS n_pairs",
                    "(n * sxy - sx * sy)"
                    " / sqrt((n * sxx - sx * sx)"
                    " * (n * syy - sy * sy)) AS r"))
