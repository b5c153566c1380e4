"""Structured Streaming surface over the ``events`` table.

Batch/stream parity design: each streaming query has identical
semantics to a batch query in suite/events_suite.py, so the SAME
DuckDB oracle validates both. Streams run with
``trigger(availableNow=True)`` against the parquet directory
(pathGlobFilter selects the events file), writing to an in-memory sink.

At scale this is the real shape: ``readStream`` on an object-store
prefix, watermarked event-time aggregation, checkpointed sink; the
in-memory sink and availableNow trigger are the test harness, not the
design.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import decimal_sum
from xsarsea_spark.sources.tables import normalize_event_ts

__all__ = ["events_stream", "stream_hourly_counts",
           "stream_attribution",
           "stream_hourly_to_parquet", "read_latest_batch",
           "stream_minute_dedup", "stream_sessionize",
           "stream_interval_join", "stream_user_stats",
           "stream_user_growth"]

def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet: ``ts`` normalized to
    raw-nanos BIGINT (same contract as the batch loader) plus a derived
    proper event-time column for watermarking.

    The stream schema is taken from the parquet footer (one batch-side
    metadata read — no data scan), so the same code handles both
    TIMESTAMP(NANOS) (nanosAsLong BIGINT) and TIMESTAMP(MICROS)
    physical files."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw).withColumn(
        "event_time", F.expr("timestamp_micros(ts DIV 1000)")
    )


_STATE_PARTITIONS = 8


@contextmanager
def _state_partitions(spark: SparkSession):
    """Run the enclosed stream start with ``_STATE_PARTITIONS`` shuffle
    partitions, restoring the session value afterwards.

    Stateful operators allocate one state-store instance per shuffle
    partition, and instance setup dominates when per-partition state
    is small — at the session default of 32 partitions the three
    suite streams spend 2.6-11 s on state plumbing vs ~1-2 s at 8.
    State sizing is a deliberate per-stream choice at scale, not
    something to inherit from the batch session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(_STATE_PARTITIONS))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run an availableNow stream into a memory sink."""
    spark = stream_df.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    with _state_partitions(spark):
        (stream_df.writeStream.format("memory")
         .queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start()
         .awaitTermination())
    return spark.table(name)


def _hourly_agg(ev: DataFrame) -> DataFrame:
    """Tumbling-hour aggregation shared by the memory-sink query and
    the exactly-once parquet sink."""
    return (
        ev.groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(decimal_sum("value")).alias("sum_value"),
        )
        .select(
            F.expr("(unix_micros(w.start)) DIV 3600000000")
            .alias("hour_bucket"),
            "event_type", "n_events", "sum_value",
        )
    )


def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour aggregation (complete mode so every
    window is emitted — deterministic, batch-equivalent output)."""
    ev = events_stream(spark, sf_dir).withWatermark("event_time", "1 hour")
    return _run_to_memory(_hourly_agg(ev), "complete")


def stream_hourly_to_parquet(spark: SparkSession, sf_dir: str,
                             out_dir: str, checkpoint_dir: str) -> str:
    """Exactly-once parquet sink via ``foreachBatch``.

    The two halves of the guarantee:

    - **source-side**: the checkpoint records which input files each
      batch consumed, so a restarted query neither re-reads nor skips
      input — re-running against an unchanged source is a no-op;
    - **sink-side**: parquet overwrite is not transactional per batch,
      so each micro-batch writes to its own ``batch_id=N`` directory
      and drops a commit marker LAST; a replayed batch (failure after
      write, before checkpoint commit) sees the marker and skips —
      idempotent, the standard foreachBatch exactly-once recipe.

    Complete output mode means the LATEST committed batch directory
    is the full result (``read_latest_batch``); earlier directories
    are superseded snapshots, the retention policy a real deployment
    would garbage-collect.
    """
    import os

    ev = events_stream(spark, sf_dir).withWatermark("event_time", "1 hour")
    agg = _hourly_agg(ev)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        dest = os.path.join(out_dir, f"batch_id={batch_id}")
        marker = os.path.join(dest, "_BATCH_COMMITTED")
        if os.path.exists(marker):
            # replay of a committed batch: skip the write, but still
            # drain every partition — Spark 4 validates that
            # foreachBatch processed the whole DataFrame (state-store
            # commit check), so a bare early return would fail the
            # query. The noop source consumes without writing.
            df.write.format("noop").mode("overwrite").save()
            return
        df.write.mode("overwrite").parquet(dest)
        with open(marker, "w"):
            pass
    with _state_partitions(spark):
        (agg.writeStream.foreachBatch(write_batch)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start()
         .awaitTermination())
    return out_dir


def read_latest_batch(spark: SparkSession, out_dir: str) -> DataFrame:
    """The current result of a complete-mode foreachBatch sink: the
    highest committed ``batch_id=N`` directory."""
    import os

    done = [d for d in os.listdir(out_dir)
            if d.startswith("batch_id=")
            and os.path.exists(os.path.join(out_dir, d,
                                            "_BATCH_COMMITTED"))]
    if not done:
        raise FileNotFoundError(f"no committed batches in {out_dir}")
    latest = max(done, key=lambda d: int(d.split("=")[1]))
    return spark.read.parquet(os.path.join(out_dir, latest))


def stream_minute_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream dedup on (user_id, event_type, minute) within a
    watermark — emits each key once; output is the key set, so it is
    deterministic regardless of which physical row wins."""
    ev = events_stream(spark, sf_dir).withWatermark("event_time", "30 minutes")
    keyed = ev.select(
        "user_id", "event_type",
        F.expr("(ts DIV 1000) DIV 60000000").alias("minute_bucket"),
        "event_time",
    )
    dedup = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute_bucket"]
    ).select("user_id", "event_type", "minute_bucket")
    return _run_to_memory(dedup, "append")


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` sessionization (30-min inactivity gap)
    — Spark's built-in merging session state, batch-equivalent output.

    The memory-sink result carries (user_id, window, n_events,
    sum_value); session ordinals and start/end are derived from the
    window bounds afterwards (window.end is last-event + gap, so
    session_end = window.end - gap). Boundary semantics: session_window
    splits at gap >= G while the batch lag-formulation splits at
    gap > G — identical whenever no inter-event gap equals G exactly
    (asserted for the driver tables; a tie would need a nanosecond-
    exact 30-minute spacing).
    """
    ev = events_stream(spark, sf_dir).withWatermark("event_time", "1 hour")
    agg = (
        ev.groupBy(
            F.session_window("event_time", "30 minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(decimal_sum("value")).alias("sum_value"),
        )
    )
    tbl = _run_to_memory(agg, "complete")
    from pyspark.sql.window import Window

    win = Window.partitionBy("user_id").orderBy("session_start")
    return (
        tbl.select(
            "user_id",
            F.expr("unix_micros(w.start)").alias("session_start"),
            F.expr("unix_micros(w.end) - 1800000000").alias("session_end"),
            "n_events", "sum_value",
        )
        .withColumn("session_id",
                    F.row_number().over(win).cast("bigint"))
        .select("user_id", "session_id", "session_start", "session_end",
                "n_events", "sum_value")
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each view joined to the same
    user's purchases within the following 30 minutes.

    Both sides branch from ONE watermarked file stream (a streaming
    self-join) — two separate readStream sources would double the
    source bookkeeping for identical output (measured same 172 rows,
    ~6 % faster warm at sf0.1). The time-range predicate bounds the
    join state Spark must retain (views older than the watermark
    minus the interval are dropped). Inner-join matches emit as soon
    as both sides arrive, so availableNow produces the full
    batch-equivalent result. All time math in integer microseconds
    (nanos DIV 1000 == DuckDB epoch_us truncation).
    """
    ev = events_stream(spark, sf_dir).withWatermark("event_time",
                                                    "1 hour")
    views = ev.filter("event_type = 'view'").alias("v")
    purchases = ev.filter("event_type = 'purchase'").alias("p")
    joined = views.join(
        purchases,
        F.expr(
            "v.user_id = p.user_id"
            " AND p.event_time >= v.event_time"
            " AND p.event_time <= v.event_time + INTERVAL 30 MINUTES"
        ),
    ).select(
        F.col("v.event_id").alias("view_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("v.user_id").alias("user_id"),
        F.expr("(p.ts DIV 1000) - (v.ts DIV 1000)").alias("gap_us"),
    )
    return _run_to_memory(joined, "append")


def stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-user aggregator via applyInPandasWithState:
    running event/purchase counts, an order-fixed value sum, max value
    and first/last event time per user.

    The value sum folds left-to-right in ascending event_id order —
    the same op sequence as a SQL ``list_reduce(list(value ORDER BY
    event_id))`` — so totals are engine-exact, not
    arrival-order-dependent. State is a six-field tuple per user;
    with an availableNow trigger the single micro-batch emits each
    user's final row (at scale the same operator emits per-batch
    running updates)."""
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("event_time", "1 hour")
        .select("user_id", "event_id", "event_type", "value", "ts")
    )
    out_schema = ("user_id bigint, n_events bigint, n_purchases bigint, "
                  "sum_value double, max_value double, "
                  "first_us bigint, last_us bigint")
    state_schema = ("n bigint, np bigint, acc double, mx double, "
                    "fu bigint, lu bigint")

    def fn(key, pdfs, state: GroupState):
        df = pd.concat(list(pdfs)).sort_values("event_id")
        if state.exists:
            n, npur, acc, mx, fu, lu = state.get
        else:
            n, npur, acc, mx, fu, lu = 0, 0, 0.0, None, None, None
        for r in df.itertuples():
            n += 1
            if r.event_type == "purchase":
                npur += 1
            # SQL-aggregate NULL semantics (Arrow hands NULLs to the
            # kernel as NaN): SUM/MAX/MIN skip them — and a NULL ts
            # would otherwise crash int() outright
            if not pd.isna(r.value):
                acc += float(r.value)
                mx = (float(r.value) if mx is None
                      else max(mx, float(r.value)))
            if not pd.isna(r.ts):
                us = int(r.ts) // 1000
                fu = us if fu is None else min(fu, us)
                lu = us if lu is None else max(lu, us)
        state.update((n, npur, acc, mx, fu, lu))
        # GROUP BY keeps a NULL-key group; int(NaN) would crash it
        uid = None if pd.isna(key[0]) else int(key[0])
        yield pd.DataFrame([{
            "user_id": uid, "n_events": n, "n_purchases": npur,
            "sum_value": acc, "max_value": mx,
            "first_us": fu, "last_us": lu,
        }])

    agg = ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)
    return _run_to_memory(agg, "update")


def stream_cohort_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each streaming event is enriched with a
    batch-computed per-user dimension (first-active week = the
    retention cohort) via a broadcast join, then aggregated per
    (cohort_week, event_type).

    At scale this is THE standard enrichment shape — a stream joining
    a slowly-refreshed dimension snapshot: the static side is re-read
    per micro-batch (picking up dimension updates), broadcast when
    small, and the stream side never shuffles for the join itself.
    """
    from xsarsea_spark.sources.tables import load

    week = 604_800_000_000
    static = (
        load(spark, sf_dir, "events")
        .selectExpr("user_id",
                    f"(ts DIV 1000) DIV {week} AS week")
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    ev = events_stream(spark, sf_dir).select("user_id", "event_type")
    joined = ev.join(F.broadcast(static), on="user_id")
    agg = joined.groupBy("cohort_week", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"))
    return _run_to_memory(agg, "complete")


def stream_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming growth accounting: per-user FIRST-SEEN day tracked in
    ``applyInPandasWithState`` (state = one bigint per user), rolled
    up to per-day new-user counts + the cumulative user base after
    the sink drains.

    Batch twin: ``events_user_growth``'s first-seen subquery. At
    scale each micro-batch emits updated first-seen rows only for
    users it touched and the rollup runs downstream of the sink; the
    min-aggregate post-processing keeps the result exact even when a
    user's rows span micro-batches (update-mode re-emissions collapse
    to the final min).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("event_time", "1 hour")
        .select("user_id", "ts")
    )
    out_schema = "user_id bigint, first_day bigint"
    state_schema = "fd bigint"

    def fn(key, pdfs, state: GroupState):
        df = pd.concat(list(pdfs))
        fd = state.get[0] if state.exists else None
        for ts in df["ts"]:
            if pd.isna(ts):
                continue
            day = (int(ts) // 1000) // 86400000000
            fd = day if fd is None else min(fd, day)
        state.update((fd,))
        uid = None if pd.isna(key[0]) else int(key[0])
        yield pd.DataFrame([{"user_id": uid, "first_day": fd}])

    agg = ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)
    tbl = _run_to_memory(agg, "update")
    from pyspark.sql.window import Window

    # users whose every ts was NULL carry first_day NULL — drop them
    # before the day window (Spark orders NULLS FIRST, DuckDB NULLS
    # LAST, so a NULL day would skew cumulative sums cross-engine)
    daily = (
        tbl.filter("first_day IS NOT NULL")
        .groupBy("user_id")
        .agg(F.min("first_day").alias("first_day"))
        .groupBy(F.col("first_day").alias("day"))
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "new_users",
        F.sum("new_users").over(w).cast("bigint")
        .alias("cumulative_users"),
    )


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming last-touch attribution via
    applyInPandasWithState: per-user state is ONE packed BIGINT (the
    latest view/click touch, ``us * 4 + type_code``), carried across
    micro-batches; each purchase row is emitted with the touch type
    that gets its credit under the 7-day lookback.

    Value-identical to the batch window form (events_attribution)
    when micro-batches partition event time monotonically (one
    availableNow batch, or an in-order source): rows fold in
    ascending (us, event_id) order, touches update the carry BEFORE
    any later-ordered purchase in the same batch reads it — exactly
    the ``ROWS UNBOUNDED PRECEDING TO 1 PRECEDING`` running max —
    and the packed encoding breaks same-microsecond ties identically
    (click > view). An OUT-OF-ORDER late purchase (arriving in a
    batch after a touch that follows it in event time) attributes
    against the latest state — the standard streaming relaxation:
    exact replay of the batch window across arbitrary batch splits
    would require retaining every touch (unbounded state).

    NULL-ts rows are filtered BEFORE the state operator, matching
    the batch query's ``ts IS NOT NULL`` — and keeping the Arrow
    handoff on int64: one NULL in a chunk would convert the whole
    nanosecond column to float64, whose 256 ns spacing above 2^53
    silently rounds microsecond arithmetic."""
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    lookback = 7 * 86_400_000_000
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("event_time", "1 hour")
        .filter("ts IS NOT NULL")
        .select("user_id", "event_id", "event_type", "value", "ts")
    )
    out_schema = "touch_type string, value double"
    state_schema = "enc bigint"

    def fn(key, pdfs, state: GroupState):
        df = pd.concat(list(pdfs))
        df = df.assign(__us=df["ts"] // 1000).sort_values(
            ["__us", "event_id"])
        enc = state.get[0] if state.exists else None
        out_t, out_v = [], []
        for r in df.itertuples():
            if pd.isna(r.ts):      # defense only; filtered upstream
                continue
            us = int(r.ts) // 1000
            if r.event_type in ("view", "click"):
                cand = us * 4 + (2 if r.event_type == "click" else 1)
                enc = cand if enc is None else max(enc, cand)
            elif r.event_type == "purchase":
                if enc is None or us - enc // 4 > lookback:
                    t = "none"
                else:
                    t = "click" if enc % 4 == 2 else "view"
                out_t.append(t)
                out_v.append(None if pd.isna(r.value)
                             else float(r.value))
        if enc is not None:
            state.update((enc,))
        yield pd.DataFrame({"touch_type": pd.Series(out_t,
                                                    dtype="object"),
                            "value": pd.Series(out_v,
                                               dtype="float64")})

    att = ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)
    return _run_to_memory(att, "update")
