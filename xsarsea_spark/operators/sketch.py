"""Deterministic distinct-count sketch: KMV (k minimum values).

Sketches are normally excluded from exact cross-engine checking
(HLL++ implementations differ per engine), but KMV built on the
repo's stable 40-bit md5 hash is fully deterministic: the sketch of a
group is its k smallest distinct hash values, and the estimator
``(k-1) * 2^40 / h_k`` is plain IEEE arithmetic — so the whole
operator is value-exact in any engine, while still being a real
mergeable sketch (union two sketches = keep the k smallest of the
union).

Scale: the distinct + per-group top-k is one shuffle on the group
key; the sketch per group is k rows regardless of group size, so
downstream merges move O(groups x k), not O(distinct values) — the
point of a sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import QTRUNC
from xsarsea_spark.pipeline.text import HASH40_SQL

__all__ = ["kmv_sketch", "kmv_estimate", "kmv_merge",
           "dd_sketch", "dd_merge", "dd_quantiles"]

_HSPACE = float(1 << 40)


def kmv_sketch(df: DataFrame, group_cols: list, value_sql: str,
               k: int = 64) -> DataFrame:
    """Per-group KMV sketch rows: the up-to-k smallest distinct
    40-bit hashes of ``value_sql`` -> (group_cols..., h, rk)."""
    from pyspark.sql import Window

    h = HASH40_SQL.format(x=f"({value_sql})")
    d = df.selectExpr(*group_cols, f"{h} AS h").distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def kmv_merge(sketch_a: DataFrame, sketch_b: DataFrame,
              group_cols: list, k: int = 64) -> DataFrame:
    """Union two sketches: keep the k smallest distinct hashes per
    group — the defining mergeability property of KMV."""
    from pyspark.sql import Window

    u = (
        sketch_a.select(*group_cols, "h")
        .unionByName(sketch_b.select(*group_cols, "h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        u.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def kmv_estimate(sketch: DataFrame, group_cols: list,
                 k: int = 64) -> DataFrame:
    """Finalize: exact count when the group holds < k distinct hashes,
    else (k-1) * 2^40 / h_k. All-integer inputs to one IEEE division,
    so the estimate is engine-exact."""
    return (
        sketch.groupBy(*group_cols)
        .agg(
            F.max(F.when(F.col("rk") == k, F.col("h"))).alias("__hk"),
            F.max("rk").alias("__n"),
        )
        .withColumn(
            "kmv_estimate",
            F.expr(
                f"CASE WHEN __n < {k} THEN CAST(__n AS DOUBLE)"
                f" ELSE {k - 1} * {_HSPACE!r} / __hk END"
            ),
        )
        .select(*group_cols, "kmv_estimate")
    )


# ----------------------------------------------------------------------
# Count-min: deterministic frequency sketch
# ----------------------------------------------------------------------

CM_DEPTH, CM_WIDTH = 4, 64   # count-min hash rows x buckets


def _cm_buckets(value_sql: str) -> str:
    """The ``CM_DEPTH`` row-salted 40-bit md5 hashes folded to buckets —
    identical text in both engines modulo the md5->int spelling
    (HASH40_SQL)."""
    hashes = (HASH40_SQL.format(x=f"('{row}#' || ({value_sql}))")
              for row in range(CM_DEPTH))
    return ", ".join(f"(({h}) % {CM_WIDTH})" for h in hashes)


def countmin_sketch(df: DataFrame, value_sql: str) -> DataFrame:
    """Count-min sketch table (row, bucket, counter).

    ``CM_DEPTH`` salted hash rows x ``CM_WIDTH`` buckets of exact
    counters: fixed O(depth*width) memory per (sub)stream no matter the
    cardinality, mergeable by summing counters bucket-wise. Fully
    deterministic (md5 bucketing, integer counters), so estimates are
    value-exact cross-engine — unlike library sketches with
    engine-specific hashing.

    Scale: built as ONE pass — each input row explodes to ``CM_DEPTH``
    (row, bucket) pairs of integers (map-side combined), the shuffle
    carries at most depth*width counter rows per partition.
    """
    return (
        df.selectExpr(
            f"posexplode(array({_cm_buckets(value_sql)})) AS (rw, bucket)")
        .groupBy("rw", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def countmin_estimate(items: DataFrame, sketch: DataFrame,
                      value_sql: str) -> DataFrame:
    """Point-frequency estimates: min over the sketch's depth rows of
    the item's bucket counter (>= true count, with the classic
    eps = e/width overestimate bound). ``items`` keeps its columns,
    gaining ``cm_count``."""
    probes = items.selectExpr(
        "*",
        f"posexplode(array({_cm_buckets(value_sql)})) AS (rw, bucket)")
    return (
        probes.join(sketch, on=["rw", "bucket"], how="left")
        .na.fill({"counter": 0})
        .groupBy(*items.columns)
        .agg(F.min("counter").alias("cm_count"))
    )


# ----------------------------------------------------------------------
# Bloom filter: deterministic semi-join prefilter
# ----------------------------------------------------------------------

def _bloom_pos(value_sql: str, j: int, m_bits: int) -> str:
    h = HASH40_SQL.format(x=f"('B{j}#' || ({value_sql}))")
    return f"(({h}) % {m_bits})"


BLOOM_K = 3   # bit probes per key of bloom_filter


def bloom_build(keys: DataFrame, value_sql: str, m_bits: int = 4096,
                k: int = BLOOM_K) -> DataFrame:
    """Bloom filter as a (word, bits) table: k md5-salted bit
    positions per key, OR-folded into 63-bit words with ``bit_or``
    (63 so no position ever shifts into the BIGINT sign bit — the
    same spelling works in any engine).

    The build is one exploded pass + one tiny hash agg; the result is
    O(m_bits/63) rows however many keys went in — broadcastable at
    any scale, which is the point: it rides ahead of a join as a
    cheap prefilter the way Spark's own runtime row-level filters do.
    """
    poss = ", ".join(_bloom_pos(value_sql, j, m_bits)
                     for j in range(k))
    return (
        keys.selectExpr(f"explode(array({poss})) AS p")
        .selectExpr("CAST(p DIV 63 AS INT) AS word",
                    "CAST(1 AS BIGINT) << CAST(p % 63 AS INT) AS b")
        .groupBy("word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )


def bloom_filter(df: DataFrame, bloom: DataFrame, value_sql: str,
                 m_bits: int = 4096) -> DataFrame:
    """Keep rows whose key passes every one of the ``BLOOM_K`` bit probes
    (possible false positives, never false negatives). The bloom side
    is broadcast; each probe is an equi-join on the word index plus a
    mask test — the fact side never shuffles."""
    out = df
    for j in range(BLOOM_K):
        p = _bloom_pos(value_sql, j, m_bits)
        probe = (
            bloom.withColumnRenamed("word", f"__w{j}")
            .withColumnRenamed("bits", f"__bits{j}")
        )
        out = (
            out.withColumn(f"__p{j}", F.expr(p))
            .join(F.broadcast(probe),
                  F.expr(f"CAST(__p{j} DIV 63 AS INT) = __w{j}"),
                  "left")
            .filter(F.expr(
                f"(coalesce(__bits{j}, 0L)"
                f" & (CAST(1 AS BIGINT) << CAST(__p{j} % 63 AS INT)))"
                " != 0"))
            .drop(f"__p{j}", f"__w{j}", f"__bits{j}")
        )
    return out


def bloom_mark(df: DataFrame, bloom: DataFrame, value_sql: str,
               m_bits: int = 4096, k: int = BLOOM_K) -> DataFrame:
    """Like :func:`bloom_filter` but non-destructive: adds a boolean
    ``__maybe`` — True when every probe hits (the key MIGHT be in
    the set), False when any probe misses (DEFINITELY absent, the
    no-false-negative guarantee). The split form incremental ingest
    needs: definitely-new rows skip the exact dedup join entirely,
    only the maybes pay it."""
    out = df
    hits = []
    for j in range(k):
        p = _bloom_pos(value_sql, j, m_bits)
        probe = (
            bloom.withColumnRenamed("word", f"__w{j}")
            .withColumnRenamed("bits", f"__bits{j}")
        )
        out = (
            out.withColumn(f"__p{j}", F.expr(p))
            .join(F.broadcast(probe),
                  F.expr(f"CAST(__p{j} DIV 63 AS INT) = __w{j}"),
                  "left")
            .withColumn(f"__hit{j}", F.expr(
                f"(coalesce(__bits{j}, 0L)"
                f" & (CAST(1 AS BIGINT) << CAST(__p{j} % 63 AS INT)))"
                " != 0"))
            .drop(f"__p{j}", f"__w{j}", f"__bits{j}")
        )
        hits.append(f"__hit{j}")
    out = out.withColumn("__maybe", F.expr(" AND ".join(hits)))
    return out.drop(*hits)


# ----------------------------------------------------------------------
# HyperLogLog: deterministic cardinality sketch
# ----------------------------------------------------------------------

#: 60-bit md5 prefix as BIGINT (Spark spelling; the DuckDB twin is
#: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` — bit-identical).
HASH60_SQL = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


HLL_B, HLL_W = 6, 40   # register-index bits, rank-field bits


def hll_rank_sql(rest_col: str) -> str:
    """Position of the first 1-bit (from the MSB) of a ``HLL_W``-bit
    field, as a pure comparison ladder — no log2/bit_length, so the
    SAME text runs in Spark and DuckDB with exact integer semantics.
    Returns w+1 when the field is all zeros (HLL's rho convention)."""
    w = HLL_W
    branches = " ".join(
        f"WHEN ({rest_col}) >= {1 << (w - i)} THEN {i}"
        for i in range(1, w + 1))
    return f"(CASE {branches} ELSE {w + 1} END)"


def hll_sketch(df: DataFrame, group_cols: list, value_sql: str
               ) -> DataFrame:
    """Per-group HLL register table (group_cols..., reg, m_reg).

    Register index = low ``HLL_B`` bits of a 60-bit md5 hash; rank =
    first 1-bit position of the next ``HLL_W`` bits. Everything is integer
    arithmetic on a deterministic hash, so — unlike library HLLs with
    engine-private hashing — the registers (and hence the estimate)
    are value-exact in any engine.

    Scale: one hash agg; output is <= 2^b rows per group no matter
    the input cardinality, mergeable with a register-wise MAX
    (:func:`hll_merge`) — the HLL property that makes it the standard
    distributed distinct-counter.
    """
    m = 1 << HLL_B
    h = HASH60_SQL.format(x=f"({value_sql})")
    rank = hll_rank_sql("__rest")
    return (
        df.selectExpr(
            *group_cols,
            f"({h}) % {m} AS reg",
            f"(({h}) DIV {m}) % {1 << HLL_W} AS __rest")
        .selectExpr(*group_cols, "reg", f"{rank} AS rnk")
        .groupBy(*group_cols, "reg")
        .agg(F.max("rnk").alias("m_reg"))
    )


def hll_merge(sketch_a: DataFrame, sketch_b: DataFrame,
              group_cols: list) -> DataFrame:
    """Union two register tables with a register-wise MAX — the
    defining mergeability property of HLL."""
    u = sketch_a.unionByName(sketch_b)
    return u.groupBy(*group_cols, "reg").agg(
        F.max("m_reg").alias("m_reg"))


def hll_estimate_sql(s_col: str, c_col: str) -> str:
    """Final-estimate expression over ``s = SUM(2^(w+1-m_reg))`` and
    ``c = COUNT(registers)`` — shared verbatim by the Spark query and
    the DuckDB oracle.

    The harmonic mean's powers of two are kept as a scaled BIGINT sum
    (exact in both engines); the only floating ops are one division
    chain of IEEE-exact multiplies and, on the linear-counting branch,
    one ln() behind the QTRUNC barrier. alpha_64 = 0.709 (Flajolet et
    al. 2007), the constant for ``HLL_B`` = 6.
    """
    m = 1 << HLL_B
    raw = (f"(709e-3 * {m}e0 * {m}e0 * {float(1 << (HLL_W + 1)):.0f}e0"
           f" / CAST({s_col} AS DOUBLE))")
    lin = f"({m}e0 * ln({m}e0 / CAST({m} - {c_col} AS DOUBLE)))"
    return (
        f"CASE WHEN ({m} - {c_col}) > 0 AND {raw} <= {5 * m // 2}e0"
        f" THEN {QTRUNC(lin, 6)} ELSE {QTRUNC(raw, 6)} END"
    )


def hll_estimate(sketch: DataFrame, group_cols: list) -> DataFrame:
    """Finalize a register table into per-group estimates
    (group_cols..., hll_estimate, registers_used)."""
    est = hll_estimate_sql("__s", "__c")
    return (
        sketch.groupBy(*group_cols)
        .agg(
            F.expr(f"SUM(SHIFTLEFT(CAST(1 AS BIGINT),"
                   f" {HLL_W + 1} - m_reg))").alias("__s"),
            F.count(F.lit(1)).alias("__c"),
        )
        .selectExpr(*group_cols, f"{est} AS hll_estimate",
                    "CAST(__c AS INT) AS registers_used")
    )


# ----------------------------------------------------------------------
# DDSketch-style mergeable quantile sketch (Masson, Rim, Lee 2019:
# "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees"). Positive store only, log-gamma
# buckets: index(v) = floor(ln(v)/ln(gamma)); estimate for a bucket
# is 2*gamma^i/(gamma+1) (the bucket's midpoint in relative terms).
#
# Determinism/oracle parity: gamma is the exact double 1.01/0.99
# computed the same way in both engines, ln() results pass the QTRUNC
# barrier before floor() so the bucket boundary can't flip between
# libm implementations, and counts are integers — merging is plain
# per-bucket addition, so the sketch is value-exact cross-engine,
# unlike engine-native percentile_approx.
# ----------------------------------------------------------------------

DD_GAMMA_SQL = "(101e0 / 99e0)"          # (1+a)/(1-a), a = 1% rel err


def dd_bucket_sql(value_sql: str, qtrunc) -> str:
    r = qtrunc(f"ln({value_sql}) / ln({DD_GAMMA_SQL})", 9)
    return f"CAST(FLOOR({r}) AS BIGINT)"


def dd_sketch(df: DataFrame, group_cols: list,
              value_sql: str) -> DataFrame:
    """Per-group DDSketch rows (group..., bucket, cnt) over POSITIVE
    values of ``value_sql`` (the standard positive store; route
    zeros/negatives to a separate counter if they matter). One hash
    aggregation; O(groups x log-range/log-gamma) rows out."""

    b = dd_bucket_sql(value_sql, QTRUNC)
    # NOT isnan: Spark orders NaN above every double (NaN > 0 is
    # true) while DuckDB does not — exclude explicitly so both
    # engines sketch the same row set under NaN drift
    return (
        df.filter(F.expr(f"({value_sql}) > 0"
                         f" AND NOT isnan({value_sql})"))
        .selectExpr(*group_cols, f"{b} AS bucket")
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dd_merge(sketch_a: DataFrame, sketch_b: DataFrame,
             group_cols: list) -> DataFrame:
    """Merge = per-bucket count addition (fully mergeable by
    construction)."""
    return (
        sketch_a.unionByName(sketch_b)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def dd_quantile_sql(q: str, qtrunc) -> tuple[str, str]:
    """(cutoff condition template, estimate expression) for quantile
    ``q`` given columns cum (cumulative count), total n, bucket."""
    est = qtrunc(
        f"2e0 * POW({DD_GAMMA_SQL}, bucket) / ({DD_GAMMA_SQL} + 1e0)",
        9)
    return f"cum >= ({q}) * n", est


def dd_quantiles(sketch: DataFrame, group_cols: list,
                 qs: dict[str, str]) -> DataFrame:
    """Per-group quantile estimates from a sketch: walk buckets in
    ascending order, take the first whose cumulative count covers
    q * n. ``qs`` maps output column -> SQL quantile literal."""
    from pyspark.sql import Window

    w = (Window.partitionBy(*group_cols).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    t = (
        sketch.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(
            Window.partitionBy(*group_cols)))
    )
    aggs = [F.sum("cnt").cast("bigint").alias("n_values")]
    for name, q in qs.items():
        cond, est = dd_quantile_sql(q, QTRUNC)
        aggs.append(
            F.min(F.expr(f"CASE WHEN {cond} THEN {est} END"))
            .alias(name))
    return t.groupBy(*group_cols).agg(*aggs)
