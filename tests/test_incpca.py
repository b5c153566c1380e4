"""Incremental PCA state: int64 quantum sums make batch merging
exactly replay-equivalent — state(batches) merged in ANY grouping must
equal state(union) bit-for-bit, and the eigensolve must read off the
state alone."""

from __future__ import annotations

from .conftest import SF_DIR_SMALL


def _state_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batched_state_equals_oneshot(spark):
    from xsarsea_spark.pipeline.incpca import moment_merge, moment_state

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    full = moment_state(emb, d=64)
    parts = [moment_state(emb.filter(f"vec_id % 3 = {b}"), d=64)
             for b in range(3)]
    merged = moment_merge(parts)
    assert _state_rows(merged) == _state_rows(full)
    # associativity/grouping independence: ((b0+b1)+b2) == (b0+(b1+b2))
    left = moment_merge([moment_merge(parts[:2]), parts[2]])
    right = moment_merge([parts[0], moment_merge(parts[1:])])
    assert _state_rows(left) == _state_rows(right) == _state_rows(full)


def test_eigensolve_from_merged_state_matches_oneshot(spark):
    from xsarsea_spark.pipeline.incpca import (moment_merge,
                                               moment_state,
                                               pca_from_moments)

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    one = pca_from_moments(moment_state(emb, d=64))
    parts = [moment_state(emb.filter(f"vec_id % 2 = {b}"), d=64)
             for b in range(2)]
    inc = pca_from_moments(moment_merge(parts))
    got = sorted(tuple(r) for r in inc.collect())
    want = sorted(tuple(r) for r in one.collect())
    assert got == want
    assert len(got) == 64


def test_empty_corpus_yields_no_rows(spark):
    from xsarsea_spark.pipeline.incpca import moment_state, pca_from_moments

    emb = spark.read.parquet(
        f"{SF_DIR_SMALL}/embeddings.parquet").filter("vec_id < 0")
    out = pca_from_moments(moment_state(emb, d=64))
    assert out.count() == 0


def test_planted_drift_is_flagged(spark):
    """A batch mean-shifted in one dimension must trip the |z| > 3
    gate in that dimension and nowhere else (same-distribution dims
    stay within noise)."""
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.incpca import moment_state, moment_stats

    d = 8
    rows = []
    for vid in range(3000):
        vec = [(((vid * 37 + k * 11) % 97) / 97.0) - 0.5
               for k in range(d)]
        rows.append((vid, vec))
    hist = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    batch = hist.withColumn("embedding", F.expr(
        "transform(embedding, (x, k) ->"
        " CASE WHEN k = 3 THEN x + 0.5 ELSE x END)"))
    h = moment_stats(moment_state(hist, d=d)).select(
        "i", F.col("mu").alias("mu_h"), F.col("var").alias("var_h"))
    b = moment_stats(moment_state(batch, d=d)).select(
        "i", F.col("mu").alias("mu_b"), F.col("n").alias("n_b"))
    z = {r["i"]: (r["mu_b"] - r["mu_h"])
         / ((r["var_h"] / r["n_b"]) ** 0.5)
         for r in h.join(b, on="i").collect()}
    assert len(z) == d
    for i, v in z.items():
        if i == 4:          # 1-based dim of the planted k = 3 shift
            assert abs(v) > 3
        else:
            assert abs(v) <= 3


def test_stream_absorb_versioning_is_replay_safe(spark, tmp_path):
    """The stream_drift_gate foreachBatch protocol: batch N builds
    state version v{N} from v{N-1} plus its own rows. A crash-replay
    of a batch (same batch_id re-delivered) must rebuild the SAME
    version — never double-count by merging onto its own output — and
    the final version must equal the one-shot state bit-for-bit."""
    import os

    from xsarsea_spark.pipeline.incpca import moment_merge, moment_state
    from xsarsea_spark.streaming.harness import version_below

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    state_dir = str(tmp_path / "state")

    def absorb(df, batch_id):
        part = moment_state(df, d=64)
        prev = version_below(spark, state_dir, batch_id)
        cur = (moment_merge([spark.read.parquet(prev), part])
               if prev else part)
        cur.repartition(1).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}"))

    b0 = emb.filter("vec_id % 2 = 0")
    b1 = emb.filter("vec_id % 2 = 1")
    absorb(b0, 0)
    absorb(b1, 1)
    first = _state_rows(spark.read.parquet(os.path.join(state_dir, "v1")))
    absorb(b1, 1)    # crash-replay of batch 1: must be a no-op rebuild

    final = spark.read.parquet(os.path.join(state_dir, "v1"))
    assert _state_rows(final) == first
    oneshot = moment_state(emb, d=64)
    assert _state_rows(final) == _state_rows(oneshot)


def test_zero_variance_dim_with_shift_is_drifted_not_null(spark):
    """A historically-constant dimension whose batch mean moved must
    flag drifted=true (z_shift stays NULL — nothing to standardize
    by), and one that did NOT move must flag false: `drifted` is a
    concrete boolean everywhere so filter(drifted) never silently
    skips a dimension."""
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.incpca import drift_report, moment_state

    d = 4
    # dims 1..4 (1-based): dim 1 constant->shifted, dim 2 constant->
    # constant same value, dims 3-4 varying, dim 4 shifted hard
    hist = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.expr("array(0.25D, -1.0D,"
               " ((id * 37) % 97) / 97.0D,"
               " ((id * 11) % 89) / 89.0D)").alias("embedding"))
    batch = spark.range(2000, 2500).select(
        F.col("id").alias("vec_id"),
        F.expr("array(0.75D, -1.0D,"
               " ((id * 37) % 97) / 97.0D,"
               " ((id * 11) % 89) / 89.0D + 9.0D)").alias("embedding"))
    rep = {r["dim"]: r for r in drift_report(
        moment_state(hist, d=d), moment_state(batch, d=d)).collect()}
    assert rep[1]["z_shift"] is None and rep[1]["drifted"] is True
    assert rep[2]["z_shift"] is None and rep[2]["drifted"] is False
    assert rep[4]["drifted"] is True
    for r in rep.values():
        assert r["drifted"] is not None
