"""Crash-window soundness of the two-tier (bloom + exact anti-join)
curated-table ingest (`xsarsea_spark.pipeline.ingest`).

The bloom fast path trusts bloom-NEGATIVE digests as definitely new.
That is only sound while the sidecar covers every appended digest; a
crash between the table append and the sidecar write breaks it. The
fix under test: the sidecar's sync marker records the table file
inventory, and a mismatch demotes the whole batch to the exact
anti-join. These tests simulate the crash by appending to the table
WITHOUT updating the sidecar, then replaying — duplicates must not
appear."""

from __future__ import annotations

import os

import pytest

from .conftest import SF_DIR_SMALL

_KW = dict(min_chars=50, zcols=["n_chars", "doc_id"], zbits=13,
           m_bits=1 << 17, k=5)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")


def _paths(tmp_path):
    base = str(tmp_path)
    return (os.path.join(base, "table"),
            os.path.join(base, "bloom.parquet"),
            os.path.join(base, "bloom_sync.txt"))


def _digest_counts(spark, table_dir):
    rows = (spark.read.parquet(table_dir)
            .groupBy("digest").count().collect())
    return {r["digest"]: r["count"] for r in rows}


def test_replay_after_crash_window_adds_no_duplicates(spark, tmp_path):
    """Simulated crash: batch B is appended to the table but the
    sidecar write never happens. Replaying B must not duplicate —
    the stale sync marker forces the exact anti-join."""
    from xsarsea_spark.pipeline.ingest import ingest_curated_batch

    table_dir, bloom_path, marker_path = _paths(tmp_path)
    docs = _docs(spark)
    batch_a = docs.filter("doc_id % 3 = 0")
    batch_b = docs.filter("doc_id % 3 = 1")

    ingest_curated_batch(spark, batch_a, table_dir, bloom_path,
                         marker_path, **_KW)
    # crash window: append batch B's rows, then roll the sidecar +
    # marker back to their pre-B state (as if the process died
    # between the append and the sidecar write)
    # the sidecar is a single JSON KV file (round 15); the crash
    # simulation copies/restores the file instead of a parquet dir
    import shutil
    shutil.copy(bloom_path, bloom_path + ".bak")
    marker_bak = open(marker_path).read()
    ingest_curated_batch(spark, batch_b, table_dir, bloom_path,
                         marker_path, **_KW)
    os.remove(bloom_path)
    shutil.copy(bloom_path + ".bak", bloom_path)
    with open(marker_path, "w") as fh:
        fh.write(marker_bak)

    before = _digest_counts(spark, table_dir)
    assert before and max(before.values()) == 1

    # replay batch B (the foreachBatch retry after the crash)
    ingest_curated_batch(spark, batch_b, table_dir, bloom_path,
                         marker_path, **_KW)
    after = _digest_counts(spark, table_dir)
    assert after == before, "replay after crash window duplicated rows"

    # and the recovered sidecar is usable again: a genuinely new
    # batch still ingests exactly its new digests
    batch_c = docs.filter("doc_id % 3 = 2")
    ingest_curated_batch(spark, batch_c, table_dir, bloom_path,
                         marker_path, **_KW)
    final = _digest_counts(spark, table_dir)
    assert max(final.values()) == 1
    full = _digest_counts(spark, table_dir)
    # every curated digest of the full corpus present exactly once
    from pyspark.sql import functions as F
    expect = (docs.filter(f"text IS NOT NULL AND n_chars >= 50")
              .select(F.expr("md5(text)").alias("d")).distinct().count())
    assert len(full) == expect

    # the recovered sidecar must COVER the crash-window digests, not
    # just carry a fresh marker: re-ingest batch B's texts under new
    # doc_ids (same md5 digests). A bloom with holes would call them
    # bloom-NEGATIVE ("definitely new") and append duplicates.
    batch_b_reworded = batch_b.withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000))
    ingest_curated_batch(spark, batch_b_reworded, table_dir, bloom_path,
                         marker_path, **_KW)
    again = _digest_counts(spark, table_dir)
    assert again == full, \
        "post-recovery bloom has holes: crash-window digests re-appended"


def test_happy_path_uses_bloom_and_stays_exact(spark, tmp_path):
    """No crash: second ingest of the same batch is a no-op and the
    sync marker matches the table inventory after every ingest."""
    from xsarsea_spark.pipeline.ingest import ingest_curated_batch

    table_dir, bloom_path, marker_path = _paths(tmp_path)
    docs = _docs(spark)
    ingest_curated_batch(spark, docs, table_dir, bloom_path,
                         marker_path, **_KW)
    before = _digest_counts(spark, table_dir)
    inventory = sorted(f for f in os.listdir(table_dir)
                       if f.endswith(".parquet"))
    assert open(marker_path).read() == "\n".join(inventory)
    ingest_curated_batch(spark, docs, table_dir, bloom_path,
                         marker_path, **_KW)
    assert _digest_counts(spark, table_dir) == before


def _nd_paths(tmp_path):
    base = str(tmp_path)
    return (os.path.join(base, "seen"), os.path.join(base, "bands"),
            os.path.join(base, "bands_sync.txt"))


def _accepted(spark, seen_dir):
    return {r["doc_id"] for r in spark.read.parquet(seen_dir)
            .filter("accepted").select("doc_id").collect()}


def _oneshot_accept(spark):
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup

    docs = _docs(spark)
    pairs = minhash_lsh_dedup(docs)
    drops = {r["id_b"] for r in pairs.select("id_b").collect()}
    return {r["doc_id"] for r in docs.select("doc_id").collect()} - drops


def test_neardup_ingest_batched_equals_oneshot(spark, tmp_path):
    """Ingesting in two id-ordered batches must accept exactly the
    docs the one-shot full-corpus near-dedup keeps (drop-id_b
    precedence), and a replayed batch must be a no-op."""
    from xsarsea_spark.pipeline.ingest import ingest_neardup_batch

    seen_dir, bands_dir, marker = _nd_paths(tmp_path)
    docs = _docs(spark)
    cut = int(docs.agg({"doc_id": "max"}).collect()[0][0] * 0.6)
    b1 = docs.filter(f"doc_id < {cut}")
    b2 = docs.filter(f"doc_id >= {cut}")

    ingest_neardup_batch(spark, b1, seen_dir, bands_dir, marker)
    ingest_neardup_batch(spark, b2, seen_dir, bands_dir, marker)
    got = _accepted(spark, seen_dir)
    assert got == _oneshot_accept(spark)

    # replay of batch 2: id anti-join backstop makes it a no-op
    before = spark.read.parquet(seen_dir).count()
    ingest_neardup_batch(spark, b2, seen_dir, bands_dir, marker)
    assert spark.read.parquet(seen_dir).count() == before
    assert _accepted(spark, seen_dir) == got


def test_neardup_ingest_self_heals_lost_bands(spark, tmp_path):
    """Crash between the seen append and the band append loses index
    entries; the next ingest must rebuild them from the doc store
    (marker mismatch -> anti-join -> re-band) and still converge to
    the one-shot answer."""
    import shutil

    from xsarsea_spark.pipeline.ingest import ingest_neardup_batch

    seen_dir, bands_dir, marker = _nd_paths(tmp_path)
    docs = _docs(spark)
    cut = int(docs.agg({"doc_id": "max"}).collect()[0][0] * 0.6)
    ingest_neardup_batch(spark, docs.filter(f"doc_id < {cut}"),
                         seen_dir, bands_dir, marker)
    # simulate the crash window: band table and marker gone, seen kept
    shutil.rmtree(bands_dir)
    os.remove(marker)
    ingest_neardup_batch(spark, docs.filter(f"doc_id >= {cut}"),
                         seen_dir, bands_dir, marker)
    assert _accepted(spark, seen_dir) == _oneshot_accept(spark)
