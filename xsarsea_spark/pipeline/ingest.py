"""Exactly-once curated-table ingest: the per-batch kernel behind
``stream_curated_ingest`` (suite/pipeline_suite.py), factored out so
the crash-window semantics are unit-testable.

Design (the production two-tier dedup shape for a 100-TB ingest):

- within-batch exact dedup on a content digest (md5 of text);
- cross-batch dedup split by a PERSISTED bloom sidecar (KB-sized
  ``(word, bits)`` parquet): bloom-NEGATIVE rows are definitely new
  and skip the table scan; bloom-POSITIVE rows pay an exact digest
  anti-join against the materialized table;
- z-clustered parquet append (file-skip friendly on both z-dims).

Crash-window soundness: trusting bloom-negatives is only valid when
the sidecar provably covers every digest ever appended. A crash
between the table append and the sidecar write would break that, so
the sidecar carries a sync marker recording the table's parquet file
inventory at write time; on the next batch a mismatch (crash window,
external compaction, manual writes) demotes the WHOLE batch to the
unconditional exact anti-join — slower, still exactly-once. The
marker is written last, so every failure point leaves the pair
(table, sidecar) either in sync or detectably out of sync.

Reference parity note: the reference engine (umr-lops/xsarsea) has no
ingest surface; this module is part of the LLM-data-pipeline
extension mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xsarsea_spark.engine import (fs_exists, fs_list_names,
                                  fs_read_text, fs_write_text,
                                  load_kv_json, materialize,
                                  save_kv_json)
from xsarsea_spark.operators.sketch import bloom_build, bloom_mark
from xsarsea_spark.pipeline.dedup import (JACCARD_T, jaccard_verify,
                                          lsh_bands, lsh_probe,
                                          minhash_signatures, shingle)
from xsarsea_spark.sources.sinks import write_zordered

__all__ = ["ingest_curated_batch", "ingest_neardup_batch"]

# File inventories and sync markers go through the Hadoop FS API
# (engine.fs_*), so the ingest state can live on a DFS
# (hdfs://, s3a://) exactly like the tables it protects — the
# os/shutil local-only constraint no longer applies to this module.


def _parquet_files(spark: SparkSession, d: str) -> list[str]:
    return sorted(f for f in fs_list_names(spark, d)
                  if f.endswith(".parquet"))


def ingest_curated_batch(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    bloom_path: str,
    marker_path: str,
    *,
    min_chars: int,
    zcols: list[str],
    zbits: int,
    m_bits: int,
    k: int,
    n_files: int = 4,
    prep=None,
) -> None:
    """Curate one micro-batch of ``documents`` rows and append the
    new digests to the z-ordered table at ``table_dir``, exactly
    once, updating the bloom sidecar + sync marker.

    ``prep`` (optional) maps the raw micro-batch to the curated frame
    BEFORE dedup: it must emit a ``digest`` column (the dedup key)
    and ``doc_id`` (the within-batch precedence order); all its
    columns land in the table. Default: the content-digest curation
    (length gate + md5(text)). The URL-keyed ingest passes the
    canonicalized dup-key digest here — same two-tier bloom/anti-join
    core, different identity of "duplicate"."""

    if prep is None:
        curated = (
            df.filter(F.expr(
                f"text IS NOT NULL AND n_chars >= {min_chars}"))
            .withColumn("digest", F.expr("md5(text)"))
            .select("doc_id", "lang", "n_chars", "digest")
        )
    else:
        curated = prep(df)
    wmd5 = Window.partitionBy("digest").orderBy("doc_id")
    batch = (
        # a row whose digest is NULL has no dedup identity (e.g. a
        # URL that could not be derived) — it cannot be ingested
        # exactly-once, so it is dropped, never grouped-by-NULL
        curated.filter(F.col("digest").isNotNull())
        .withColumn("__rn", F.row_number().over(wmd5))
        .filter("__rn = 1")
        .select(*curated.columns)
    )

    has_table = bool(_parquet_files(spark, table_dir))
    bloom_in_sync = False
    if fs_exists(spark, bloom_path) and fs_exists(spark, marker_path):
        bloom_in_sync = (fs_read_text(spark, marker_path)
                         == "\n".join(_parquet_files(spark, table_dir)))

    if has_table and bloom_in_sync:
        bloom = spark.createDataFrame(
            [(int(w), int(b)) for w, b in
             load_kv_json(spark, bloom_path)],
            "word int, bits bigint")
        marked = bloom_mark(batch, bloom, "digest", m_bits=m_bits, k=k)
        fresh = marked.filter("NOT __maybe").drop("__maybe")
        maybe = marked.filter("__maybe").drop("__maybe")
        existing = spark.read.parquet(table_dir).select("digest")
        checked = maybe.join(existing, on="digest", how="left_anti")
        batch = fresh.unionByName(checked)
    elif has_table:
        existing = spark.read.parquet(table_dir).select("digest")
        batch = batch.join(existing, on="digest", how="left_anti")

    # materialize so the delta-bloom build and the table append see
    # the identical row set (and the bloom/table reads in the lineage
    # aren't replayed against post-append state)
    batch = materialize(batch)
    delta = bloom_build(batch.select("digest"), "digest",
                        m_bits=m_bits, k=k).collect()
    write_zordered(batch, table_dir, zcols, bits=zbits,
                   n_files=n_files, mode="append")
    # incremental sidecar update: OR the APPENDED digests' words into
    # the persisted filter — O(batch) work on the happy path.
    # Merged driver-side (O(m_bits/63) rows, ~2k). The sidecar is a
    # JSON KV file via the Hadoop FS helpers (round 15): a
    # per-micro-batch createDataFrame->repartition(1)->parquet write
    # plus a read-back was ~0.5+0.3 s of fixed Spark-job cost per
    # batch for KB of state; the JSON write is a driver-side
    # tmp+rename (crash-safer, too: the old parquet overwrite had a
    # delete-then-write window, rename is single-step) and the read
    # side rebuilds the same (word, bits) frame via createDataFrame.
    #
    # DEMOTED path exception: a stale-or-missing sidecar may have
    # holes for digests appended during the crash window, and writing
    # the sync marker below would certify those holes as coverage —
    # every later batch would trust bloom-NEGATIVES that are actually
    # in the table. Re-certify by rebuilding the word map from the
    # FULL table (post-append, so it covers this batch too): the
    # one-time table rescan is the honest cost of crash recovery.
    words: dict[int, int] = {}
    if has_table and not bloom_in_sync:
        rebuilt = bloom_build(
            spark.read.parquet(table_dir).select("digest"),
            "digest", m_bits=m_bits, k=k).collect()
        for r in rebuilt:
            words[int(r["word"])] = int(r["bits"])
    elif fs_exists(spark, bloom_path):
        for w, b in load_kv_json(spark, bloom_path):
            words[int(w)] = int(b)
    for r in delta:
        w = int(r["word"])
        words[w] = words.get(w, 0) | int(r["bits"])
    save_kv_json(spark, sorted(words.items()), bloom_path)
    fs_write_text(spark, marker_path,
                  "\n".join(_parquet_files(spark, table_dir)))


def ingest_neardup_batch(
    spark: SparkSession,
    df: DataFrame,
    seen_dir: str,
    bands_dir: str,
    marker_path: str,
) -> None:
    """Exactly-once NEAR-DUP ingest: one micro-batch of ``documents``
    rows deduplicated by MinHash-LSH (default ``shingle`` /
    ``minhash_signatures``, Jaccard >= ``JACCARD_T``) against
    everything already seen, with the band table as the only persisted
    index.

    Persisted state (both under the stream's control):

    - ``seen_dir``: every batch row ever processed (accepted flag
      included) — the doc store candidates re-shingle from;
    - ``bands_dir``: the LSH band table for every seen doc — what new
      batches probe in O(batch bands).

    Precedence: a batch doc is DROPPED if a verified pair connects it
    to any already-seen doc (seen = arrived earlier) or to a
    lower-id doc within its own batch — with batches arriving in
    doc_id order this is exactly the one-shot "drop id_b of every
    verified pair" semantics (the suite oracle); for unordered
    streams arrival order is the documented tie-break. A dropped
    doc's bands STAY in the index (near-dup is not transitive: a
    later doc can be a duplicate of a dropped doc without being a
    duplicate of its keeper, and the one-shot semantics drop it).

    Crash-window design (the band table is CORRECTNESS state here,
    not an optimization like the curated ingest's bloom): appends go
    seen-table first, band-table second, sync marker (recording the
    seen-table file inventory the bands cover) last. On any mismatch
    the next ingest SELF-HEALS: seen ids anti-joined against band ids
    yields exactly the docs whose bands are missing; they are
    re-shingled and appended before the batch proceeds. Replays are
    idempotent via an id anti-join against the seen table.
    """

    has_seen = bool(_parquet_files(spark, seen_dir))
    seen = spark.read.parquet(seen_dir) if has_seen else None

    # self-heal: if the marker doesn't prove the band table covers the
    # current seen inventory (crash between the two appends), rebuild
    # the missing docs' bands from the doc store before probing
    if has_seen:
        in_sync = (fs_exists(spark, marker_path)
                   and fs_read_text(spark, marker_path)
                   == "\n".join(_parquet_files(spark, seen_dir)))
        if not in_sync:
            band_ids = (spark.read.parquet(bands_dir)
                        .select("doc_id").distinct()
                        if _parquet_files(spark, bands_dir) else None)
            missing = seen.select("doc_id", "text")
            if band_ids is not None:
                missing = missing.join(band_ids, on="doc_id",
                                       how="left_anti")
            heal = lsh_bands(minhash_signatures(shingle(missing)))
            heal = materialize(heal)
            if heal.limit(1).count():
                heal.write.mode("append").parquet(bands_dir)
            fs_write_text(spark, marker_path,
                          "\n".join(_parquet_files(spark, seen_dir)))

    # replay backstop: only genuinely-new ids enter the batch
    batch = df
    if has_seen:
        batch = batch.join(seen.select("doc_id"), on="doc_id",
                           how="left_anti")
    batch = materialize(batch)

    sh_b = shingle(batch)
    bands_b = lsh_bands(minhash_signatures(sh_b))

    state_bands = (spark.read.parquet(bands_dir)
                   if _parquet_files(spark, bands_dir) else None)
    if state_bands is not None:
        cand_hist = lsh_probe(bands_b, state_bands)
    else:
        cand_hist = None
    l, r = bands_b.alias("l"), bands_b.alias("r")
    cand_batch = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bandhash") == F.col("r.bandhash"))
               & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"))
        .distinct()
    )
    cand = (cand_batch if cand_hist is None
            else cand_hist.unionByName(cand_batch).distinct())

    sh = sh_b
    if cand_hist is not None:
        hist_needed = cand.select(
            F.col("id_a").alias("doc_id")).distinct()
        sh_h = shingle(
            seen.select("doc_id", "text")
            .join(hist_needed, on="doc_id", how="left_semi"))
        sh = sh.unionByName(sh_h)
    drops = (
        jaccard_verify(cand, sh)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select(F.col("id_b").alias("doc_id")).distinct()
    )
    out = materialize(
        batch.join(drops.withColumn("__dup", F.lit(True)),
                   on="doc_id", how="left")
        .withColumn("accepted", F.expr("NOT coalesce(__dup, false)"))
        .drop("__dup"))
    out.write.mode("append").parquet(seen_dir)
    materialize(bands_b).write.mode("append").parquet(bands_dir)
    fs_write_text(spark, marker_path,
                  "\n".join(_parquet_files(spark, seen_dir)))
