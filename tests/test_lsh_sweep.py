"""Band-shape generalization + pHash banding guarantees."""
from __future__ import annotations

from pyspark.sql import functions as F


def test_lsh_bands_default_matches_historical_hash(spark):
    """rows_per_band=2 (the persisted-state format every band table
    on disk was written with) must stay bit-identical to the
    historical single-step (m0 * MULT + m1) % P fold after the
    Horner-chain generalization."""
    from xsarsea_spark.pipeline.dedup import (MINHASH_P, _BAND_MULT,
                                              lsh_bands)

    sig = spark.range(400).selectExpr(
        "id % 25 AS doc_id", "CAST(id % 16 AS INT) AS k",
        f"CAST((id * 2654435761) % {MINHASH_P} AS BIGINT) AS minh")
    got = {(r["doc_id"], r["band"]): r["bandhash"]
           for r in lsh_bands(sig).collect()}
    want = {(r["doc_id"], r["band"]): r["bandhash"]
            for r in sig.withColumn("band", F.expr("CAST(FLOOR(k / 2)"
                                                   " AS INT)"))
            .withColumn("slot", F.expr("k % 2"))
            .groupBy("doc_id", "band")
            .agg(F.expr(
                f"(max(CASE WHEN slot = 0 THEN minh END)"
                f" * {_BAND_MULT}"
                f" + max(CASE WHEN slot = 1 THEN minh END))"
                f" % {MINHASH_P}").alias("bandhash")).collect()}
    assert got == want and got


def test_phash_banding_recall_is_pigeonhole_exact(spark):
    """Every pair within max_hamming=3 bits MUST be a candidate (3
    differing bits cannot dirty all 4 bands) — so n_neardups from
    the banded join equals the brute-force count."""
    from xsarsea_spark.pipeline.multimodal import phash_neardup

    hashes = [0b0, 0b111, 0b1 << 30, (0b1 << 30) | 0b11,
              0x5A5A5A5A % (1 << 31), 0x5A5A5A58 % (1 << 31),
              0x12345678 % (1 << 31)]
    ph = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)],
        "doc_id long, phash long")
    got = {r["doc_id"]: r["n_neardups"]
           for r in phash_neardup(ph).collect()}
    want = {i: sum(1 for j, o in enumerate(hashes)
                   if j != i and bin(h ^ o).count("1") <= 3)
            for i, h in enumerate(hashes)}
    assert got == want
