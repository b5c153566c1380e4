"""Catalog / registry / LUT-source query battery.

- ``available_models``: priority-based alias resolution over the model
  catalog (models.py:453-498) — window dedup + union, oracle-checked
  against the same rows as a VALUES literal.
- ``lut_step_inference``: step/range inference from coordinate columns
  (pickle_luts.py:42-45, models.py:257-260) via lag-window diffs.
- ``multimodal_features``: binary-payload plumbing + Arrow-batched
  byte feature extraction (rows-only: md5 digests et al. are exact but
  array columns and the fake-decode stub make a value hash overkill).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.expr import double_lit
from xsarsea_spark.operators.exactsum import QTRUNC
from xsarsea_spark.pipeline.multimodal import (PND_BANDS, PND_BITS,
                                               PND_MAX_HAMMING)
from xsarsea_spark.sources.registry import default_catalog
from xsarsea_spark.sources.tables import load
from xsarsea_spark.suite.base import spec


def _catalog_values() -> str:
    rows = []
    for (name, short, kind, pol, units, prio, path) in \
            default_catalog().rows():
        rows.append(f"('{name}', '{short}', '{kind}', '{pol}', "
                    f"'{units}', {prio})")
    return ", ".join(rows)


_AVAIL_ORACLE = f"""
WITH cat AS (
  SELECT * FROM (VALUES {_catalog_values()})
    t(name, short_name, kind, pol, units, priority)),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY short_name ORDER BY priority ASC, name ASC) AS rn
  FROM cat)
SELECT name, CASE WHEN rn = 1 THEN short_name END AS alias,
  kind, pol, units, CAST(NULL AS VARCHAR) AS path
FROM ranked
"""


@spec(
    "available_models",
    _AVAIL_ORACLE,
    description="Model catalog with priority alias resolution "
                "(models.py:453-498): window dedup, broadcastable "
                "catalog table",
    tags=("catalog",),
)
def q_available_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    return default_catalog().available(spark)


# ----------------------------------------------------------------------
# Step/range inference from LUT coordinates
# ----------------------------------------------------------------------

_AXES = (("incidence", 16.0, 2.5, 21), ("wspd", 3.0, 1.6, 30),
         ("phi", 0.0, 12.0, 16))


def _axis_union_sql() -> str:
    parts = []
    for name, x0, step, n in _AXES:
        parts.append(
            f"SELECT '{name}' AS axis,"
            f" {double_lit(x0)} + range * {double_lit(step)} AS x"
            f" FROM range({n})"
        )
    return " UNION ALL ".join(parts)


_STEP_ORACLE = f"""
WITH coords AS ({_axis_union_sql()}),
d AS (
  SELECT axis, x, x - LAG(x) OVER (PARTITION BY axis ORDER BY x) AS dx
  FROM coords)
SELECT axis,
  MIN(x) AS lo, MAX(x) AS hi,
  MIN(ROUND(dx, 2)) AS step,
  COUNT(x) AS n
FROM d GROUP BY axis
"""


@spec(
    "lut_step_inference",
    _STEP_ORACLE,
    description="LUT axis step/range inference from coordinate values "
                "(lag-window diff + round, pickle_luts.py:42-45)",
    tags=("catalog", "lut"),
)
def q_step_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    coords = None
    for name, x0, step, n in _AXES:
        a = spark.range(n).select(
            F.lit(name).alias("axis"),
            (F.lit(x0) + F.col("id") * F.lit(step)).alias("x"),
        )
        coords = a if coords is None else coords.unionByName(a)
    w = Window.partitionBy("axis").orderBy("x")
    d = coords.withColumn("dx", F.col("x") - F.lag("x").over(w))
    return d.groupBy("axis").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.min(F.round("dx", 2)).alias("step"),
        F.count("x").alias("n"),
    )


# ----------------------------------------------------------------------
# Multimodal decode — REAL dependency-free PPM/BMP parsing in the
# Arrow kernel. Payloads are genuine binary containers built from the
# (ASCII) document text, so the oracle re-derives every decoded value
# from the text alone — container-agnostically, which is exactly the
# proof that each decoder inverts its encoding (the BMP path is a
# true bottom-up BGR byte permutation, not a pass-through).
# ----------------------------------------------------------------------


def _mm_decode_oracle() -> str:
    from xsarsea_spark.pipeline.multimodal import _IMG_H, _IMG_W

    full = _IMG_W * _IMG_H * 3
    chan = ("CAST(list_reduce(list_transform(range(0, npx // 3),"
            " j -> by[3 * j + {c}]), (x, y) -> x + y) AS DOUBLE)"
            " / (npx // 3)")
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 2 THEN {full // 2} ELSE {full} END AS npx,
    text
  FROM documents WHERE length(text) >= {full}),
p AS (SELECT doc_id, npx, substr(text, 1, npx) AS px FROM d),
b AS (SELECT doc_id, npx, px,
        list_transform(range(1, npx + 1),
          i -> ascii(substr(px, i, 1))) AS by
      FROM p)
SELECT doc_id,
  CAST({_IMG_W} AS BIGINT) AS width,
  CAST(CASE WHEN doc_id % 3 = 2 THEN {_IMG_H // 2}
       ELSE {_IMG_H} END AS BIGINT) AS height,
  {chan.format(c=1)} AS mean_r,
  {chan.format(c=2)} AS mean_g,
  {chan.format(c=3)} AS mean_b,
  md5(px) AS px_digest
FROM b
"""


@spec(
    "multimodal_features",
    _mm_decode_oracle(),
    description="Real multimodal decode: dependency-free binary PPM "
                "(P6, comment-aware tokenizer) and 24-bit BMP "
                "(bottom-up BGR, padded rows) parsers in the Arrow "
                "kernel; channel means are exact int sums and the "
                "decoded-buffer md5 is value-checked against a SQL "
                "re-derivation from the source bytes",
    tags=("pipeline", "multimodal"),
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.multimodal import (attach_image_payload,
                                                   decode_features)

    docs = load(spark, sf_dir, "documents")
    return decode_features(attach_image_payload(docs))


def _mm_oracle() -> str:
    """Byte features recomputed in SQL: the corpus is ASCII (verified
    length == octet_length for every row), so high nibbles come from
    per-character code points. Same fold orders as the UDF."""

    fracs = ", ".join(
        f"len(list_filter(codes, c -> c = {b}))"
        f" / CAST(GREATEST(length(text), 1) AS DOUBLE)"
        for b in range(16)
    )
    entropy = ("-(list_reduce(list_transform("
               "list_filter(fr, p -> p > 0e0), p -> p * log2(p)),"
               " (a, b) -> a + b)) + 0e0")
    checksum = ("list_reduce(list_transform(range(1, 17),"
                " i -> (i - 1) * fr[i]), (a, b) -> a + b)")
    return f"""
WITH codes AS (
  SELECT doc_id, text,
    list_transform(range(1, length(text) + 1),
      i -> ascii(substr(text, i, 1)) // 16) AS codes
  FROM documents WHERE text IS NOT NULL),
fr AS (SELECT doc_id, text, [{fracs}] AS fr FROM codes)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_bytes,
  {QTRUNC(entropy, 9)} AS byte_entropy,
  {checksum} AS hist_checksum,
  md5(text) AS content_digest,
  32 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 480
    AS fake_width,
  32 + CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 480
    AS fake_height
FROM fr
"""


@spec(
    "multimodal_feature_values",
    _mm_oracle(),
    description="Byte-feature extraction, value-exact: scalar features "
                "+ histogram checksum vs a SQL re-derivation from "
                "per-character code points (entropy QTRUNC'd across "
                "the numpy/DuckDB log2 ulp gap)",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.multimodal import (attach_payload,
                                                   extract_features)

    docs = load(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(docs))
    return feats.selectExpr(
        "doc_id",
        "n_bytes",
        f"{QTRUNC('byte_entropy', 9)} AS byte_entropy",
        "aggregate(zip_with(byte_hist, sequence(0, 15),"
        " (f, b) -> b * f), CAST(0 AS DOUBLE), (a, b) -> a + b)"
        " AS hist_checksum",
        "content_digest",
        "fake_width",
        "fake_height",
    )


# ----------------------------------------------------------------------
# Perceptual average-hash over the decoded images — pure integer
# arithmetic (block_sum * n_blocks > global_sum), so the hash is
# bit-reproducible from the source bytes in SQL: the oracle rebuilds
# every pixel's gray sum from the text, folds blocks, and packs the
# same LSB-first BIGINT.
# ----------------------------------------------------------------------


def _mm_ahash_oracle() -> str:
    from xsarsea_spark.pipeline.multimodal import _IMG_H, _IMG_W

    full = _IMG_W * _IMG_H * 3
    gw, gh = 8, 4
    nb = gw * gh
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 2 THEN {full // 2} ELSE {full} END AS nby,
    CASE WHEN doc_id % 3 = 2 THEN {_IMG_H // 2}
         ELSE {_IMG_H} END AS hh,
    text
  FROM documents WHERE length(text) >= {full}),
b AS (SELECT doc_id, hh, nby,
        list_transform(range(1, nby + 1),
          i -> ascii(substr(text, i, 1))) AS by
      FROM d),
px AS (
  SELECT doc_id, hh,
    unnest(range(0, nby // 3)) AS p, by
  FROM b),
g AS (
  SELECT doc_id, hh,
    (((p // {_IMG_W}) // (hh // {gh})) * {gw}
      + ((p % {_IMG_W}) // {_IMG_W // gw})) AS k,
    by[3 * p + 1] + by[3 * p + 2] + by[3 * p + 3] AS gray
  FROM px),
blk AS (
  SELECT doc_id, hh, k, SUM(gray) AS bsum
  FROM g GROUP BY doc_id, hh, k),
tot AS (
  SELECT doc_id, SUM(gray) AS gsum FROM g GROUP BY doc_id)
SELECT blk.doc_id,
  CAST({_IMG_W} AS BIGINT) AS width,
  CAST(hh AS BIGINT) AS height,
  CAST(SUM(CASE WHEN bsum * {nb} > tot.gsum
       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS ahash
FROM blk JOIN tot ON tot.doc_id = blk.doc_id
GROUP BY blk.doc_id, hh
"""


@spec(
    "multimodal_ahash",
    _mm_ahash_oracle(),
    description="Perceptual average-hash of decoded images in pure "
                "integer arithmetic (block_sum * n_blocks > "
                "global_sum, no floats, no ties-by-rounding) — the "
                "32-bit hash re-derived bit-exactly by the SQL "
                "oracle from the source bytes",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.multimodal import (ahash_features,
                                                   attach_image_payload)

    docs = load(spark, sf_dir, "documents")
    return ahash_features(attach_image_payload(docs))


# ----------------------------------------------------------------------
# DCT perceptual hash (pHash) — the scale image-dedup fingerprint
# (robust to brightness/contrast where aHash is not). Fixed-point
# int64 DCT (round(C * 2^14), libjpeg-islow idea) so the SQL oracle
# re-derives every coefficient, the 16th-of-31 AC median, and the
# packed hash bit-for-bit from the source bytes: coefficients are a
# SUM over the 32 block sums joined with two DCT-constant VALUES
# tables — integer arithmetic end to end, no accumulation-order risk.
# ----------------------------------------------------------------------


def _mm_phash_oracle() -> str:
    from xsarsea_spark.pipeline.multimodal import _IMG_H, _IMG_W, dct_int

    full = _IMG_W * _IMG_H * 3
    gw, gh = 8, 4
    c_h, c_w = dct_int(gh), dct_int(gw)
    vals_h = ", ".join(f"({i}, {u}, {int(c_h[i, u])})"
                       for i in range(gh) for u in range(gh))
    vals_w = ", ".join(f"({j}, {v}, {int(c_w[j, v])})"
                       for j in range(gw) for v in range(gw))
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 2 THEN {full // 2} ELSE {full} END AS nby,
    CASE WHEN doc_id % 3 = 2 THEN {_IMG_H // 2}
         ELSE {_IMG_H} END AS hh,
    text
  FROM documents WHERE length(text) >= {full}),
b AS (SELECT doc_id, hh, nby,
        list_transform(range(1, nby + 1),
          i -> ascii(substr(text, i, 1))) AS by
      FROM d),
px AS (
  SELECT doc_id, hh,
    unnest(range(0, nby // 3)) AS p, by
  FROM b),
g AS (
  SELECT doc_id, hh,
    ((p // {_IMG_W}) // (hh // {gh})) AS r,
    ((p % {_IMG_W}) // {_IMG_W // gw}) AS c,
    by[3 * p + 1] + by[3 * p + 2] + by[3 * p + 3] AS gray
  FROM px),
blk AS (
  SELECT doc_id, hh, r, c, SUM(gray) AS bsum
  FROM g GROUP BY doc_id, hh, r, c),
ch(i, u, cv) AS (SELECT * FROM (VALUES {vals_h})),
cw(j, v, cv) AS (SELECT * FROM (VALUES {vals_w})),
coef AS (
  SELECT blk.doc_id, blk.hh, ch.i AS i, cw.j AS j,
    SUM(ch.cv * cw.cv * blk.bsum) AS x
  FROM blk JOIN ch ON ch.u = blk.r JOIN cw ON cw.v = blk.c
  GROUP BY blk.doc_id, blk.hh, ch.i, cw.j),
ranked AS (
  SELECT doc_id, hh, i, j, x,
    row_number() OVER (PARTITION BY doc_id ORDER BY x, i, j) AS rk
  FROM coef WHERE NOT (i = 0 AND j = 0)),
med AS (SELECT doc_id, x AS m FROM ranked WHERE rk = 16)
SELECT r.doc_id,
  CAST({_IMG_W} AS BIGINT) AS width,
  CAST(r.hh AS BIGINT) AS height,
  CAST(SUM(CASE WHEN r.x > med.m
       THEN (CAST(1 AS BIGINT) << (r.i * {gw} + r.j)) ELSE 0 END)
       AS BIGINT) AS phash
FROM ranked r JOIN med ON med.doc_id = r.doc_id
GROUP BY r.doc_id, r.hh
"""


@spec(
    "multimodal_phash",
    _mm_phash_oracle(),
    description="DCT perceptual hash of decoded images in exact "
                "fixed-point int64 arithmetic (round(C*2^14) DCT, "
                "16th-of-31 AC median threshold) — the 31-bit hash "
                "re-derived bit-exactly by the SQL oracle from the "
                "source bytes via DCT-constant VALUES joins",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.multimodal import (attach_image_payload,
                                                   phash_features)

    docs = load(spark, sf_dir, "documents")
    return phash_features(attach_image_payload(docs))


# ----------------------------------------------------------------------
# pHash near-duplicate profile — the image twin of the MinHash-LSH
# text path: banded Hamming candidate join over the DCT hash (4 x
# 8-bit bands; pigeonhole makes <= 3-bit recall exact), bit_count
# verification on candidates only, per-image candidate/near-dup
# counts and min Hamming. All-integer.
# ----------------------------------------------------------------------



def _mm_phash_neardup_oracle() -> str:
    return f"""
WITH ph AS ({_mm_phash_oracle()}),
bands AS (SELECT doc_id, phash,
            unnest(range(0, {PND_BANDS})) AS b FROM ph),
k AS (SELECT doc_id, phash, b,
        (phash >> ({PND_BITS} * b)) & {(1 << PND_BITS) - 1} AS key
      FROM bands),
cand AS (SELECT DISTINCT a.doc_id AS da, x.doc_id AS db,
           a.phash AS pa, x.phash AS pb
         FROM k a JOIN k x ON x.b = a.b AND x.key = a.key
           AND x.doc_id != a.doc_id),
agg AS (SELECT da,
    CAST(COUNT(*) AS BIGINT) AS n_candidates,
    CAST(SUM(CASE WHEN bit_count(xor(pa, pb)) <= {PND_MAX_HAMMING}
         THEN 1 ELSE 0 END) AS BIGINT) AS n_neardups,
    CAST(MIN(bit_count(xor(pa, pb))) AS BIGINT) AS min_hamming
  FROM cand GROUP BY da)
SELECT p.doc_id, p.phash,
  COALESCE(a.n_candidates, 0) AS n_candidates,
  COALESCE(a.n_neardups, 0) AS n_neardups,
  COALESCE(a.min_hamming, -1) AS min_hamming
FROM ph p LEFT JOIN agg a ON a.da = p.doc_id
"""


@spec(
    "multimodal_phash_neardup",
    _mm_phash_neardup_oracle(),
    description="Image near-duplicate profile: banded Hamming "
                "candidate join over the exact DCT pHash (4 x 8-bit "
                "bands, pigeonhole-exact recall at <= 3 bits), "
                "bit_count verify on candidates only — per-image "
                "candidate/near-dup counts and min Hamming, the "
                "image twin of the MinHash-LSH path",
    tags=("pipeline", "multimodal", "dedup"),
)
def q_multimodal_phash_neardup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.multimodal import (attach_image_payload,
                                                   phash_features,
                                                   phash_neardup)

    docs = load(spark, sf_dir, "documents")
    ph = phash_features(attach_image_payload(docs)).select(
        "doc_id", "phash")
    return phash_neardup(ph)


# ----------------------------------------------------------------------
# Cross-modal (CLIP-style) paired dedup — the curation step for
# image-text PAIR datasets (LAION/DataComp shape): a pair duplicates
# another pair only when BOTH modalities near-duplicate. Text side =
# the MinHash-LSH pair stream (same n/k/threshold as
# minhash_lsh_neardup, corpus restricted to docs that carry an image
# payload); image side = the banded-Hamming pHash pair stream (same
# bands/threshold as multimodal_phash_neardup); the paired-dup set is
# their pair-level intersection. Per pair-doc: near-dup degree in
# each modality and cross-modally, best cross-modal distances, and a
# canonical-keeper flag (smallest doc_id among its cross-modal
# partners). Both sides are LSH-banded joins — never all-pairs — and
# the intersection is one hash equi-join on (id_a, id_b).
# ----------------------------------------------------------------------


def _mm_paired_dedup_oracle() -> str:
    from xsarsea_spark.pipeline.multimodal import _IMG_H, _IMG_W
    from xsarsea_spark.suite.pipeline_suite import _minhash_oracle

    full = _IMG_W * _IMG_H * 3
    mask = (1 << PND_BITS) - 1
    return f"""
WITH np AS ({_minhash_oracle()}),
ph AS ({_mm_phash_oracle()}),
paired AS (SELECT doc_id FROM documents
           WHERE length(text) >= {full}),
tp AS (SELECT np.id_a, np.id_b, np.jaccard FROM np
       JOIN paired a ON a.doc_id = np.id_a
       JOIN paired b ON b.doc_id = np.id_b),
bands AS (SELECT doc_id, phash,
            unnest(range(0, {PND_BANDS})) AS b FROM ph),
k AS (SELECT doc_id, phash, b,
        (phash >> ({PND_BITS} * b)) & {mask} AS key FROM bands),
cand AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b,
           a.phash AS pa, x.phash AS pb
         FROM k a JOIN k x ON x.b = a.b AND x.key = a.key
           AND a.doc_id < x.doc_id),
ip AS (SELECT id_a, id_b,
         CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       FROM cand WHERE bit_count(xor(pa, pb)) <= {PND_MAX_HAMMING}),
bo AS (SELECT t.id_a, t.id_b, t.jaccard, i.hamming
       FROM tp t JOIN ip i ON i.id_a = t.id_a AND i.id_b = t.id_b),
ts AS (SELECT id_a AS doc_id FROM tp
       UNION ALL SELECT id_b FROM tp),
tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_text_nd
       FROM ts GROUP BY 1),
isym AS (SELECT id_a AS doc_id FROM ip
         UNION ALL SELECT id_b FROM ip),
ic AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_image_nd
       FROM isym GROUP BY 1),
bsym AS (SELECT id_a AS doc_id, id_b AS partner, jaccard, hamming
           FROM bo
         UNION ALL
         SELECT id_b, id_a, jaccard, hamming FROM bo),
bc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paired_nd,
         CAST(MIN(hamming) AS BIGINT) AS min_hamming,
         MAX(jaccard) AS max_jaccard,
         MIN(partner) AS mp FROM bsym GROUP BY 1)
SELECT p.doc_id,
  CAST(COALESCE(tc.n_text_nd, 0) AS BIGINT) AS n_text_nd,
  CAST(COALESCE(ic.n_image_nd, 0) AS BIGINT) AS n_image_nd,
  CAST(COALESCE(bc.n_paired_nd, 0) AS BIGINT) AS n_paired_nd,
  CAST(COALESCE(bc.min_hamming, -1) AS BIGINT) AS min_hamming,
  CAST(COALESCE(bc.max_jaccard, -1) AS DOUBLE) AS max_jaccard,
  (bc.mp IS NULL OR p.doc_id < bc.mp) AS is_canonical
FROM paired p
LEFT JOIN tc USING (doc_id)
LEFT JOIN ic USING (doc_id)
LEFT JOIN bc USING (doc_id)
"""


@spec(
    "multimodal_paired_dedup",
    _mm_paired_dedup_oracle(),
    description="Cross-modal (CLIP-style) paired dedup over "
                "image-text pairs: MinHash-LSH text pairs "
                "intersected with banded-Hamming pHash image pairs "
                "at pair grain — per pair-doc modality/cross-modal "
                "near-dup degrees, best cross-modal Jaccard/Hamming "
                "and the canonical-keeper flag",
    tags=("pipeline", "multimodal", "dedup"),
)
def q_multimodal_paired_dedup(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize
    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup
    from xsarsea_spark.pipeline.multimodal import (_IMG_H, _IMG_W,
                                                   attach_image_payload,
                                                   phash_features,
                                                   phash_pairs)

    full = _IMG_W * _IMG_H * 3
    docs = load(spark, sf_dir, "documents")
    paired = docs.filter(F.length("text") >= full)
    # per-doc signatures are corpus-independent, so restricting the
    # MinHash input to pair-carrying docs yields exactly the oracle's
    # "all-docs pairs filtered to paired endpoints" — minus the work
    # both pair tables feed three consumers each (the cross-modal
    # join + two symmetric union branches); un-truncated, the whole
    # MinHash chain and the image-decoding pHash chain re-executed
    # per consumer (41 documents scans, 86 exchanges in the executed
    # plan). The pair tables are near-dup-bounded — truncate once.
    tp = materialize(minhash_lsh_dedup(paired))
    ph = phash_features(attach_image_payload(docs)).select(
        "doc_id", "phash")
    ip = materialize(
        phash_pairs(ph))
    bo = tp.join(ip, on=["id_a", "id_b"])
    ts = tp.selectExpr("id_a AS doc_id").unionByName(
        tp.selectExpr("id_b AS doc_id"))
    tc = ts.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_text_nd"))
    isym = ip.selectExpr("id_a AS doc_id").unionByName(
        ip.selectExpr("id_b AS doc_id"))
    ic = isym.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_image_nd"))
    bsym = bo.selectExpr("id_a AS doc_id", "id_b AS partner",
                         "jaccard", "hamming").unionByName(
        bo.selectExpr("id_b AS doc_id", "id_a AS partner",
                      "jaccard", "hamming"))
    bc = bsym.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_paired_nd"),
        F.expr("CAST(MIN(hamming) AS BIGINT)").alias("min_hamming"),
        F.expr("MAX(jaccard)").alias("max_jaccard"),
        F.expr("MIN(partner)").alias("mp"))
    return (paired.select("doc_id")
            .join(tc, "doc_id", "left")
            .join(ic, "doc_id", "left")
            .join(bc, "doc_id", "left")
            .selectExpr(
                "doc_id",
                "COALESCE(n_text_nd, 0L) AS n_text_nd",
                "COALESCE(n_image_nd, 0L) AS n_image_nd",
                "COALESCE(n_paired_nd, 0L) AS n_paired_nd",
                "COALESCE(min_hamming, -1L) AS min_hamming",
                "CAST(COALESCE(max_jaccard, -1) AS DOUBLE)"
                " AS max_jaccard",
                "(mp IS NULL OR doc_id < mp) AS is_canonical"))


# ----------------------------------------------------------------------
# JPEG codec end-to-end under the driver gate: the Arrow kernel builds
# a deterministic smooth image per doc (dims and knobs derived from
# doc_id), round-trips it through the dependency-free baseline JPEG
# codec (pipeline/jpeg.py) across quality levels, 4:4:4/4:2:0
# subsampling and restart-marker framing, and emits only
# SQL-predictable facts: the decoded dimensions (proves SOF parse +
# MCU-padding crop), that the payload really is a JFIF stream smaller
# than raw, and that decode error stays inside the quantization
# budget. Exact pixel values are codec-lossy so they live in
# tests/test_jpeg.py; the oracle here pins the structural contract.
# ----------------------------------------------------------------------

_JPG_CAP = 200          # python-loop Huffman: bound the per-sf row count
_JPG_TOL_MAX, _JPG_TOL_MEAN = 24.0, 6.0


def _jpeg_roundtrip_oracle() -> str:
    return f"""
SELECT doc_id,
  CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS width,
  CAST(16 + (doc_id * 11) % 40 AS BIGINT) AS height,
  TRUE AS is_jfif,
  TRUE AS compressed,
  TRUE AS fidelity_ok
FROM documents WHERE doc_id < {_JPG_CAP}
"""


@spec(
    "multimodal_jpeg_roundtrip",
    _jpeg_roundtrip_oracle(),
    description="Baseline JPEG codec (pure NumPy, tables read from "
                "the stream) round-tripped in the Arrow kernel over "
                "quality/subsampling/restart variants; decoded dims, "
                "JFIF framing and quantization-budget fidelity are "
                "value-checked against the doc_id formulas",
    tags=("pipeline", "multimodal", "jpeg"),
)
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("is_jfif", T.BooleanType()),
        T.StructField("compressed", T.BooleanType()),
        T.StructField("fidelity_ok", T.BooleanType()),
    ])

    def kernel(batches):
        import numpy as np

        from xsarsea_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w = 16 + (did * 7) % 48
                h = 16 + (did * 11) % 40
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.clip(np.stack([
                    128 + 60 * np.sin(xx / 9 + did % 13)
                    + 40 * np.cos(yy / 7),
                    100 + 2.0 * xx - 1.0 * yy,
                    80 + 50 * np.cos((xx + yy) / 11),
                ], axis=-1), 0, 255).astype(np.uint8)
                enc = encode_jpeg(
                    img,
                    quality=85 + (did % 3) * 5,
                    subsample="420" if did % 2 else "444",
                    restart=2 if did % 5 == 0 else 0,
                )
                dec = decode_jpeg(enc)
                err = np.abs(dec.astype(np.int64) - img.astype(np.int64))
                rows.append((
                    did, dec.shape[1], dec.shape[0],
                    enc[:2] == b"\xff\xd8" and enc[6:10] == b"JFIF",
                    len(enc) < img.nbytes,
                    bool(err.max() <= _JPG_TOL_MAX
                         and err.mean() <= _JPG_TOL_MEAN),
                ))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _JPG_CAP).select("doc_id")
    return docs.mapInPandas(kernel, schema)


# ----------------------------------------------------------------------
# GIF animation round-trip under the driver gate: per doc the kernel
# builds a deterministic multi-frame palette animation (frame count,
# dims, palette all doc_id formulas), encodes it with the pure-python
# LZW writer, decodes + composites it back, and evenly samples k
# frames — GIF is palette-exact, so unlike the lossy JPEG twin the
# oracle pins EXACT losslessness (every decoded frame bit-equal), and
# the sampled-frame count follows the min(k, n_frames) closed form.
# ----------------------------------------------------------------------

_GIF_CAP = 150
_GIF_K = 3


def _gif_roundtrip_oracle() -> str:
    return f"""
SELECT doc_id,
  CAST(8 + (doc_id * 5) % 24 AS BIGINT) AS width,
  CAST(8 + (doc_id * 3) % 16 AS BIGINT) AS height,
  CAST(1 + doc_id % 6 AS BIGINT) AS n_frames,
  CAST(LEAST(1 + doc_id % 6, {_GIF_K}) AS BIGINT) AS n_sampled,
  TRUE AS lossless
FROM documents WHERE doc_id < {_GIF_CAP}
"""


@spec(
    "multimodal_gif_frames",
    _gif_roundtrip_oracle(),
    description="Animated GIF codec (pure-python LZW, compositing, "
                "frame sampling) round-tripped in the Arrow kernel; "
                "frame count, dims, sample count and EXACT "
                "losslessness are value-checked against doc_id "
                "formulas",
    tags=("pipeline", "multimodal", "gif"),
)
def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_sampled", T.LongType()),
        T.StructField("lossless", T.BooleanType()),
    ])

    def kernel(batches):
        import numpy as np

        from xsarsea_spark.pipeline.gif import (decode_gif_frames,
                                                encode_gif,
                                                sample_frames)

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w = 8 + (did * 5) % 24
                h = 8 + (did * 3) % 16
                nf = 1 + did % 6
                rng = np.random.default_rng(did)
                pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
                frames = [rng.integers(0, 64, (h, w), dtype=np.uint8)
                          for _ in range(nf)]
                enc = encode_gif(frames, pal)
                dec = decode_gif_frames(enc)
                lossless = len(dec) == nf and all(
                    np.array_equal(d, pal[f])
                    for f, d in zip(frames, dec))
                samp = sample_frames(enc, _GIF_K)
                rows.append((did, dec[0].shape[1], dec[0].shape[0],
                             len(dec), len(samp), bool(lossless)))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _GIF_CAP).select("doc_id")
    return docs.mapInPandas(kernel, schema)


# ----------------------------------------------------------------------
# Perceptual near-duplicate IMAGES: pairs whose 32-bit average-hashes
# differ by <= 3 bits. Candidate generation is pigeonhole-EXACT
# banding (split the hash into 4 bytes; hamming <= 3 means at least
# one byte is identical, so a band-equality self-join loses nothing),
# then the exact popcount verify runs on candidates only — the
# image-modality twin of the text dedup family, never all-pairs. The
# oracle re-derives every hash from the source bytes (the
# multimodal_ahash CTE) and verifies quadratically.
# ----------------------------------------------------------------------

_AH_HAM = 3


def _ahash_neardup_oracle() -> str:
    return f"""
WITH hashes AS ({_mm_ahash_oracle()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= {_AH_HAM}
"""


@spec(
    "multimodal_ahash_neardup",
    _ahash_neardup_oracle(),
    description="Perceptual image near-dup pairs (aHash hamming <= "
                "3) via pigeonhole-exact byte banding — candidates "
                "only, never all-pairs; hashes and pairs re-derived "
                "from source bytes by the SQL oracle",
    tags=("pipeline", "multimodal", "dedup"),
)
def q_multimodal_ahash_neardup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize
    from xsarsea_spark.pipeline.multimodal import (ahash_features,
                                                   attach_image_payload)

    docs = load(spark, sf_dir, "documents")
    # the banding consumes the hash set on two join branches; the
    # decode kernel runs once (dup_graph_triangles precedent)
    hashes = materialize(
        ahash_features(attach_image_payload(docs))
        .select("doc_id", "ahash"))
    bands = hashes.selectExpr(
        "doc_id", "ahash",
        "explode(transform(sequence(0, 3),"
        " i -> struct(i AS band, shiftright(ahash, 8 * i) & 255"
        " AS bv))) AS b").select("doc_id", "ahash", "b.band", "b.bv")
    cand = (
        bands.alias("x").join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("id_a"),
                F.col("x.ahash").alias("__ha"),
                F.col("y.doc_id").alias("id_b"),
                F.col("y.ahash").alias("__hb"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr(
            "CAST(bit_count(__ha ^ __hb) AS BIGINT)"))
        .filter(F.col("hamming") <= _AH_HAM)
        .select("id_a", "id_b", "hamming")
    )


# ----------------------------------------------------------------------
# Image RESIZE as a pipeline verb: 2x2 integer box downscale (the
# INTER_AREA shape the raster side already uses) over REAL decoded
# payloads in the Arrow kernel. Exactness: every decoded pixel equals
# a source text byte (the attach_image_payload containers), and the
# downscale is floor((a+b+c+d)/4) in integers, so the oracle
# re-derives every output pixel from the text alone and checks both
# an order-insensitive sum and a position-weighted polynomial
# checksum (catches any permutation/layout error without assembling
# NUL-laden strings for a digest).
# ----------------------------------------------------------------------


def _mm_resize_oracle() -> str:
    from xsarsea_spark.pipeline.multimodal import _IMG_H, _IMG_W

    full = _IMG_W * _IMG_H * 3
    ow = _IMG_W // 2
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 2 THEN {_IMG_H // 2} ELSE {_IMG_H} END AS hh,
    text
  FROM documents WHERE length(text) >= {full}),
j AS (
  SELECT doc_id, hh,
    unnest(range(0, (hh // 2) * {ow} * 3)) AS p, text
  FROM d),
v AS (
  SELECT doc_id, hh, p,
    (ascii(substr(text, ((p // ({ow} * 3)) * 2 * {_IMG_W}
                         + ((p % ({ow} * 3)) // 3) * 2) * 3
                        + (p % 3) + 1, 1))
     + ascii(substr(text, ((p // ({ow} * 3)) * 2 * {_IMG_W}
                           + ((p % ({ow} * 3)) // 3) * 2 + 1) * 3
                          + (p % 3) + 1, 1))
     + ascii(substr(text, (((p // ({ow} * 3)) * 2 + 1) * {_IMG_W}
                           + ((p % ({ow} * 3)) // 3) * 2) * 3
                          + (p % 3) + 1, 1))
     + ascii(substr(text, (((p // ({ow} * 3)) * 2 + 1) * {_IMG_W}
                           + ((p % ({ow} * 3)) // 3) * 2 + 1) * 3
                          + (p % 3) + 1, 1))) // 4 AS px
  FROM j)
SELECT doc_id,
  CAST({ow} AS BIGINT) AS out_w,
  CAST(MAX(hh) // 2 AS BIGINT) AS out_h,
  CAST(SUM(px) AS BIGINT) AS px_sum,
  CAST(SUM(px * (p + 1)) AS BIGINT) AS px_poly
FROM v GROUP BY doc_id
"""


@spec(
    "multimodal_resize",
    _mm_resize_oracle(),
    description="Image resize verb: 2x2 integer box downscale of "
                "real decoded payloads in the Arrow kernel; output "
                "dims, pixel sum and position-weighted checksum "
                "re-derived from source bytes by the SQL oracle",
    tags=("pipeline", "multimodal"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from xsarsea_spark.pipeline.multimodal import (attach_image_payload,
                                                   decode_image)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.LongType()),
        T.StructField("out_h", T.LongType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_poly", T.LongType()),
    ])

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload)).astype(np.int64)
                h, w = img.shape[:2]
                small = (img[0::2, 0::2] + img[0::2, 1::2]
                         + img[1::2, 0::2] + img[1::2, 1::2]) // 4
                flat = small.reshape(-1)
                pos = np.arange(1, flat.size + 1, dtype=np.int64)
                rows.append((int(doc_id), small.shape[1],
                             small.shape[0], int(flat.sum()),
                             int((flat * pos).sum())))
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema])

    mm = attach_image_payload(load(spark, sf_dir, "documents"))
    return mm.select("doc_id", "payload").mapInPandas(kernel, schema)


# ----------------------------------------------------------------------
# AUDIO modality end-to-end: text bytes become REAL 16-bit PCM WAV
# containers (sample = byte_pair - 16384, so signs vary and zero
# crossings exist), the dependency-free RIFF decoder
# (pipeline/audio.py) parses them in the Arrow kernel, and the
# feature battery is pure integers — n_samples, energy (sum of
# squared samples), zero crossings — so the oracle re-derives every
# value from the text alone, proving the container round-trip the
# same way the image queries do.
# ----------------------------------------------------------------------

_WAV_N = 256            # samples per doc (512 text bytes)
_WAV_RATE = 8000
_WAV_BIAS = 16384


def _wav_features_oracle() -> str:
    need = 2 * _WAV_N
    s = (f"list_transform(range(0, {_WAV_N}),"
         f" i -> (ascii(substr(text, 2 * i + 1, 1))"
         f" + 256 * ascii(substr(text, 2 * i + 2, 1))) - {_WAV_BIAS})")
    return f"""
WITH d AS (
  SELECT doc_id, {s} AS s
  FROM documents WHERE length(text) >= {need}),
u AS (
  SELECT doc_id, unnest(range(0, {_WAV_N})) AS i, s FROM d),
v AS (
  SELECT doc_id, i, s[i + 1] AS x,
    CASE WHEN i > 0 THEN s[i] ELSE NULL END AS prev
  FROM u)
SELECT doc_id,
  CAST({_WAV_N} AS BIGINT) AS n_samples,
  CAST({_WAV_RATE} AS BIGINT) AS sample_rate,
  CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS BIGINT)
    AS energy,
  CAST(SUM(CASE WHEN prev IS NOT NULL
       AND CAST(prev AS BIGINT) * CAST(x AS BIGINT) < 0
       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM v GROUP BY doc_id
"""


@spec(
    "multimodal_wav_features",
    _wav_features_oracle(),
    description="Real audio decode: dependency-free RIFF/PCM16 WAV "
                "parser in the Arrow kernel; integer energy and "
                "zero-crossing features re-derived from source bytes "
                "by the SQL oracle",
    tags=("pipeline", "multimodal", "audio"),
)
def q_multimodal_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ])
    need = 2 * _WAV_N

    def kernel(batches):
        import numpy as np

        from xsarsea_spark.pipeline.audio import decode_wav, encode_wav

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("ascii")[:need]
                raw = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                samples = ((raw[0::2] + 256 * raw[1::2])
                           - _WAV_BIAS).astype(np.int16)
                wav = encode_wav(samples, rate=_WAV_RATE)
                dec, rate = decode_wav(wav)
                s = dec[:, 0].astype(np.int64)
                zc = int(((s[:-1] * s[1:]) < 0).sum())
                rows.append((int(doc_id), len(s), int(rate),
                             int((s * s).sum()), zc))
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema])

    docs = load(spark, sf_dir, "documents").filter(
        F.length("text") >= need).select("doc_id", "text")
    return docs.mapInPandas(kernel, schema)


# ----------------------------------------------------------------------
# Audio spectral fingerprint — the audio twin of the DCT pHash
# (chromaprint's shape): 4 frames x integer-DFT band energies, bit b
# = E_b > E_{b+1}, 15 bits per frame packed into a 60-bit BIGINT.
# All int64 (trig matrices are round(cos * 2^7) constants), so the
# SQL oracle re-derives the hash bit-for-bit from the source bytes
# via a (k, i, cos, sin) VALUES join — and an integer amplitude
# scaling provably cannot change a single bit (energies scale by the
# square; comparisons invariant — pytest-pinned).
# ----------------------------------------------------------------------


def _wav_afp_oracle() -> str:
    from xsarsea_spark.pipeline.audio import (AFP_BANDS, AFP_FRAME,
                                              trig_int)

    c, sn = trig_int()
    vals = ", ".join(
        f"({k + 1}, {i}, {int(c[k, i])}, {int(sn[k, i])})"
        for k in range(AFP_BANDS) for i in range(AFP_FRAME))
    need = 2 * _WAV_N
    s = (f"list_transform(range(0, {_WAV_N}),"
         f" i -> (ascii(substr(text, 2 * i + 1, 1))"
         f" + 256 * ascii(substr(text, 2 * i + 2, 1))) - {_WAV_BIAS})")
    nb = AFP_BANDS - 1
    return f"""
WITH d AS (
  SELECT doc_id, {s} AS s
  FROM documents WHERE length(text) >= {need}),
u AS (SELECT doc_id, unnest(range(0, {_WAV_N})) AS p, s FROM d),
x AS (SELECT doc_id, p // {AFP_FRAME} AS f, p % {AFP_FRAME} AS i,
        CAST(s[p + 1] AS BIGINT) AS v FROM u),
cs(k, i, c, sn) AS (SELECT * FROM (VALUES {vals})),
e AS (
  SELECT x.doc_id, x.f, cs.k,
    SUM(x.v * cs.c) AS re, SUM(x.v * cs.sn) AS im
  FROM x JOIN cs ON cs.i = x.i GROUP BY x.doc_id, x.f, cs.k),
en AS (SELECT doc_id, f, k, re * re + im * im AS e FROM e),
bits AS (
  SELECT a.doc_id, a.f, a.k - 1 AS b,
    CASE WHEN a.e > n.e THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en n ON n.doc_id = a.doc_id AND n.f = a.f
    AND n.k = a.k + 1
  WHERE a.k <= {nb})
SELECT doc_id,
  CAST(SUM(bit * (CAST(1 AS BIGINT) << (f * {nb} + b)))
       AS BIGINT) AS afp
FROM bits GROUP BY doc_id
"""


@spec(
    "multimodal_wav_fingerprint",
    _wav_afp_oracle(),
    description="Audio spectral fingerprint (chromaprint shape): "
                "integer-DFT band energies over 4 frames through the "
                "real WAV codec round trip, adjacent-band comparison "
                "bits packed into a 60-bit hash — re-derived "
                "bit-for-bit by the SQL oracle via trig-constant "
                "VALUES joins; amplitude-scale invariance "
                "pytest-pinned",
    tags=("pipeline", "multimodal", "audio", "dedup"),
)
def q_multimodal_wav_afp(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("afp", T.LongType()),
    ])
    need = 2 * _WAV_N

    def kernel(batches):
        import numpy as np

        from xsarsea_spark.pipeline.audio import (audio_fingerprint,
                                                  decode_wav,
                                                  encode_wav)

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("ascii")[:need]
                raw = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                samples = ((raw[0::2] + 256 * raw[1::2])
                           - _WAV_BIAS).astype(np.int16)
                wav = encode_wav(samples, rate=_WAV_RATE)
                dec, _rate = decode_wav(wav)
                rows.append((int(doc_id),
                             audio_fingerprint(dec[:, 0])))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in schema])

    docs = load(spark, sf_dir, "documents").filter(
        F.length("text") >= need).select("doc_id", "text")
    return docs.mapInPandas(kernel, schema)


# ----------------------------------------------------------------------
# Audio activity segmentation (the audio analog of text chunking):
# threshold the absolute sample stream into activity/silence runs and
# report per-doc segment statistics — pure gaps-and-islands on
# integers (island id = position minus per-flag row_number), so every
# value is engine-exact; the samples come from the same
# byte-pair - 16384 derivation the WAV feature oracle uses.
# ----------------------------------------------------------------------

_SEG_T = 8192           # |sample| >= T counts as activity


def _wav_segments_oracle() -> str:
    need = 2 * _WAV_N
    s = (f"list_transform(range(0, {_WAV_N}),"
         f" i -> (ascii(substr(text, 2 * i + 1, 1))"
         f" + 256 * ascii(substr(text, 2 * i + 2, 1))) - {_WAV_BIAS})")
    return f"""
WITH d AS (
  SELECT doc_id, {s} AS s
  FROM documents WHERE length(text) >= {need}),
u AS (
  SELECT doc_id, unnest(range(0, {_WAV_N})) AS i, s FROM d),
f AS (
  SELECT doc_id, i,
    CASE WHEN abs(s[i + 1]) >= {_SEG_T} THEN 1 ELSE 0 END AS act
  FROM u),
g AS (
  SELECT doc_id, i, act,
    i - ROW_NUMBER() OVER (PARTITION BY doc_id, act
                           ORDER BY i) AS isl
  FROM f),
runs AS (
  SELECT doc_id, act, isl, COUNT(*) AS run_len
  FROM g GROUP BY doc_id, act, isl)
SELECT doc_id,
  CAST(SUM(CASE WHEN act = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_active_segments,
  CAST(coalesce(MAX(CASE WHEN act = 1 THEN run_len END), 0)
    AS BIGINT) AS longest_active_run,
  CAST(SUM(CASE WHEN act = 1 THEN run_len ELSE 0 END) AS BIGINT)
    AS n_active_samples,
  SUM(CASE WHEN act = 1 THEN run_len ELSE 0 END)
    / CAST({_WAV_N} AS DOUBLE) AS activity_ratio
FROM runs GROUP BY doc_id
"""


@spec(
    "multimodal_wav_segments",
    _wav_segments_oracle(),
    description="Audio activity segmentation: threshold runs over "
                "the decoded sample stream (gaps-and-islands), "
                "per-doc segment count / longest run / activity "
                "ratio — integer-exact cross-engine",
    tags=("pipeline", "multimodal", "audio"),
)
def q_multimodal_wav_segments(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    need = 2 * _WAV_N
    docs = load(spark, sf_dir, "documents").filter(
        F.length("text") >= need)
    s = docs.selectExpr(
        "doc_id",
        f"transform(sequence(0, {_WAV_N - 1}),"
        f" i -> (ascii(substring(text, 2 * i + 1, 1))"
        f" + 256 * ascii(substring(text, 2 * i + 2, 1)))"
        f" - {_WAV_BIAS}) AS __s")
    f = s.select(
        "doc_id",
        F.posexplode("__s").alias("i", "__v")).selectExpr(
        "doc_id", "i",
        f"CASE WHEN abs(__v) >= {_SEG_T} THEN 1 ELSE 0 END AS act")
    g = f.withColumn(
        "isl",
        F.col("i") - F.row_number().over(
            Window.partitionBy("doc_id", "act").orderBy("i")))
    runs = g.groupBy("doc_id", "act", "isl").agg(
        F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("doc_id").agg(
        F.expr("CAST(SUM(CASE WHEN act = 1 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_active_segments"),
        F.expr("CAST(coalesce(MAX(CASE WHEN act = 1 THEN run_len"
               " END), 0) AS BIGINT)").alias("longest_active_run"),
        F.expr("CAST(SUM(CASE WHEN act = 1 THEN run_len ELSE 0 END)"
               " AS BIGINT)").alias("n_active_samples"),
        F.expr(f"SUM(CASE WHEN act = 1 THEN run_len ELSE 0 END)"
               f" / CAST({_WAV_N} AS DOUBLE)").alias("activity_ratio"),
    )


# ----------------------------------------------------------------------
# Source-format round trips: the documents table written to JSONL /
# CSV with Spark's native writers and read back with an EXPLICIT
# schema (inference is banned — nondeterministic and a full extra
# scan at 100 TB), then profiled per language with a content-hash
# sum so the oracle certifies byte fidelity through the format, not
# just row counts. Newlines/quotes/delimiters in text ride the
# formats' own escaping (CSV: RFC quote-escape + multiLine read;
# nulls round-trip via an explicit nullValue sentinel).
# ----------------------------------------------------------------------

_H40_DUCK = "CAST('0x' || substr(md5({x}), 1, 10) AS BIGINT)"
_H40_SPARK = "CAST(conv(substring(md5({x}), 1, 10), 16, 10) AS BIGINT)"

_RT_ORACLE = f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  CAST(SUM(CASE WHEN text IS NULL THEN 0
       ELSE {_H40_DUCK.format(x='text')} END) AS BIGINT)
    AS sum_text_hash,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY lang
"""


def _roundtrip_profile(df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sum_chars"),
        F.expr(f"CAST(SUM(CASE WHEN text IS NULL THEN 0 ELSE "
               f"{_H40_SPARK.format(x='text')} END) AS BIGINT)")
        .alias("sum_text_hash"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _rt_base(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    from xsarsea_spark.engine import scratch_path
    return scratch_path(spark, "docs_rt_" + fmt, sf_dir)


@spec(
    "documents_jsonl_roundtrip",
    _RT_ORACLE,
    description="JSONL source round trip: documents written with the "
                "native JSON writer, read back with an explicit "
                "schema, per-lang profile with a content-hash sum "
                "certifying byte fidelity through the format",
    tags=("sources", "formats"),
)
def q_documents_jsonl_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = _rt_base(spark, sf_dir, "jsonl")
    docs.write.mode("overwrite").json(base)
    back = spark.read.schema(docs.schema).json(base)
    return _roundtrip_profile(back)


@spec(
    "documents_csv_roundtrip",
    _RT_ORACLE,
    description="CSV source round trip: RFC quote-escaping, "
                "multiLine read, explicit null sentinel and schema "
                "— per-lang profile with a content-hash sum "
                "certifying byte fidelity through the format",
    tags=("sources", "formats"),
)
def q_documents_csv_roundtrip(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = _rt_base(spark, sf_dir, "csv")
    # ignore*WhiteSpace default TRUE on both sides of Spark's CSV and
    # silently trims padded text — byte fidelity requires turning it
    # off explicitly (caught by the adversarial-corpus drift gate)
    ws = {"ignoreLeadingWhiteSpace": "false",
          "ignoreTrailingWhiteSpace": "false"}
    (docs.write.mode("overwrite")
     .option("header", "true")
     .option("quote", '"').option("escape", '"')
     .option("nullValue", "\\N")
     .options(**ws)
     .csv(base))
    back = (spark.read.schema(docs.schema)
            .option("header", "true")
            .option("quote", '"').option("escape", '"')
            .option("nullValue", "\\N")
            .option("multiLine", "true")
            .options(**ws)
            .csv(base))
    return _roundtrip_profile(back)


@spec(
    "documents_orc_roundtrip",
    _RT_ORACLE,
    description="ORC source round trip: native columnar writer + "
                "explicit-schema read, same byte-fidelity profile "
                "as the JSONL/CSV trips",
    tags=("sources", "formats"),
)
def q_documents_orc_roundtrip(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = _rt_base(spark, sf_dir, "orc")
    docs.write.mode("overwrite").orc(base)
    back = spark.read.schema(docs.schema).orc(base)
    return _roundtrip_profile(back)


@spec(
    "documents_warc_roundtrip",
    _RT_ORACLE,
    description="WARC (ISO 28500) source round trip through the "
                "Python DataSource (sources/warc.py): documents "
                "written as per-record-metadata WARC resource "
                "records with multi-member gzip (the CommonCrawl "
                "layout), read back via format('warc'), columns "
                "reconstructed from headers + payload — same "
                "byte-fidelity profile as the JSONL/CSV/ORC trips",
    tags=("sources", "formats"),
)
def q_documents_warc_roundtrip(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.sources.warc import register_warc

    register_warc(spark)
    docs = load(spark, sf_dir, "documents")
    base = _rt_base(spark, sf_dir, "warc")
    # the parquet scan yields ~1 partition at bench scale, so the
    # Python-side gzip WARC writer (and the per-file reader behind
    # it) ran single-core; spreading the write across the default
    # parallelism parallelizes BOTH directions of the trip — the
    # multi-member layout is unchanged and the per-lang profile is
    # partitioning-independent
    (docs.selectExpr("text AS payload", "doc_id", "lang", "source",
                     "n_chars")
     .repartition(spark.sparkContext.defaultParallelism)
     .write.format("warc").option("compression", "gzip")
     .mode("overwrite").save(base))
    back = (spark.read.format("warc").load(base)
            .selectExpr(
                "CAST(headers['warc-x-doc_id'] AS BIGINT) AS doc_id",
                "CASE WHEN payload IS NULL THEN CAST(NULL AS STRING)"
                " ELSE decode(payload, 'UTF-8') END AS text",
                "headers['warc-x-lang'] AS lang",
                "headers['warc-x-source'] AS source",
                "CAST(headers['warc-x-n_chars'] AS BIGINT)"
                " AS n_chars"))
    return _roundtrip_profile(back)


@spec(
    "documents_xml_roundtrip",
    _RT_ORACLE,
    description="XML source round trip (Spark 4 native StaxXML): "
                "documents written one <doc> row element each, read "
                "back with an explicit schema and surrounding-space "
                "trimming disabled — same byte-fidelity profile as "
                "the JSONL/CSV/ORC/WARC trips for XML-REPRESENTABLE "
                "text. Two caveats are XML 1.0's own semantics, not "
                "the trip's: parsers normalize bare/CRLF carriage "
                "returns in content to \\n, and an empty element "
                "reads back as NULL — text containing raw \\r or "
                "equal to '' is NOT byte-transparent through this "
                "format (the WARC/JSONL trips are the lossless "
                "carriers for such payloads)",
    tags=("sources", "formats"),
)
def q_documents_xml_roundtrip(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = _rt_base(spark, sf_dir, "xml")
    (docs.write.mode("overwrite")
     .format("xml").option("rowTag", "doc")
     .save(base))
    back = (spark.read.schema(docs.schema)
            .format("xml").option("rowTag", "doc")
            .option("ignoreSurroundingSpaces", "false")
            .load(base))
    return _roundtrip_profile(back)
