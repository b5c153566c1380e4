"""LLM-training-data pipeline query battery over the driver's
``documents`` and ``embeddings`` tables — dedup, similarity search and
text analysis as first-class, oracle-checked operators.

Cross-engine determinism: content hashing is md5 (identical hex
digests), derived 40-bit integers come from hex prefixes (Spark
``conv``, DuckDB ``'0x' || ...`` cast — verified bit-identical), all
similarity arithmetic is integer or sequential-fold double math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.engine import (load_kv_json, materialize,
                                  save_kv_json, scratch_path)
from xsarsea_spark.pipeline.clustering import KM_SCALE
from xsarsea_spark.pipeline.dedup import MINHASH_P, _BAND_MULT, _perm_params
from xsarsea_spark.sources.tables import load
from xsarsea_spark.streaming.harness import (latest_version,
                                             run_available_now,
                                             stage_arrival,
                                             version_below)
from xsarsea_spark.suite.base import QTRUNC, spec

# DuckDB spelling of pipeline.text.HASH40_SQL (same value)
_H40_DUCK = "CAST('0x' || substr(md5({x}), 1, 10) AS BIGINT)"
_H40_SPARK = "CAST(conv(substring(md5({x}), 1, 10), 16, 10) AS BIGINT)"


def _file_stream(spark: SparkSession, sf_dir: str, table: str,
                 schema) -> DataFrame:
    """Streaming file source over ``{table}.parquet`` in ``sf_dir``."""
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{table}.parquet")
            .parquet(sf_dir))


# ----------------------------------------------------------------------
# Per-document token statistics
# ----------------------------------------------------------------------

_TEXT_STATS_ORACLE = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l
           FROM documents)
SELECT doc_id,
  len(l) AS n_tokens,
  len(list_distinct(l)) AS n_distinct_tokens,
  list_reduce(list_transform(l, x -> length(x)), (a, b) -> a + b)
    / CAST(len(l) AS DOUBLE) AS avg_token_len,
  len(list_filter(l, x -> x = 'a' OR x = 'the'))
    / CAST(len(l) AS DOUBLE) AS stopword_ratio,
  (length(text) - length(replace(text, ' ', '')))
    / CAST(length(text) AS DOUBLE) AS space_ratio
FROM t
"""


@spec(
    "text_token_stats",
    _TEXT_STATS_ORACLE,
    description="Per-document token statistics (counts, diversity, "
                "stopword/space ratios) — pure JVM-side projections",
    tags=("pipeline", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import token_stats

    docs = load(spark, sf_dir, "documents")
    return token_stats(docs).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "avg_token_len",
        "stopword_ratio", "space_ratio",
    )


# ----------------------------------------------------------------------
# Language-ID heuristic + quality score
# ----------------------------------------------------------------------

def _lang_pred_duck() -> tuple[str, str]:
    """The ONE DuckDB spelling of the marker-based language-ID
    prediction (per-language score projections + greatest/CASE
    winner) — shared by every oracle that re-derives a language
    column (language_id, UniMax, temperature mix), so a tie-break
    tweak can never make them disagree."""
    from xsarsea_spark.pipeline.text import LANG_MARKERS

    scores = []
    for lang in sorted(LANG_MARKERS):
        conds = " OR ".join(f"x = '{m}'" for m in LANG_MARKERS[lang])
        scores.append(
            f"len(list_filter(l, x -> {conds}))"
            f" / CAST(len(l) AS DOUBLE) AS score_{lang}")
    best = "greatest(" + ", ".join(
        f"score_{k}" for k in sorted(LANG_MARKERS)) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{k} = {best} THEN '{k}'"
        for k in sorted(LANG_MARKERS)) + " END"
    return ", ".join(scores), case


def _lang_oracle() -> str:
    scores_csv, case = _lang_pred_duck()
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l
           FROM documents),
s AS (SELECT doc_id, lang, {scores_csv},
        len(l) AS n_tokens, len(list_distinct(l)) AS n_distinct,
        len(list_filter(l, x -> x = 'a' OR x = 'the'))
          / CAST(len(l) AS DOUBLE) AS swr
      FROM t)
SELECT doc_id, lang, {case} AS pred_lang,
  LEAST(GREATEST(
    LEAST(n_tokens / 32e0, 1e0) * 5e-1
    + (n_distinct / CAST(n_tokens AS DOUBLE)) * 4e-1
    + LEAST(swr * 4e0, 1e0) * 1e-1, 0e0), 1e0) AS quality
FROM s
"""


@spec(
    "lang_id_quality",
    _lang_oracle(),
    description="Marker-frequency language ID + pretraining quality "
                "score (length band, diversity, stopword sanity)",
    tags=("pipeline", "text"),
)
def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import language_id, quality_score

    # Both operators are pure per-row projections over the same scan,
    # so compose them — one scan, zero shuffles (the previous
    # doc_id self-join cost 2 scans + an exchange for nothing).
    docs = load(spark, sf_dir, "documents")
    return quality_score(language_id(docs)).select(
        "doc_id", "lang", "pred_lang", "quality")


# ----------------------------------------------------------------------
# Exact dedup + fingerprints
# ----------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


@spec(
    "exact_dedup",
    _DEDUP_ORACLE,
    description="Exact content dedup: single hash aggregation on "
                "md5(text), deterministic min-id keeper",
    tags=("pipeline", "dedup"),
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------
# Incremental dedup — the production shape: a NEW batch (doc_id in
# the top 20% of the corpus) deduped against the HISTORICAL corpus's
# digest set AND within itself. The historical side needs only its
# distinct digests (the persisted fingerprint table of a real
# pipeline), so the increment's cost is O(batch) + one digest
# anti-join, never a recompute over history.
# ----------------------------------------------------------------------

_INC_FRAC = 0.8     # doc_id < ceil(max_id * frac) -> historical

_INC_DEDUP_ORACLE = f"""
WITH cut AS (
  SELECT CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS c
  FROM documents),
old_digests AS (
  SELECT DISTINCT md5(text) AS digest FROM documents, cut
  WHERE doc_id < cut.c),
new_batch AS (
  SELECT doc_id, md5(text) AS digest FROM documents, cut
  WHERE doc_id >= cut.c),
marked AS (
  SELECT n.doc_id, n.digest,
    n.digest IN (SELECT digest FROM old_digests) AS seen_in_old,
    MIN(n.doc_id) OVER (PARTITION BY n.digest) = n.doc_id
      AS first_in_new
  FROM new_batch n)
SELECT doc_id, digest, seen_in_old, first_in_new,
  (first_in_new AND NOT seen_in_old) AS keep
FROM marked
"""


@spec(
    "exact_dedup_incremental",
    _INC_DEDUP_ORACLE,
    description="Incremental exact dedup: a new batch checked against "
                "the historical digest set (left-semi mark join) and "
                "within itself (min-id window) — O(batch) + one "
                "digest join, no recompute over history",
    tags=("pipeline", "dedup"),
)
def q_exact_dedup_incremental(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    cut = docs.agg(F.expr(
        f"CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT)").alias("c"))
    d = docs.crossJoin(F.broadcast(cut)).selectExpr(
        "doc_id", "md5(text) AS digest", "c")
    old_digests = (d.filter("doc_id < c")
                   .select("digest").distinct()
                   .withColumn("__old", F.lit(True)))
    new_batch = d.filter("doc_id >= c").select("doc_id", "digest")
    w = Window.partitionBy("digest")
    return (
        new_batch
        .join(old_digests, on="digest", how="left")
        .select(
            "doc_id", "digest",
            F.expr("coalesce(__old, false)").alias("seen_in_old"),
            (F.min("doc_id").over(w) == F.col("doc_id"))
            .alias("first_in_new"),
        )
        .withColumn("keep",
                    F.expr("first_in_new AND NOT seen_in_old"))
    )


_FP_ORACLE = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l
           FROM documents)
SELECT doc_id,
  {_H40_DUCK.format(x='text')} AS fingerprint,
  list_reduce(
    list_transform(list_distinct(l),
                   x -> {_H40_DUCK.format(x='x')}),
    (a, b) -> (a + b) % {(1 << 61) - 1}) AS tokenset_hash
FROM t
"""


@spec(
    "doc_fingerprint",
    _FP_ORACLE,
    description="Content fingerprint (md5-derived 40-bit) + "
                "order-insensitive token-set hash",
    tags=("pipeline", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import doc_fingerprint

    return doc_fingerprint(load(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint", "tokenset_hash")


# ----------------------------------------------------------------------
# MinHash + banded LSH near-dedup (never all-pairs)
# ----------------------------------------------------------------------

_MH_N, _MH_K, _MH_T = 3, 16, 0.2


def _minhash_oracle() -> str:
    perms = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in
                      ((k, _perm_params(k)) for k in range(_MH_K)))
    h40 = _H40_DUCK.format(x="shingle")
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(len(l) - {_MH_N - 1}),
      i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3])) AS shingle
  FROM t),
perms AS (SELECT * FROM (VALUES {perms}) p(k, a, b)),
sig AS (
  SELECT doc_id, k, min((a * ({h40}) + b) % {MINHASH_P}) AS minh
  FROM sh CROSS JOIN perms GROUP BY doc_id, k),
bands AS (
  SELECT doc_id, CAST(FLOOR(k / 2) AS INT) AS band,
    (max(CASE WHEN k % 2 = 0 THEN minh END) * {_BAND_MULT}
     + max(CASE WHEN k % 2 = 1 THEN minh END)) % {MINHASH_P} AS bandhash
  FROM sig GROUP BY doc_id, CAST(FLOOR(k / 2) AS INT)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bandhash = r.bandhash
   AND l.doc_id < r.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
  GROUP BY c.id_a, c.id_b)
SELECT c.id_a, c.id_b,
  COALESCE(i.n_inter, 0) / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0)
                                AS DOUBLE) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE COALESCE(i.n_inter, 0) / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0)
                                    AS DOUBLE) >= {_MH_T!r}
"""


@spec(
    "minhash_lsh_neardup",
    _minhash_oracle(),
    description="MinHash signatures -> banded LSH bucket join -> exact "
                "Jaccard verify; candidates only, never all-pairs",
    tags=("pipeline", "dedup"),
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup

    docs = load(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, n=_MH_N, k=_MH_K, threshold=_MH_T)


# ----------------------------------------------------------------------
# Incremental MinHash-LSH maintenance — the near-dup analog of
# exact_dedup_incremental (and what a real 100-TB ingest runs): a NEW
# batch (top 20% of doc_ids) is shingled/signed/banded in O(batch)
# and its bands are PROBED against the persisted band table of the
# historical corpus, plus a within-batch band self-join. Historical
# shingle sets are re-derived only for candidate docs (semi-join
# pruned). The oracle is replay equivalence: the full-corpus MinHash
# recompute restricted to pairs whose right side is in the batch —
# the value match certifies the incremental path finds exactly the
# pairs a from-scratch run would.
# ----------------------------------------------------------------------


def _minhash_incremental_oracle() -> str:
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH pairs AS ({pairs_sql}),
cut AS (SELECT CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS c
        FROM documents)
SELECT p.id_a, p.id_b, p.jaccard, p.id_a < cut.c AS from_history
FROM pairs p, cut
WHERE p.id_b >= cut.c
"""


@spec(
    "minhash_incremental",
    _minhash_incremental_oracle(),
    description="Incremental MinHash-LSH maintenance: new batch "
                "banded in O(batch) and probed against the persisted "
                "historical band table + within-batch self-join; "
                "exact Jaccard verify on candidates only — value-"
                "equal to a full recompute restricted to batch pairs",
    tags=("pipeline", "dedup", "incremental"),
)
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import (lsh_bands,
                                              minhash_lsh_incremental,
                                              minhash_signatures,
                                              shingle)

    docs = load(spark, sf_dir, "documents")
    cut = docs.agg(F.expr(
        f"CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT)").alias("c"))
    d = docs.crossJoin(F.broadcast(cut))
    hist = d.filter("doc_id < c").drop("c")
    batch = d.filter("doc_id >= c").drop("c")
    # the persisted state of a production ingest, built once here
    state = lsh_bands(
        minhash_signatures(shingle(hist, n=_MH_N), k=_MH_K))
    return minhash_lsh_incremental(
        batch, state, hist, n=_MH_N, k=_MH_K, threshold=_MH_T)


# ----------------------------------------------------------------------
# Cross-snapshot MinHash-LSH — the CommonCrawl shape: the history is
# N separately-persisted crawl snapshots (here 3 doc_id-range slices),
# each with its own band table; the new batch (top 20%) probes the
# tagged UNION of all N band tables in one equality join and every
# verified pair carries the snapshot its historical side lives in.
# Oracle: the full-corpus recompute restricted to batch right-sides,
# with provenance mapped from the same doc_id cuts — certifying the
# N-table probe finds exactly what a from-scratch run would.
# ----------------------------------------------------------------------

_XSNAP_FRACS = (0.3, 0.55)   # history snapshot cuts; batch cut = _INC_FRAC


def _minhash_cross_snapshot_oracle() -> str:
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH pairs AS ({pairs_sql}),
cut AS (SELECT CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS c,
               CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[0]}) AS BIGINT) AS c0,
               CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[1]}) AS BIGINT) AS c1
        FROM documents)
SELECT p.id_a, p.id_b, p.jaccard,
  CAST(CASE WHEN p.id_a >= cut.c THEN 3
            WHEN p.id_a >= cut.c1 THEN 2
            WHEN p.id_a >= cut.c0 THEN 1
            ELSE 0 END AS INT) AS snapshot
FROM pairs p, cut
WHERE p.id_b >= cut.c
"""


@spec(
    "minhash_cross_snapshot",
    _minhash_cross_snapshot_oracle(),
    description="Cross-snapshot near-dup dedup: new crawl probed "
                "against the tagged union of 3 prior snapshots' "
                "persisted band tables in one equality join; verified "
                "pairs carry snapshot provenance — value-equal to a "
                "full recompute restricted to batch pairs",
    tags=("pipeline", "dedup", "incremental"),
)
def q_minhash_cross_snapshot(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import (lsh_bands,
                                              minhash_lsh_cross_snapshot,
                                              minhash_signatures,
                                              shingle)

    docs = load(spark, sf_dir, "documents")
    cuts = docs.agg(
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT)")
        .alias("c"),
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[0]}) AS BIGINT)")
        .alias("c0"),
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[1]}) AS BIGINT)")
        .alias("c1"))
    d = docs.crossJoin(F.broadcast(cuts))
    batch = d.filter("doc_id >= c").drop("c", "c0", "c1")
    # the snapshot tag is a pure function of doc_id and the broadcast
    # cuts, and the shingle->minhash->band chain keys every stage by
    # doc_id — so ONE chain over the whole history (re-tagged at the
    # end) produces the identical tagged union the three per-snapshot
    # chains built, with one corpus scan/explode instead of three
    snap_tag = ("CAST(CASE WHEN doc_id < c0 THEN 0"
                " WHEN doc_id < c1 THEN 1 ELSE 2 END AS INT)"
                " AS snapshot")
    hist = d.filter("doc_id < c").drop("c", "c0", "c1")
    # the band table is persisted state built at ingest time; the
    # probe sees only the tagged union — materialized here because
    # BOTH the probe join and the provenance join consume it (in
    # production it is parquet on disk; without the barrier each
    # consumer replays the shingle->minhash->band chain)
    from xsarsea_spark.engine import materialize

    tagged_bands = materialize(
        lsh_bands(minhash_signatures(shingle(hist, n=_MH_N), k=_MH_K))
        .crossJoin(F.broadcast(cuts))
        .selectExpr("doc_id", "band", "bandhash", snap_tag))
    snap_docs = d.filter("doc_id < c").selectExpr(
        *[c for c in docs.columns], snap_tag)
    return minhash_lsh_cross_snapshot(
        batch, tagged_bands, snap_docs,
        n=_MH_N, k=_MH_K, threshold=_MH_T, batch_snapshot=3)


# ----------------------------------------------------------------------
# LSH band-parameter sweep — the S-curve tuning eval a production
# near-dup pipeline runs before fixing (bands, rows): candidate
# precision/recall of three band shapes over ONE shared signature
# table, against exact-Jaccard ground truth. Truth = every pair
# sharing >= 1 shingle scored exactly (a >= threshold pair MUST
# share a shingle, so the equi-join is complete); the slice cap
# bounds the genuinely quadratic truth set on this homogeneous
# corpus (_SSJ_CAP precedent). All counts integer; the two ratios
# are single divisions of exact integers.
# ----------------------------------------------------------------------

_BSW_MOD = 3          # doc_id slice cap for the exact-truth join
_BSW_ROWS = (1, 2, 4)  # rows per band -> 16 / 8 / 4 bands


def _band_fold_sql(r: int) -> str:
    slots = [f"max(CASE WHEN k % {r} = {s} THEN minh END)"
             for s in range(r)]
    fold = slots[0]
    for nxt in slots[1:]:
        fold = f"(({fold}) * {_BAND_MULT} + {nxt}) % {MINHASH_P}"
    return fold


def _band_sweep_oracle() -> str:
    perms = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in
                      ((k, _perm_params(k)) for k in range(_MH_K)))
    h40 = _H40_DUCK.format(x="shingle")
    parts = [
        f"t AS (SELECT doc_id, string_split(text, ' ') AS l"
        f" FROM documents WHERE text IS NOT NULL"
        f" AND doc_id % {_BSW_MOD} = 0)",
        f"""sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(len(l) - {_MH_N - 1}),
      i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3])) AS shingle
  FROM t)""",
        f"perms AS (SELECT * FROM (VALUES {perms}) p(k, a, b))",
        f"""sig AS (
  SELECT doc_id, k, min((a * ({h40}) + b) % {MINHASH_P}) AS minh
  FROM sh CROSS JOIN perms GROUP BY doc_id, k)""",
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh"
        " GROUP BY doc_id)",
        """pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON b.shingle = a.shingle
    AND b.doc_id > a.doc_id
  GROUP BY 1, 2)""",
        f"""truth AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.n_inter / CAST(sa.n + sb.n - p.n_inter AS DOUBLE)
    >= {_MH_T!r})""",
        "nt AS (SELECT count(*) AS n_true FROM truth)",
    ]
    metrics = []
    for r in _BSW_ROWS:
        parts.append(
            f"""bands{r} AS (
  SELECT doc_id, CAST(FLOOR(k / {r}) AS INT) AS band,
    {_band_fold_sql(r)} AS bandhash
  FROM sig GROUP BY doc_id, CAST(FLOOR(k / {r}) AS INT))""")
        parts.append(
            f"""cand{r} AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands{r} l JOIN bands{r} r ON l.band = r.band
    AND l.bandhash = r.bandhash AND l.doc_id < r.doc_id)""")
        parts.append(
            f"""m{r} AS (
  SELECT CAST({r} AS BIGINT) AS rows_per_band,
    CAST({_MH_K // r} AS BIGINT) AS n_bands,
    CAST(COUNT(*) AS BIGINT) AS n_candidates,
    CAST(COALESCE(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0
         END), 0) AS BIGINT) AS n_hits
  FROM cand{r} c LEFT JOIN truth t
    ON t.id_a = c.id_a AND t.id_b = c.id_b)""")
        metrics.append(f"SELECT * FROM m{r}")
    u = " UNION ALL ".join(metrics)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT rows_per_band, n_bands, n_candidates,
  CAST(n_true AS BIGINT) AS n_true_pairs, n_hits,
  CASE WHEN n_candidates = 0 THEN 0e0
    ELSE CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE) END
    AS precision,
  CASE WHEN n_true = 0 THEN 0e0
    ELSE CAST(n_hits AS DOUBLE) / CAST(n_true AS DOUBLE) END
    AS recall
FROM ({u}) CROSS JOIN nt""")


@spec(
    "minhash_band_sweep",
    _band_sweep_oracle(),
    description="LSH S-curve tuning eval: candidate precision/recall "
                "of three band shapes (16x1, 8x2, 4x4) over one "
                "shared MinHash signature table vs exact-Jaccard "
                "ground truth on a capped slice — the parameter "
                "sweep run before fixing (bands, rows) in a "
                "production near-dup pipeline",
    tags=("pipeline", "dedup", "eval"),
)
def q_minhash_band_sweep(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import (lsh_candidates,
                                              minhash_signatures,
                                              shingle)

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_BSW_MOD} = 0")
    sh = shingle(docs, n=_MH_N)
    sig = materialize(minhash_signatures(sh, k=_MH_K))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.selectExpr("doc_id AS id_a", "shingle")
        .join(sh.selectExpr("doc_id AS id_b", "shingle"), on="shingle")
        .filter("id_b > id_a")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    truth = materialize(
        pairs
        .join(sizes.selectExpr("doc_id AS id_a", "n AS n_a"), on="id_a")
        .join(sizes.selectExpr("doc_id AS id_b", "n AS n_b"), on="id_b")
        .filter(f"n_inter / CAST(n_a + n_b - n_inter AS DOUBLE)"
                f" >= {_MH_T!r}")
        .select("id_a", "id_b"))
    nt = truth.groupBy().agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_true_pairs"))
    outs = []
    for r in _BSW_ROWS:
        cand = lsh_candidates(sig, rows_per_band=r)
        outs.append(
            cand.join(truth.withColumn("__hit", F.lit(1)),
                      on=["id_a", "id_b"], how="left")
            .groupBy()
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)")
                 .alias("n_candidates"),
                 F.expr("CAST(COALESCE(SUM(COALESCE(__hit, 0)), 0)"
                        " AS BIGINT)")
                 .alias("n_hits"))
            .selectExpr(f"CAST({r} AS BIGINT) AS rows_per_band",
                        f"CAST({_MH_K // r} AS BIGINT) AS n_bands",
                        "n_candidates", "n_hits"))
    swept = outs[0]
    for o in outs[1:]:
        swept = swept.unionByName(o)
    return (
        swept.crossJoin(F.broadcast(nt))
        .selectExpr(
            "rows_per_band", "n_bands", "n_candidates",
            "n_true_pairs", "n_hits",
            "CASE WHEN n_candidates = 0 THEN 0e0 ELSE"
            " CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE)"
            " END AS precision",
            "CASE WHEN n_true_pairs = 0 THEN 0e0 ELSE"
            " CAST(n_hits AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)"
            " END AS recall")
    )


# ----------------------------------------------------------------------
# SimHash fingerprints
# ----------------------------------------------------------------------

_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, {_H40_DUCK.format(x='tok')} AS hh FROM toks),
bits AS (SELECT CAST(range AS INT) AS bit FROM range(16)),
per_bit AS (
  SELECT doc_id, bit,
    SUM(CASE WHEN CAST(FLOOR(hh / POW(2, bit)) AS BIGINT) % 2 = 1
        THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN bits GROUP BY doc_id, bit)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, bit) AS BIGINT) ELSE 0 END)
       AS BIGINT) AS simhash
FROM per_bit GROUP BY doc_id
"""


@spec(
    "simhash_fingerprint",
    _SIMHASH_ORACLE,
    description="16-bit SimHash: per-bit weighted sign sums of token "
                "hashes, two hash aggregations, no UDF",
    tags=("pipeline", "dedup"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"), bits=16)


# ----------------------------------------------------------------------
# Brute-force cosine top-k (exactness baseline for ANN)
# ----------------------------------------------------------------------

_KNN_NQ, _KNN_K = 20, 5
_CND_DIM = 64          # embeddings table vector dim (all sfs)

_KNN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
      FROM e WHERE vec_id < {_KNN_NQ}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_reduce(list_transform(range(1, len(q.qv) + 1),
      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (q.qn * e.nrm) AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id)
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_KNN_K}
"""


@spec(
    "embedding_knn",
    _KNN_ORACLE,
    description="Brute-force cosine top-k over array<float> embeddings: "
                "sequential JVM fold dot product, broadcast query block",
    tags=("pipeline", "similarity"),
)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    return cosine_topk(queries, emb, k=_KNN_K)


# ----------------------------------------------------------------------
# Embedding-level benchmark leakage — the contamination probe n-gram
# overlap cannot see (paraphrased or re-tokenized benchmark content
# keeps its embedding neighborhood): per corpus vector, the single
# nearest benchmark vector by exact cosine, with leak flags at the
# standard thresholds. The benchmark side (vec_id % 97, the
# convention benchmark_contamination uses for documents) broadcasts;
# the corpus streams through one pass + a map-side-combined max.
# ----------------------------------------------------------------------

_EBL_THRESH = ("90", "95", "99")


def _emb_leak_oracle() -> str:
    flags = ", ".join(
        f"cosine >= 0.{t}e0 AS leak{t}" for t in _EBL_THRESH)
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
bench AS (SELECT vec_id AS bid, embedding AS bv, nrm AS bn
          FROM e WHERE vec_id % 97 = 0),
corp AS (SELECT vec_id, embedding AS cv, nrm AS cn
         FROM e WHERE vec_id % 97 <> 0),
scored AS (
  SELECT c.vec_id, b.bid,
    COALESCE(list_reduce(list_transform(range(1, len(c.cv) + 1),
      i -> CAST(c.cv[i] AS DOUBLE) * CAST(b.bv[i] AS DOUBLE)),
      (a, x) -> a + x) / nullif(c.cn * b.bn, 0e0), -2e0) AS cosine
  FROM corp c, bench b),
top AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
    (PARTITION BY vec_id ORDER BY cosine DESC, bid ASC) AS rn
  FROM scored) WHERE rn = 1)
SELECT vec_id, bid AS bench_id, cosine, {flags}
FROM top"""


@spec(
    "embedding_benchmark_leakage",
    _emb_leak_oracle(),
    description="Embedding-level benchmark leakage: per corpus "
                "vector the nearest benchmark vector by exact cosine "
                "(benchmark side broadcast, corpus streamed, "
                "map-side-combined max — no window, no vector "
                "shuffle) with leak flags at 0.90/0.95/0.99 — the "
                "paraphrase-level contamination probe n-gram overlap "
                "misses",
    tags=("pipeline", "similarity", "dedup"),
)
def q_embedding_benchmark_leakage(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import nearest_in_reference

    emb = load(spark, sf_dir, "embeddings")
    bench = emb.filter("vec_id % 97 = 0")
    corp = emb.filter("vec_id % 97 <> 0")
    out = nearest_in_reference(corp, bench)
    flags = [f"cosine >= 0.{t}e0 AS leak{t}" for t in _EBL_THRESH]
    return out.selectExpr("vec_id", "bench_id", "cosine", *flags)


# ----------------------------------------------------------------------
# LSH-bucketed ANN — the 100 TB scale path. Exact oracle: hyperplanes
# are LCG-derived integer-ratio literals and projections accumulate in
# a fixed left-to-right order, so bucket membership, candidates and
# cosines are bit-identical across engines.
# ----------------------------------------------------------------------

_LSH_PLANES = 10
_MP_PLANES, _MP_PROBE = 8, 4


def _lsh_oracle_parts(n_planes: int):
    from xsarsea_spark.pipeline.dedup import (band_bucket_sql, dot_sql,
                                              hyperplanes, norm_sql,
                                              projection_sql)

    planes = hyperplanes(n_planes, _CND_DIM)
    proj_sqls = [projection_sql(p, lambda i: f"v[{i}]") for p in planes]
    sig_expr = band_bucket_sql(proj_sqls, 0, n_planes)
    nrm = norm_sql(lambda i: f"v[{i}]", _CND_DIM)
    dot = dot_sql(lambda i: f"x.v[{i}]", lambda i: f"y.v[{i}]", _CND_DIM)
    return proj_sqls, sig_expr, nrm, dot


def _lsh_topk_tail(nrm: str, dot: str) -> str:
    return f"""
nrm AS (SELECT vec_id, v, {nrm} AS n FROM corpus),
scored AS (
  SELECT query_id, neighbor_id, {dot} / (x.n * y.n) AS cosine
  FROM cand JOIN nrm x ON x.vec_id = query_id
            JOIN nrm y ON y.vec_id = neighbor_id)
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {_KNN_K}
"""


def _lsh_ann_oracle() -> str:
    _, sig_expr, nrm, dot = _lsh_oracle_parts(_LSH_PLANES)
    return f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
sig AS (SELECT vec_id, {sig_expr} AS sig FROM corpus),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sig q JOIN sig c ON q.sig = c.sig AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {_KNN_NQ}),
{_lsh_topk_tail(nrm, dot)}
"""


@spec(
    "lsh_ann",
    _lsh_ann_oracle(),
    description="Random-hyperplane LSH bucket join ANN: signature "
                "groupBy + within-bucket exact cosine, never all-pairs",
    tags=("pipeline", "similarity"),
)
def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import lsh_ann

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    return lsh_ann(queries, emb, k=_KNN_K, n_planes=_LSH_PLANES,
                   dim=_CND_DIM)


def _lsh_multiprobe_oracle() -> str:
    proj_sqls, sig_expr, nrm, dot = _lsh_oracle_parts(_MP_PLANES)
    bitvals = "\n  UNION ALL ".join(
        f"SELECT vec_id, {j} AS bit, {proj_sqls[j]} AS pr"
        f" FROM corpus WHERE vec_id < {_KNN_NQ}"
        for j in range(_MP_PLANES)
    )
    pow2 = ("CASE r.bit " + " ".join(
        f"WHEN {j} THEN {1 << j}" for j in range(_MP_PLANES)) + " END")
    return f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
sig AS (SELECT vec_id, {sig_expr} AS sig FROM corpus),
bitvals AS (
  {bitvals}),
ranked AS (
  SELECT vec_id, bit, pr,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY abs(pr), bit) AS rk
  FROM bitvals),
probes AS (
  SELECT vec_id AS query_id, sig AS psig FROM sig
  WHERE vec_id < {_KNN_NQ}
  UNION ALL
  SELECT r.vec_id,
    s.sig + CASE WHEN r.pr > 0e0 THEN -({pow2}) ELSE ({pow2}) END
  FROM ranked r JOIN sig s ON s.vec_id = r.vec_id
  WHERE r.rk <= {_MP_PROBE}),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN sig c ON c.sig = p.psig
  WHERE c.vec_id <> p.query_id),
{_lsh_topk_tail(nrm, dot)}
"""


@spec(
    "lsh_ann_multiprobe",
    _lsh_multiprobe_oracle(),
    description="Multi-probe LSH ANN: each query also searches the "
                "buckets one low-margin bit-flip away — LSH recall "
                "recovery without widening buckets",
    tags=("pipeline", "similarity"),
)
def q_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import lsh_ann_multiprobe

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    return lsh_ann_multiprobe(queries, emb, k=_KNN_K,
                              n_planes=_MP_PLANES, n_probe=_MP_PROBE,
                              dim=_CND_DIM)


# ----------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH scale path against the
# brute-force ground truth — the eval loop every production ANN
# deployment runs, here as one composed plan whose oracle replays
# BOTH pipelines and joins them, so the recall numbers themselves are
# value-checked.
# ----------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    return f"""
WITH ex AS ({_KNN_ORACLE}),
ap AS ({_lsh_ann_oracle()}),
m AS (
  SELECT ex.query_id, COUNT(*) AS n_matched
  FROM ex JOIN ap ON ap.query_id = ex.query_id
                 AND ap.neighbor_id = ex.neighbor_id
  GROUP BY ex.query_id),
nq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex
       GROUP BY query_id)
SELECT nq.query_id, CAST(nq.n_exact AS BIGINT) AS n_exact,
  CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
  COALESCE(m.n_matched, 0) / CAST(nq.n_exact AS DOUBLE) AS recall
FROM nq LEFT JOIN m USING (query_id)
"""


@spec(
    "embedding_ann_recall",
    _ann_recall_oracle(),
    description="Recall@k of LSH ANN against brute-force ground "
                "truth, per query — both pipelines composed in one "
                "plan and replayed by the oracle, so the recall "
                "numbers themselves are value-exact",
    tags=("pipeline", "similarity"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = q_knn(spark, sf_dir).select("query_id", "neighbor_id")
    ap = q_lsh_ann(spark, sf_dir).select("query_id", "neighbor_id")
    m = (
        ex.join(ap, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    nq = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        nq.join(m, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("CAST(coalesce(n_matched, 0) AS BIGINT)")
            .alias("n_matched"),
            F.expr("coalesce(n_matched, 0)"
                   " / CAST(n_exact AS DOUBLE)").alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# BPE-ish token counting + order-sensitive rolling-hash fingerprint
# ----------------------------------------------------------------------

_TOKCOUNT_ORACLE = """
SELECT doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
    AS bpe_ish_tokens,
  CAST(length(text) AS DOUBLE)
    / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
    AS chars_per_token
FROM documents
"""


@spec(
    "token_count_bpe",
    _TOKCOUNT_ORACLE,
    description="Token budget estimation: whitespace + BPE-ish regex "
                "tokenizer counts and chars/token",
    tags=("pipeline", "text"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import token_count_bpe

    return token_count_bpe(load(spark, sf_dir, "documents"))


_ROLLING_ORACLE = f"""
SELECT doc_id,
  list_reduce(
    list_transform(string_split(text, ' '),
                   x -> {_H40_DUCK.format(x='x')}),
    (a, b) -> (a * 1000003 + b) % 4398046511093) AS rolling_hash
FROM documents
"""


@spec(
    "doc_rolling_hash",
    _ROLLING_ORACLE,
    description="Order-sensitive polynomial rolling hash over the "
                "token stream (sequential JVM fold)",
    tags=("pipeline", "text"),
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import rolling_hash

    return rolling_hash(load(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------
# IVF ANN — value-exact chained-CTE oracle. The ivf.py kernels use
# fold-ordered NumPy arithmetic and grid-quantized Lloyd sums
# precisely so every stage (training rounds, final assignment, probe
# ranking, exact in-cell cosine) is replicable below; recall vs brute
# force stays pytest-asserted on top.
# ----------------------------------------------------------------------

_IVF_NC, _IVF_ITERS, _IVF_PROBE = 16, 3, 4


def _ddot(a: str, b: str) -> str:
    """Fold-ordered dot of two DOUBLE-list expressions (DuckDB)."""
    return (f"list_reduce(list_transform(range(1, len({a}) + 1),"
            f" i -> {a}[i] * {b}[i]), (s, t) -> s + t)")


def _ivf_train_parts(train_where: str = "") -> list[str]:
    """Chained CTEs replicating ``train_ivf`` bit-for-bit on
    ``embeddings [train_where]`` — ends at ``kf`` (the final
    norm-guarded centroids). Shared by the full-index and the
    incremental-maintenance oracles."""
    from xsarsea_spark.pipeline.ivf import IVF_SCALE

    parts = [
        f"v AS (SELECT vec_id,"
        f" list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        f" FROM embeddings {train_where})",
        # zero-guarded norms for the similarity stages (kernel guard)
        f"nv AS (SELECT vec_id, e,"
        f" CASE WHEN nr = 0 THEN 1.0 ELSE nr END AS vn FROM"
        f" (SELECT vec_id, e, sqrt({_ddot('e', 'e')}) AS nr FROM v))",
        f"c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1"
        f" AS cell, e AS cent FROM v ORDER BY vec_id LIMIT {_IVF_NC})",
    ]
    sim = f"({_ddot('nv.e', 'k.cent')} / nv.vn) / k.cn"
    for r in range(_IVF_ITERS):
        parts.append(
            f"k{r} AS (SELECT cell, cent,"
            f" CASE WHEN nr = 0 THEN 1.0 ELSE nr END AS cn FROM"
            f" (SELECT cell, cent, sqrt({_ddot('cent', 'cent')}) AS nr"
            f" FROM c{r}))"
        )
        parts.append(
            f"a{r} AS (SELECT nv.vec_id, nv.e, k.cell"
            f" FROM nv CROSS JOIN k{r} k"
            f" QUALIFY ROW_NUMBER() OVER (PARTITION BY nv.vec_id"
            f" ORDER BY {sim} DESC, k.cell) = 1)"
        )
        parts.append(
            f"x{r} AS (SELECT cell, unnest(range(1, len(e) + 1)) AS d,"
            f" unnest(e) AS x FROM a{r})"
        )
        parts.append(
            f"m{r} AS (SELECT cell, d,"
            f" CAST(SUM(CAST(x AS DECIMAL(38,{IVF_SCALE}))) AS DOUBLE)"
            f" / COUNT(x) AS m FROM x{r} GROUP BY cell, d)"
        )
        parts.append(
            f"o{r} AS (SELECT cell,"
            f" unnest(range(1, len(cent) + 1)) AS d,"
            f" unnest(cent) AS oc FROM c{r})"
        )
        # empty cells keep their previous centroid (kernel carryover)
        parts.append(
            f"c{r + 1} AS (SELECT o.cell,"
            f" list(COALESCE(m.m, o.oc) ORDER BY o.d) AS cent"
            f" FROM o{r} o LEFT JOIN m{r} m"
            f" ON m.cell = o.cell AND m.d = o.d GROUP BY o.cell)"
        )
    rf = _IVF_ITERS
    parts.append(
        f"kf AS (SELECT cell, cent,"
        f" CASE WHEN nr = 0 THEN 1.0 ELSE nr END AS cn FROM"
        f" (SELECT cell, cent, sqrt({_ddot('cent', 'cent')}) AS nr"
        f" FROM c{rf}))")
    return parts


def _ivf_oracle() -> str:
    parts = _ivf_train_parts()
    sim = f"({_ddot('nv.e', 'k.cent')} / nv.vn) / k.cn"
    parts += [
        # the index: every corpus vector's final cell
        f"af AS (SELECT nv.vec_id, k.cell"
        f" FROM nv CROSS JOIN kf k"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY nv.vec_id"
        f" ORDER BY {sim} DESC, k.cell) = 1)",
        # probes: top-n_probe cells per query by the same similarity
        f"pr AS (SELECT vec_id AS query_id, cell FROM (SELECT"
        f" nv.vec_id, k.cell, ROW_NUMBER() OVER (PARTITION BY"
        f" nv.vec_id ORDER BY {sim} DESC, k.cell) AS rn"
        f" FROM nv CROSS JOIN kf k WHERE nv.vec_id < {_KNN_NQ})"
        f" WHERE rn <= {_IVF_PROBE})",
        # search norms: with_norm has no zero guard
        f"sn AS (SELECT vec_id, e, sqrt({_ddot('e', 'e')}) AS nrm"
        f" FROM v)",
        f"sq AS (SELECT vec_id AS query_id, e AS qv, nrm AS qn"
        f" FROM sn WHERE vec_id < {_KNN_NQ})",
        f"scored AS (SELECT pr.query_id, a.vec_id AS neighbor_id,"
        f" {_ddot('sq.qv', 'c.e')} / (sq.qn * c.nrm) AS cosine"
        f" FROM pr JOIN af a ON a.cell = pr.cell"
        f" JOIN sn c ON c.vec_id = a.vec_id"
        f" JOIN sq ON sq.query_id = pr.query_id"
        f" WHERE a.vec_id <> pr.query_id)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_KNN_K}""")


@spec(
    "ivf_ann",
    _ivf_oracle(),
    description="IVF approximate NN: deterministic k-means coarse "
                "quantizer, cell-partitioned index, n_probe cell scan "
                "+ exact cosine — the second bucketed scale path; "
                "training rounds, probes and search all value-checked "
                "by one chained-CTE oracle",
    tags=("pipeline", "similarity", "iterative"),
)
def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ivf import (assign_cells, ivf_search,
                                            train_ivf)

    emb = load(spark, sf_dir, "embeddings")
    centroids = train_ivf(emb, n_centroids=_IVF_NC, iters=_IVF_ITERS)
    indexed = assign_cells(emb, centroids)
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    return ivf_search(queries, indexed, centroids, k=_KNN_K,
                      n_probe=_IVF_PROBE)


# ----------------------------------------------------------------------
# Incremental IVF index maintenance — what an embedding store at
# 100 TB actually runs per ingest: the coarse quantizer stays FROZEN
# (trained once on the historical corpus; retraining would invalidate
# every persisted posting), and a new batch is assigned to cells in
# one O(batch x n_centroids) Arrow pass with zero touch of the
# historical postings. The oracle replays the history-only training
# chain (shared CTE builder with ivf_ann) and assigns ALL vectors
# with the frozen centroids — value equality certifies the
# incremental assignment lands every batch vector exactly where a
# from-scratch assignment against the same quantizer would.
# ----------------------------------------------------------------------


def _ivf_incremental_oracle() -> str:
    parts = [
        f"cut AS (SELECT CAST(CEIL(MAX(vec_id) * {_INC_FRAC})"
        f" AS BIGINT) AS c FROM embeddings)",
    ] + _ivf_train_parts("WHERE vec_id < (SELECT c FROM cut)") + [
        "vall AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)",
        f"nvall AS (SELECT vec_id, e,"
        f" CASE WHEN nr = 0 THEN 1.0 ELSE nr END AS vn FROM"
        f" (SELECT vec_id, e, sqrt({_ddot('e', 'e')}) AS nr"
        f" FROM vall))",
        f"af AS (SELECT nvall.vec_id, k.cell"
        f" FROM nvall CROSS JOIN kf k"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY nvall.vec_id"
        f" ORDER BY ({_ddot('nvall.e', 'k.cent')} / nvall.vn) / k.cn"
        f" DESC, k.cell) = 1)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT CAST(cell AS BIGINT) AS cell,
  CAST(SUM(CASE WHEN vec_id < (SELECT c FROM cut)
       THEN 1 ELSE 0 END) AS BIGINT) AS n_hist,
  CAST(SUM(CASE WHEN vec_id >= (SELECT c FROM cut)
       THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  COUNT(*) AS n_total,
  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
FROM af GROUP BY cell""")


@spec(
    "ivf_incremental",
    _ivf_incremental_oracle(),
    description="Incremental IVF maintenance: frozen history-trained "
                "quantizer, new batch assigned in one O(batch x k) "
                "Arrow pass, postings merged — per-cell census "
                "value-equal to a from-scratch assignment against "
                "the same quantizer",
    tags=("pipeline", "similarity", "incremental"),
)
def q_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ivf import assign_cells, train_ivf

    emb = load(spark, sf_dir, "embeddings")
    cut = emb.agg(F.expr(
        f"CAST(CEIL(MAX(vec_id) * {_INC_FRAC}) AS BIGINT)").alias("c"))
    d = emb.crossJoin(F.broadcast(cut))
    hist = d.filter("vec_id < c").drop("c")
    batch = d.filter("vec_id >= c").drop("c")
    # the persisted quantizer of a production index, trained once
    centroids = train_ivf(hist, n_centroids=_IVF_NC, iters=_IVF_ITERS)
    idx_hist = assign_cells(hist, centroids) \
        .withColumn("__new", F.lit(False))
    idx_new = assign_cells(batch, centroids) \
        .withColumn("__new", F.lit(True))
    merged = idx_hist.unionByName(idx_new)
    return merged.groupBy(F.col("cell").cast("bigint").alias("cell")) \
        .agg(
            F.expr("CAST(SUM(CASE WHEN __new THEN 0 ELSE 1 END)"
                   " AS BIGINT)").alias("n_hist"),
            F.expr("CAST(SUM(CASE WHEN __new THEN 1 ELSE 0 END)"
                   " AS BIGINT)").alias("n_new"),
            F.count(F.lit(1)).alias("n_total"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )


# ----------------------------------------------------------------------
# Embedding-cosine near-dup (vector-space dedup family). The corpus is
# embeddings UNION a deterministically-perturbed clone of every 7th
# vector (clone ids offset by 1e6), so true near-dup pairs exist by
# construction. All similarity math is sequential-fold double
# arithmetic (exact cross-engine); LSH buckets are sign patterns of
# deterministic hyperplane projections — both engines compute the
# identical candidate set, never all-pairs.
# ----------------------------------------------------------------------

_CND_PLANES, _CND_BANDS, _CND_T = 32, 4, 0.95
_CND_R = _CND_PLANES // _CND_BANDS

_CND_PERTURB = "2e-2 * ((((vec_id * 31 + {i0} * 17) % 21) - 10) / 10e0)"


def _cnd_oracle() -> str:
    """Same plane constants + same flat unrolled arithmetic as
    pipeline.dedup.cosine_neardup — bit-identical in DuckDB."""
    from xsarsea_spark.pipeline.dedup import (band_bucket_sql, dot_sql,
                                              hyperplanes, norm_sql,
                                              projection_sql)

    planes = hyperplanes(_CND_PLANES, _CND_DIM)
    proj_sqls = [projection_sql(p, lambda i: f"v[{i}]") for p in planes]
    sig_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, {b} AS band,"
        f" {band_bucket_sql(proj_sqls, b, _CND_R)} AS bucket FROM corpus"
        for b in range(_CND_BANDS)
    )
    nrm = norm_sql(lambda i: f"v[{i}]", _CND_DIM)
    dot = dot_sql(lambda i: f"x.v[{i}]", lambda i: f"y.v[{i}]", _CND_DIM)
    pert = _CND_PERTURB.format(i0="(i - 1)")
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
clones AS (
  SELECT vec_id + 1000000 AS vec_id,
    list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) + {pert}) AS v
  FROM embeddings WHERE vec_id % 7 = 0),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
sig AS (
  {sig_selects}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
nrm AS (
  SELECT vec_id, v, {nrm} AS n
  FROM corpus)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
    {dot} / (x.n * y.n) AS cosine
  FROM cand JOIN nrm x ON x.vec_id = id_a
            JOIN nrm y ON y.vec_id = id_b)
WHERE cosine >= {_CND_T}
"""


@spec(
    "embedding_cosine_neardup",
    _cnd_oracle(),
    description="Embedding-cosine near-dup: banded random-hyperplane "
                "LSH candidates (never all-pairs) + exact cosine >= "
                "0.95 verify, over a clone-injected corpus",
    tags=("pipeline", "dedup", "similarity"),
)
def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import cosine_neardup

    emb = load(spark, sf_dir, "embeddings")
    base = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
    pert = _CND_PERTURB.format(i0="i")
    clones = emb.filter(F.col("vec_id") % 7 == 0).selectExpr(
        "vec_id + 1000000 AS vec_id",
        f"zip_with(embedding, sequence(0, size(embedding) - 1),"
        f" (x, i) -> CAST(x AS DOUBLE) + {pert}) AS embedding",
    )
    corpus = base.unionAll(clones)
    return cosine_neardup(corpus, threshold=_CND_T,
                          n_planes=_CND_PLANES, bands=_CND_BANDS,
                          dim=_CND_DIM)


# ----------------------------------------------------------------------
# Training-data curation: stratified sampling, benchmark
# contamination, duplicate-cluster resolution
# ----------------------------------------------------------------------

_SAMPLE_N = 50

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
    ROW_NUMBER() OVER (PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
WHERE rk <= {_SAMPLE_N}
"""


@spec(
    "stratified_sample",
    _SAMPLE_ORACLE,
    description="Deterministic hash-ordered stratified sample: the "
                f"{_SAMPLE_N} smallest-md5 docs per language stratum "
                "— reproducible across runs and engines, no RNG",
    tags=("pipeline", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, n_per_stratum=_SAMPLE_N,
                             strata_cols=("lang",)).select(
        "doc_id", "lang", "source")


_CONTAM_N = 3

_CONTAM_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(len(l) - {_CONTAM_N - 1}),
      i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3])) AS shingle
  FROM t),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
totals AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, count(*) AS n_contaminated
  FROM corp c JOIN bench b USING (shingle) GROUP BY c.doc_id)
SELECT t.doc_id, t.n_grams, h.n_contaminated,
  h.n_contaminated / CAST(t.n_grams AS DOUBLE) AS contamination
FROM totals t JOIN hits h ON h.doc_id = t.doc_id
"""


@spec(
    "benchmark_contamination",
    _CONTAM_ORACLE,
    description="Benchmark-contamination report: fraction of each "
                "corpus doc's word n-grams appearing in a held-out "
                "benchmark set — broadcast shingle join, never "
                "cross-join",
    tags=("pipeline", "text", "dedup"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.sampling import contamination_report

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, bench, n=_CONTAM_N)


def _components_oracle() -> str:
    """Connected components over the MinHash near-dup pair graph via
    transitive closure (WITH RECURSIVE) — clusters are tiny, so the
    closure is bounded."""
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
FROM reach GROUP BY src
"""


@spec(
    "dup_cluster_components",
    _components_oracle(),
    description="Duplicate-cluster resolution: connected components "
                "of the near-dup pair graph by bounded min-label "
                "propagation (oracle: recursive-CTE transitive "
                "closure)",
    tags=("pipeline", "dedup", "iterative"),
)
def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup
    from xsarsea_spark.pipeline.sampling import dup_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, n=_MH_N, k=_MH_K, threshold=_MH_T)
    return dup_components(pairs)


# ----------------------------------------------------------------------
# Quality-aware canonical selection: within each near-dup cluster,
# keep ONE document — the longest (token count), ties to the lowest
# doc_id — and mark the rest for removal. This is the keeper-election
# step every production dedup actually runs after clustering (Dolma/
# FineWeb shape: dedup should discard the WORSE copy, not an
# arbitrary one). The per-cluster window is cluster-bounded (near-dup
# clusters are tiny after LSH + Jaccard), never corpus-wide.
# ----------------------------------------------------------------------


def _keeper_oracle() -> str:
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src),
t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents)
SELECT c.doc_id, c.component, CAST(t.n_tokens AS BIGINT) AS n_tokens,
  (ROW_NUMBER() OVER (PARTITION BY c.component
                      ORDER BY t.n_tokens DESC, c.doc_id ASC)) = 1
    AS is_keeper
FROM comp c JOIN t ON t.doc_id = c.doc_id
"""


@spec(
    "neardup_quality_keeper",
    _keeper_oracle(),
    description="Canonical selection in near-dup clusters: elect the "
                "longest member (ties to lowest id) as keeper, flag "
                "the rest as the removal set — LSH pairs, clustering "
                "and the election all replayed by the oracle",
    tags=("pipeline", "dedup", "iterative"),
)
def q_neardup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup
    from xsarsea_spark.pipeline.sampling import dup_components

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, n=_MH_N, k=_MH_K, threshold=_MH_T)
    comp = dup_components(pairs)
    t = docs.select(
        "doc_id", F.expr("size(split(text, ' '))").alias("n_tokens"))
    w = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), F.asc("doc_id"))
    return (
        comp.join(t, on="doc_id")
        .select(
            "doc_id", "component",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.row_number().over(w) == F.lit(1)).alias("is_keeper"),
        )
    )


# ----------------------------------------------------------------------
# TF-IDF top terms per document. Ranking happens on the QUANTIZED
# score so rank and emitted value share the same cross-engine
# barrier; (tf, df) ties produce bit-identical scores in both
# engines and fall through to the term tie-break.
# ----------------------------------------------------------------------

_TFIDF_K = 3

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks GROUP BY doc_id, term),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
    {{q}} AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, rank, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
    ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY tfidf DESC, term) AS rank
  FROM scored)
WHERE rank <= {_TFIDF_K}
"""


def _tfidf_expr() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    return QTRUNC("tf * ln(CAST(n_docs AS DOUBLE) / df)", 9)


@spec(
    "doc_tfidf_topterms",
    _TFIDF_ORACLE.format(q=_tfidf_expr()),
    description="Top TF-IDF terms per document (tf x ln(N/df), "
                "quantized ranking, deterministic term tie-break)",
    tags=("pipeline", "text"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id",
                           "explode(split(text, ' ')) AS term")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, on="term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.expr(_tfidf_expr()))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "rank", "term", "tfidf")
    )


# ----------------------------------------------------------------------
# Sequence packing (concat-then-chunk) + deterministic mixture
# sampling — the layout/token math is all integers, the sampling a
# hash threshold, so both are value-exact.
# ----------------------------------------------------------------------

_PACK_LEN = 128

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
laid AS (
  SELECT doc_id, n,
    SUM(n) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
      AS cum_before
  FROM toks),
spans AS (SELECT CAST(range AS BIGINT) AS k FROM range(8))
SELECT doc_id,
  CAST(cum_before // {_PACK_LEN} + k AS BIGINT) AS seq_id,
  CAST(GREATEST(cum_before, (cum_before // {_PACK_LEN} + k)
    * {_PACK_LEN}) - cum_before AS BIGINT) AS doc_offset,
  CAST(GREATEST(cum_before, (cum_before // {_PACK_LEN} + k)
    * {_PACK_LEN})
    - (cum_before // {_PACK_LEN} + k) * {_PACK_LEN} AS BIGINT)
    AS seq_offset,
  CAST(LEAST(cum_before + n, (cum_before // {_PACK_LEN} + k + 1)
    * {_PACK_LEN})
  - GREATEST(cum_before, (cum_before // {_PACK_LEN} + k)
    * {_PACK_LEN}) AS BIGINT) AS span_len
FROM laid CROSS JOIN spans
WHERE (cum_before // {_PACK_LEN} + k) * {_PACK_LEN} < cum_before + n
"""


@spec(
    "doc_sequence_packing",
    _PACK_ORACLE,
    description="Concat-then-chunk sequence packing into fixed "
                "context windows (docs may span boundaries): one "
                "integer window cumsum, ~100% token utilization",
    tags=("pipeline", "packing"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.packing import pack_sequences

    docs = load(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=_PACK_LEN)


# TRY_CAST: a source tag that doesn't end in an integer (drifted
# corpus) falls into the 25% bucket instead of crashing the CAST —
# identical guard on both engines, no-op on the current 'srcN' tags.
_MIX_RATE = ("((COALESCE(TRY_CAST(substr(source, 4) AS BIGINT), 0)"
             " % 4) + 1) * 25e-2")

_MIX_ORACLE = f"""
SELECT doc_id, source, lang
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
  source), 1, 10) AS BIGINT) / 1099511627776e0
  < ((COALESCE(TRY_CAST(substr(source, 4) AS BIGINT), 0) % 4) + 1)
    * 25e-2
"""


@spec(
    "doc_mixture_sample",
    _MIX_ORACLE,
    description="Deterministic data-mixture sampling: per-source "
                "hash-threshold rates (25/50/75/100%), reproducible "
                "across runs and engines — no RNG",
    tags=("pipeline", "sampling"),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.packing import mixture_sample

    docs = load(spark, sf_dir, "documents")
    return mixture_sample(docs, _MIX_RATE).select(
        "doc_id", "source", "lang")


# ----------------------------------------------------------------------
# Bigram language-model scoring: corpus-wide add-one-smoothed bigram
# conditional probabilities, then a per-document mean log-likelihood —
# the classic cheap "does this look like natural text" pretraining
# filter (a KenLM stand-in with exact cross-engine arithmetic).
#
# Determinism: each ln() term passes the QTRUNC barrier, is cast to
# DECIMAL(38,9) (exact for |ll| < 1e28), and the per-doc sum is a
# DECIMAL sum — order-independent, so Spark's partition order and
# DuckDB's scan order cannot disagree. Scale: the count tables are
# vocabulary-sized (<< corpus), the scoring join keys are words (AQE
# skew-split handles stopword heads), and nothing leaves the JVM.
# ----------------------------------------------------------------------


def _bigram_term() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    return QTRUNC("ln((c12 + 1) / CAST(c1 + v AS DOUBLE))", 9)


_BIGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
  FROM t),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
vocab AS (
  SELECT COUNT(DISTINCT x) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
scored AS (
  SELECT doc_id, {{term}} AS term
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab)
SELECT doc_id, COUNT(*) AS n_bigrams,
  CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS ll,
  CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS avg_ll
FROM scored GROUP BY doc_id
"""


@spec(
    "doc_bigram_lm",
    _BIGRAM_ORACLE.format(term=_bigram_term()),
    description="Add-one-smoothed bigram LM log-likelihood per "
                "document (KenLM-style quality filter); "
                "order-independent DECIMAL summation",
    tags=("pipeline", "text", "lm"),
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bigram_ll(spark, sf_dir)


def _bigram_ll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import bigrams

    docs = load(spark, sf_dir, "documents")
    bg = bigrams(docs)
    # ONE corpus-scale bigram aggregation: c12 holds exactly one row
    # per distinct (w1, w2), so the history total c1 is the per-w1
    # SUM of c12 — deriving it there (vocabulary-scale) removes a
    # second corpus explode + shuffle. The lazy checkpoint lets both
    # consumers (the c1 rollup and the scoring join) share one
    # execution of the corpus aggregation inside the main action.
    c12 = materialize(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")),
        eager=False)
    c1 = c12.groupBy("w1").agg(F.expr("SUM(c12)").alias("c1"))
    vocab = docs.selectExpr("explode(split(text, ' ')) AS x").agg(
        F.countDistinct("x").alias("v"))
    # pre-join c1 onto c12 (both vocabulary-scale) so the corpus
    # bigram stream is joined ONCE: every bg row hits both tables by
    # construction (its (w1, w2) is a c12 key and every c12 key's w1
    # is a c1 key), so inner-join semantics are unchanged
    scored = (
        bg.join(c12.join(c1, on="w1"), on=["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .selectExpr("doc_id", f"{_bigram_term()} AS term")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE)")
        .alias("ll"),
        F.expr("CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE)"
               " / COUNT(*)").alias("avg_ll"),
    )


# ----------------------------------------------------------------------
# ----------------------------------------------------------------------
# HTML main-content extraction — the trafilatura/jusText stage every
# web-corpus pipeline runs before any text filter. The corpus is
# plain text, so each doc is first wrapped in a deterministic HTML
# shell (title, nav, an inline script, <p> blocks of 20 tokens, a
# footer — the same synth-then-process convention as _URL_SYNTH);
# extraction is then pure relational string work: strip <script>
# blocks, pull the <p> payloads and the <title>, and report the
# boilerplate fraction plus an exact round-trip check (extracted
# text must equal the original payload — the extractor's correctness
# made visible in the output). Zero UDFs on either engine; regex
# stays in the RE2 ∩ Java subset (literal tags + non-greedy dot).
# ----------------------------------------------------------------------

_HTML_PARA_TOKS = 20


def _html_synth(dialect: str) -> str:
    g = _HTML_PARA_TOKS
    if dialect == "spark":
        paras = (f"array_join(transform(sequence(0,"
                 f" CAST((size(l) - 1) DIV {g} AS INT)),"
                 f" g -> concat('<p>',"
                 f" array_join(slice(l, g * {g} + 1, {g}), ' '),"
                 f" '</p>')), '')")
    else:
        paras = (f"array_to_string(list_transform(range(0,"
                 f" (len(l) - 1) // {g} + 1),"
                 f" g -> '<p>' || array_to_string("
                 f"l[g * {g} + 1 : g * {g} + {g}], ' ')"
                 f" || '</p>'), '')")
    return (
        "'<html><head><title>Doc ' || CAST(doc_id AS STRING)"
        " || '</title></head><body>'"
        " || '<nav>Home &amp; About | Login</nav>'"
        " || '<script>var t=\"' || CAST(doc_id AS STRING)"
        " || '\";track(t);</script>'"
        " || '<h1>Doc ' || CAST(doc_id AS STRING) || '</h1>'"
        f" || {paras}"
        " || '<footer>&copy; 2026 Example Corp</footer>"
        "</body></html>'")


_HTML_EXTRACT_ORACLE = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
h AS (SELECT doc_id, text, {_html_synth('duck')} AS html FROM t),
x AS (SELECT doc_id, text, html,
        regexp_replace(html, '<script>.*?</script>', '', 'g')
          AS clean FROM h),
e AS (SELECT doc_id, text, html,
        regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
        regexp_extract_all(clean, '<p>(.*?)</p>', 1) AS paras
      FROM x),
m AS (SELECT doc_id, text, html, title, paras,
        array_to_string(paras, ' ') AS main_text FROM e)
SELECT doc_id, title,
  CAST(len(paras) AS BIGINT) AS n_paragraphs,
  CAST(len(string_split(main_text, ' ')) AS BIGINT)
    AS extracted_tokens,
  main_text = text AS roundtrip_ok,
  (length(html) - length(main_text))
    / CAST(length(html) AS DOUBLE) AS boilerplate_frac,
  md5(main_text) AS extracted_md5
FROM m"""


@spec(
    "doc_html_extract",
    _HTML_EXTRACT_ORACLE,
    description="HTML main-content extraction (the trafilatura/"
                "jusText stage): deterministic HTML shell around "
                "each doc, relational strip of script/nav/footer "
                "boilerplate, <p>-payload and <title> pull — "
                "paragraph/token counts, boilerplate fraction and "
                "an exact round-trip equality flag, zero UDFs",
    tags=("pipeline", "text", "quality"),
)
def q_doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter("text IS NOT NULL")
    h = docs.selectExpr(
        "doc_id", "text", "split(text, ' ') AS l"
    ).selectExpr("doc_id", "text", f"{_html_synth('spark')} AS html")
    x = h.selectExpr(
        "doc_id", "text", "html",
        "regexp_replace(html, '<script>.*?</script>', '') AS clean")
    e = x.selectExpr(
        "doc_id", "text", "html",
        "regexp_extract(html, '<title>(.*?)</title>', 1) AS title",
        "regexp_extract_all(clean, '<p>(.*?)</p>', 1) AS paras")
    m = e.selectExpr("doc_id", "text", "html", "title", "paras",
                     "array_join(paras, ' ') AS main_text")
    return m.selectExpr(
        "doc_id", "title",
        "CAST(size(paras) AS BIGINT) AS n_paragraphs",
        "CAST(size(split(main_text, ' ')) AS BIGINT)"
        " AS extracted_tokens",
        "main_text = text AS roundtrip_ok",
        "(length(html) - length(main_text))"
        " / CAST(length(html) AS DOUBLE) AS boilerplate_frac",
        "md5(main_text) AS extracted_md5")


# C4-style text normalization profile — the canonical-form pass raw
# web corpora run before exact dedup / shingling (lowercase,
# non-alphanumeric to space, whitespace collapse, trim). Emits the
# per-doc before/after profile + the md5 digest of the normalized
# form (the key a normalized exact-dedup would group on), and the
# corpus-level dedup effect: how many docs collapse to the same
# normalized digest. The regex pattern is deliberately the
# RE2/Java-regex common subset; parity is pytest-pinned on
# adversarial text.
# ----------------------------------------------------------------------


def _normalize_oracle() -> str:
    from xsarsea_spark.pipeline.text import NORM_DUCK_SQL

    norm = NORM_DUCK_SQL.format(x="text")
    return f"""
WITH n AS (
  SELECT doc_id, text, {norm} AS norm
  FROM documents WHERE text IS NOT NULL),
p AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars_raw,
    CAST(length(norm) AS BIGINT) AS n_chars_norm,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_raw,
    CAST(CASE WHEN norm = '' THEN 0
      ELSE len(string_split(norm, ' ')) END AS BIGINT)
      AS n_tokens_norm,
    md5(norm) AS norm_digest
  FROM n),
g AS (SELECT norm_digest, COUNT(*) AS grp FROM p GROUP BY 1)
SELECT p.doc_id, p.n_chars_raw, p.n_chars_norm, p.n_tokens_raw,
  p.n_tokens_norm, p.norm_digest,
  CAST(g.grp AS BIGINT) AS norm_dup_count
FROM p JOIN g ON g.norm_digest = p.norm_digest
"""


@spec(
    "doc_normalize_profile",
    _normalize_oracle(),
    description="C4-style normalization profile: lowercase / strip "
                "non-alphanumerics / collapse whitespace in the "
                "RE2-and-Java-regex common subset (adversarial "
                "parity pytest), per-doc before/after char+token "
                "counts, normalized-form md5, and the normalized "
                "exact-dup group size",
    tags=("pipeline", "text", "quality"),
)
def q_doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import normalize_text

    docs = load(spark, sf_dir, "documents").filter(
        "text IS NOT NULL")
    n = normalize_text(docs, out_col="__norm")
    p = n.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars_raw",
        "CAST(length(__norm) AS BIGINT) AS n_chars_norm",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens_raw",
        "CAST(CASE WHEN __norm = '' THEN 0"
        " ELSE size(split(__norm, ' ')) END AS BIGINT)"
        " AS n_tokens_norm",
        "md5(__norm) AS norm_digest")
    g = p.groupBy("norm_digest").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("norm_dup_count"))
    return p.join(g, on="norm_digest").select(
        "doc_id", "n_chars_raw", "n_chars_norm", "n_tokens_raw",
        "n_tokens_norm", "norm_digest", "norm_dup_count")


# ----------------------------------------------------------------------
# URL canonicalization + domain-level dedup — the first dedup pass of
# every web-corpus pipeline (CCNet §3.1 / C4 dedup by URL before any
# content hashing). The documents table carries no URL column, so a
# deterministic synthetic URL is derived per doc (same SQL expression
# in both engines) with planted variation across every axis the
# canonicalizer must collapse: scheme case + http/https, www prefix,
# mixed-case host/suffix, default vs non-default ports, trailing
# slash, tracking params, parameter order, fragments. The
# canonicalization itself is pipeline.urls.url_norm_steps — one
# in-plan expression chain, RE2 ∩ Java-regex subset, no UDFs.
# ----------------------------------------------------------------------

# deterministic synthetic URL (dialect-shared SQL): %21 hits only
# https docs (21 = 3*7) so ':443' is always a default port; %9 = 1
# implies %3 != 0 so ':8080' lands on http docs and must be KEPT.
# `source` is coalesced to '' because Spark's concat is
# NULL-propagating while DuckDB's treats NULL args as '' — without
# the guard a NULL source yields url=NULL in Spark (row silently
# dropped by the null-unsafe dup_key/domain joins) but a non-NULL
# URL in DuckDB, diverging cross-engine on uncontrolled input
_URL_SYNTH = (
    "concat("
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END, '://',"
    " CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END,"
    " coalesce(source, ''),"
    " CASE doc_id % 5 WHEN 0 THEN '.CO.UK' WHEN 1 THEN '.com'"
    " WHEN 2 THEN '.ORG' WHEN 3 THEN '.io' ELSE '.net' END,"
    " CASE WHEN doc_id % 21 = 0 THEN ':443'"
    " WHEN doc_id % 9 = 1 THEN ':8080' ELSE '' END,"
    " '/p/', doc_id % 50,"
    " CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,"
    " '?',"
    " CASE WHEN doc_id % 2 = 0 THEN"
    " concat('id=', doc_id % 10, '&utm_campaign=spring')"
    " ELSE concat('utm_campaign=spring&id=', doc_id % 10) END,"
    " CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)"
)


def _url_dedup_oracle() -> str:
    from xsarsea_spark.pipeline.urls import url_cte_chain

    parts, prev = url_cte_chain(
        f"SELECT doc_id, {_URL_SYNTH} AS url FROM documents")
    parts += [
        f"per AS (SELECT doc_id, url_norm, dup_key, domain"
        f" FROM {prev})",
        "g AS (SELECT dup_key, COUNT(*) AS n_dup,"
        " MIN(doc_id) AS canon FROM per GROUP BY 1)",
        "dd AS (SELECT domain, COUNT(*) AS domain_docs,"
        " COUNT(DISTINCT dup_key) AS domain_unique"
        " FROM per GROUP BY 1)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT p.doc_id, p.url_norm, p.domain,
  CAST(g.n_dup AS BIGINT) AS n_dup,
  p.doc_id = g.canon AS is_canonical,
  CAST(dd.domain_docs AS BIGINT) AS domain_docs,
  CAST(dd.domain_unique AS BIGINT) AS domain_unique
FROM per p JOIN g ON g.dup_key = p.dup_key
JOIN dd ON dd.domain = p.domain""")


@spec(
    "doc_url_dedup",
    _url_dedup_oracle(),
    description="URL canonicalization + domain-level dedup: "
                "lowercase scheme/host, default-port and www strip, "
                "fragment/trailing-slash drop, utm_* removal with "
                "sorted surviving params, scheme-insensitive dup "
                "key, registrable domain via embedded public-suffix "
                "subset; per-URL-group size + canonical pick and "
                "per-domain doc/unique counts — one in-plan "
                "expression chain, byte-identical across engines",
    tags=("pipeline", "dedup", "text"),
)
def q_doc_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.urls import url_norm_steps

    df = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH} AS url")
    for col, expr in url_norm_steps("spark"):
        df = df.withColumn(col, F.expr(expr))
    # materialize the slim canonical frame: CollapseProject inlines
    # the synth-URL + 13-step chain into one projection whose
    # generated evaluator tops the JVM's 64 KB method limit (codegen
    # falls back to the interpreter for the whole stage); the barrier
    # keeps the canonicalization inside codegen and the two group-bys
    # + joins below re-scan 4 narrow columns instead of re-deriving
    # the chain three times
    per = materialize(
        df.select("doc_id", "url_norm", "dup_key", "domain"))
    g = per.groupBy("dup_key").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_dup"),
        F.min("doc_id").alias("__canon"))
    dd = per.groupBy("domain").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("domain_docs"),
        F.expr("CAST(COUNT(DISTINCT dup_key) AS BIGINT)")
        .alias("domain_unique"))
    return (
        per.join(g, on="dup_key").join(dd, on="domain")
        .selectExpr("doc_id", "url_norm", "domain", "n_dup",
                    "doc_id = __canon AS is_canonical",
                    "domain_docs", "domain_unique")
    )


# ----------------------------------------------------------------------
# Domain-level quality aggregation + blocklist — the RefinedWeb /
# FineWeb step AFTER URL canonicalization: per-doc quality gates
# roll up to the registrable domain, and a domain whose bad-doc
# fraction exceeds the corpus rate is blocked wholesale (domain
# blocklists are how web pipelines kill content farms without
# scoring every page). Gates are exact-integer / single-division
# signals (token count, mean word length, char count), the block
# threshold is the corpus-wide bad fraction (data-adaptive,
# deterministic, a 1-row broadcast join), and the domain comes from
# the same canonicalization chain doc_url_dedup pins.
# ----------------------------------------------------------------------

# per-doc gate fragments: {nt} = token count expression
_DQB_BAD = ("CASE WHEN {nt} < 20 OR n_chars < 150"
            " OR (CAST(n_chars - ({nt} - 1) AS DOUBLE)"
            " / CAST({nt} AS DOUBLE)) < 2.5"
            " OR (CAST(n_chars - ({nt} - 1) AS DOUBLE)"
            " / CAST({nt} AS DOUBLE)) > 12.0"
            " THEN 1 ELSE 0 END")


def _domain_quality_oracle() -> str:
    from xsarsea_spark.pipeline.urls import url_cte_chain

    parts, prev = url_cte_chain(
        f"SELECT doc_id, n_chars, text, {_URL_SYNTH} AS url"
        f" FROM documents WHERE text IS NOT NULL")
    bad = _DQB_BAD.format(nt="len(string_split(text, ' '))")
    parts += [
        f"per AS (SELECT doc_id, domain, n_chars,"
        f" {bad} AS bad FROM {prev})",
        "d AS (SELECT domain, COUNT(*) AS n_docs,"
        " CAST(SUM(bad) AS BIGINT) AS n_bad,"
        " CAST(SUM(bad) AS DOUBLE) / COUNT(*) AS bad_frac,"
        " CAST(SUM(n_chars) AS BIGINT) AS sum_chars"
        " FROM per GROUP BY domain)",
        "t AS (SELECT CAST(SUM(bad) AS DOUBLE) / COUNT(*)"
        " AS corpus_frac FROM per)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT d.domain, d.n_docs, d.n_bad, d.bad_frac, d.sum_chars,
  t.corpus_frac, d.bad_frac > t.corpus_frac AS blocked
FROM d CROSS JOIN t""")


@spec(
    "domain_quality_block",
    _domain_quality_oracle(),
    description="Domain-level quality blocklist (the RefinedWeb/"
                "FineWeb post-URL step): exact-integer per-doc gates "
                "(token count, mean word length, char count) rolled "
                "up to the registrable domain; a domain is blocked "
                "when its bad-doc fraction exceeds the corpus rate "
                "(1-row broadcast threshold)",
    tags=("pipeline", "quality", "dedup"),
)
def q_domain_quality_block(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.urls import url_norm_steps

    df = (load(spark, sf_dir, "documents")
          .filter("text IS NOT NULL")
          .selectExpr("doc_id", "n_chars", "text",
                      f"{_URL_SYNTH} AS url"))
    for col, expr in url_norm_steps("spark"):
        df = df.withColumn(col, F.expr(expr))
    bad = _DQB_BAD.format(nt="size(split(text, ' '))")
    # same codegen barrier as doc_url_dedup: the synth+chain
    # projection is consumed by two aggregations below
    per = materialize(df.selectExpr(
        "doc_id", "domain", "n_chars", f"{bad} AS bad"))
    d = per.groupBy("domain").agg(
        F.expr("COUNT(*)").alias("n_docs"),
        F.expr("CAST(SUM(bad) AS BIGINT)").alias("n_bad"),
        F.expr("CAST(SUM(bad) AS DOUBLE) / COUNT(*)")
        .alias("bad_frac"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sum_chars"))
    t = per.agg(F.expr("CAST(SUM(bad) AS DOUBLE) / COUNT(*)")
                .alias("corpus_frac"))
    return (d.crossJoin(F.broadcast(t))
            .selectExpr("domain", "n_docs", "n_bad", "bad_frac",
                        "sum_chars", "corpus_frac",
                        "bad_frac > corpus_frac AS blocked"))


# ----------------------------------------------------------------------
# Full Public Suffix List registrable-domain extraction — the
# algorithmic upgrade over the expression chain's exact-2-label
# shortcut: wildcard rules (*.kawasaki.jp), exception rules
# (!city.kawasaki.jp, !www.ck), 3-label private suffixes
# (s3.amazonaws.com), and hosts that ARE a public suffix (no
# registrable domain) all resolve per the publicsuffix.org matching
# spec. K broadcast joins against the PSL data table (pipeline/psl.py
# snapshot; spark.xsarsea.psl.path loads the authoritative file) —
# no shuffle, no UDF; the synthetic hosts plant every rule class.
# ----------------------------------------------------------------------

# deterministic synthetic host covering each PSL rule class; source
# coalesced for the same NULL-propagation reason as _URL_SYNTH
_PSL_HOST = (
    "CASE CAST(doc_id % 12 AS INT)"
    " WHEN 0 THEN concat(coalesce(source, ''), '.com.br')"
    " WHEN 1 THEN concat('a.b.', coalesce(source, ''), '.co.in')"
    " WHEN 2 THEN concat(coalesce(source, ''), '.blogspot.com')"
    " WHEN 3 THEN 'blogspot.com'"
    " WHEN 4 THEN concat(coalesce(source, ''), '.kawasaki.jp')"
    " WHEN 5 THEN concat('x.', coalesce(source, ''), '.kawasaki.jp')"
    " WHEN 6 THEN 'city.kawasaki.jp'"
    " WHEN 7 THEN concat(coalesce(source, ''), '.city.kawasaki.jp')"
    " WHEN 8 THEN 'www.ck'"
    " WHEN 9 THEN concat(coalesce(source, ''), '.ck')"
    " WHEN 10 THEN concat('deep.', coalesce(source, ''), '.xyzzy')"
    " ELSE concat(coalesce(source, ''), '.co.uk') END"
)


def _psl_domain_oracle() -> str:
    from xsarsea_spark.pipeline.psl import (PSL_SNAPSHOT,
                                            parse_psl_rules,
                                            psl_oracle_ctes)

    rows = parse_psl_rules(PSL_SNAPSHOT.splitlines())
    parts, prev = psl_oracle_ctes(
        f"SELECT doc_id, {_PSL_HOST} AS host FROM documents", rows)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT coalesce(psl_domain, '<public-suffix>') AS domain,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
  MIN(doc_id) AS min_doc
FROM {prev} GROUP BY 1""")


@spec(
    "doc_psl_domain",
    _psl_domain_oracle(),
    description="Full Public Suffix List registrable-domain "
                "extraction (publicsuffix.org matching spec: longest "
                "rule wins, wildcard rules consume one extra label, "
                "exception rules override, no-match falls back to "
                "the implicit * rule, a host that IS a public suffix "
                "has no registrable domain): K broadcast joins "
                "against the PSL data table — no shuffle, no UDF — "
                "rolled up to per-domain doc/host counts",
    tags=("pipeline", "dedup", "text"),
)
def q_doc_psl_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.psl import (PSL_SNAPSHOT, psl_rules,
                                            with_psl_domain)

    # pinned to the snapshot (not the conf-overridable loader): the
    # oracle above bakes the same rows in, and the suite row must
    # stay deterministic under any deployment conf
    rules_df, rows = psl_rules(spark, PSL_SNAPSHOT.splitlines())
    df = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_PSL_HOST} AS host")
    out = with_psl_domain(df, "host", rules_df, rows)
    return (out.groupBy(F.expr("coalesce(psl_domain,"
                               " '<public-suffix>')").alias("domain"))
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
                 F.expr("CAST(COUNT(DISTINCT host) AS BIGINT)")
                 .alias("n_hosts"),
                 F.min("doc_id").alias("min_doc")))


# ----------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
# hashed unigram+bigram features, add-one-smoothed target/raw bucket
# multinomials, per-doc log importance weight, deterministic top-k
# selection. Target domain = the docs passing the exact-integer
# quality gates (the _DQB_BAD battery domain_quality_block pins), so
# the operator composes the engine's existing quality + n-gram
# machinery. Determinism follows the KN-LM conventions: integer
# counts, ONE shared QTRUNC'd term per bucket, DECIMAL(38,9) per-doc
# sums, (logw DESC, doc_id) total order via the two-pass rank.
# ----------------------------------------------------------------------


def _dsir_oracle() -> str:
    from xsarsea_spark.pipeline.dsir import (DSIR_B, DSIR_FRAC,
                                             dsir_term_sql)

    bad = _DQB_BAD.format(nt="len(string_split(text, ' '))")
    h40 = _H40_DUCK.format(x="__f")
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS l,
    ({bad}) = 0 AS is_target
  FROM documents WHERE text IS NOT NULL),
f AS (
  SELECT doc_id, is_target, {h40} % {DSIR_B} AS bucket FROM (
    SELECT doc_id, is_target, unnest(list_concat(l,
      CASE WHEN len(l) >= 2 THEN list_transform(range(1, len(l)),
        i -> l[i] || ' ' || l[i + 1]) ELSE [] END)) AS __f
    FROM d)),
cr AS (SELECT bucket, COUNT(*) AS cr FROM f GROUP BY 1),
ct AS (SELECT bucket, COUNT(*) AS ct FROM f WHERE is_target
       GROUP BY 1),
tots AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
    CAST(SUM(COALESCE(ct, 0)) AS BIGINT) AS nt
  FROM cr LEFT JOIN ct USING (bucket)),
terms AS (SELECT bucket,
    CAST({dsir_term_sql(DSIR_B)} AS DECIMAL(38,9)) AS __term
  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tots),
sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
    SUM(__term) AS logw_d
  FROM f JOIN terms USING (bucket) GROUP BY 1),
k AS (SELECT CAST(CEIL(COUNT(*) * {DSIR_FRAC}) AS BIGINT) AS __k
      FROM sc),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY logw_d DESC, doc_id)
      AS sel_rank FROM sc)
SELECT r.doc_id, r.n_feats, CAST(r.logw_d AS DOUBLE) AS logw,
  CAST(r.sel_rank AS BIGINT) AS sel_rank
FROM r, k WHERE r.sel_rank <= k.__k"""


@spec(
    "doc_dsir_select",
    _dsir_oracle(),
    description="DSIR data selection (Xie et al. 2023): hashed "
                "unigram+bigram bucket features, add-one-smoothed "
                "target vs raw multinomials (target = the exact-"
                "integer quality-gate pass set), per-doc log "
                "importance weight on the DECIMAL grid, "
                "deterministic top-25% selection via the distributed "
                "two-pass rank — no corpus-wide window, bucket table "
                "broadcast",
    tags=("pipeline", "curation", "sampling", "lm"),
)
def q_doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dsir import dsir_logweights, dsir_select

    docs = load(spark, sf_dir, "documents").filter("text IS NOT NULL")
    bad = _DQB_BAD.format(nt="size(split(text, ' '))")
    d = docs.selectExpr("doc_id", "text", "n_chars",
                        f"({bad}) = 0 AS is_target")
    sel = dsir_select(dsir_logweights(d))
    return sel.selectExpr("doc_id", "n_feats",
                          "CAST(logw AS DOUBLE) AS logw",
                          "CAST(sel_rank AS BIGINT) AS sel_rank")


# ----------------------------------------------------------------------
# UniMax per-language budget capping (Chung et al. 2023): one total
# token budget water-filled across languages — low-resource languages
# contribute everything, high-resource languages cap at the common
# water level v = max integer with sum_l min(avail_l, v) <= budget.
# The level comes from two L x L broadcast triangular joins (L =
# language count), the per-doc cut from ONE global running sum with
# broadcast per-language offsets — no per-language window anywhere.
# All-integer, so the replay is bit-exact.
# ----------------------------------------------------------------------

_UMX_BUDGET = 2000


def _unimax_oracle() -> str:
    scores_csv, case = _lang_pred_duck()
    b = _UMX_BUDGET
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
s AS (SELECT doc_id, {scores_csv}, len(l) AS ntok FROM t),
p AS (SELECT doc_id, {case} AS lang, CAST(ntok AS BIGINT) AS ntok,
        md5(CAST(doc_id AS VARCHAR)) AS pr FROM s),
lg AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS avail
       FROM p GROUP BY 1),
cand AS (SELECT a.lang, a.avail, COUNT(b.lang) AS rn,
    CAST(SUM(b.avail) AS BIGINT) AS cum
  FROM lg a LEFT JOIN lg b ON b.avail < a.avail
    OR (b.avail = a.avail AND b.lang <= a.lang) GROUP BY 1, 2),
lt AS (SELECT COUNT(*) AS L FROM lg),
cc AS (SELECT DISTINCT GREATEST({b} - (cum - avail), 0)
         // (L - rn + 1) AS c FROM cand, lt),
lv AS (SELECT CAST(MAX(c) AS BIGINT) AS v FROM (
    SELECT c, CAST(SUM(LEAST(b.avail, c)) AS BIGINT) AS fs
    FROM cc, lg b GROUP BY c) WHERE fs <= {b}),
cp AS (SELECT lang, CAST(LEAST(avail, v) AS BIGINT) AS lang_cap
       FROM lg, lv),
w AS (SELECT p.*, SUM(ntok) OVER (PARTITION BY lang
    ORDER BY pr, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM p),
k AS (SELECT w.*, cp.lang_cap,
    (cum <= cp.lang_cap OR cum = ntok) AS kept
  FROM w JOIN cp USING (lang))
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(ntok) AS BIGINT) AS tokens_total,
  MAX(lang_cap) AS lang_cap,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
    AS tokens_kept,
  md5(array_to_string(list(doc_id ORDER BY doc_id)
      FILTER (WHERE kept), ',')) AS kept_ids_digest
FROM k GROUP BY lang"""


@spec(
    "doc_unimax_cap",
    _unimax_oracle(),
    description="UniMax per-language token-budget capping (Chung et "
                "al. 2023): water-filled level over language-ID "
                "groups (two L x L broadcast triangular joins), "
                "hash-priority per-doc cut via one global running "
                "sum + broadcast language offsets — never a "
                "per-language window; kept-set membership pinned by "
                "a doc-id digest",
    tags=("pipeline", "curation", "sampling"),
)
def q_doc_unimax_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.sampling import unimax_language_cap
    from xsarsea_spark.pipeline.text import language_id

    docs = load(spark, sf_dir, "documents").filter("text IS NOT NULL")
    pd = language_id(docs).selectExpr(
        "doc_id", "pred_lang AS lang",
        "size(split(text, ' ')) AS n_tokens")
    d = unimax_language_cap(pd, budget=_UMX_BUDGET)
    return d.groupBy("lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("tokens_total"),
        F.expr("MAX(lang_cap)").alias("lang_cap"),
        F.expr("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_kept"),
        F.expr("CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END)"
               " AS BIGINT)").alias("tokens_kept"),
        F.expr("md5(array_join(transform(array_sort("
               "collect_list(CASE WHEN kept THEN doc_id END)),"
               " x -> CAST(x AS STRING)), ','))")
        .alias("kept_ids_digest"))


# ----------------------------------------------------------------------
# Cross-snapshot URL dedup — the CDX-style CommonCrawl shape for the
# URL layer: history is N separately-persisted crawl snapshots' URL
# key tables (canonical dup keys from the pipeline.urls chain); the
# new crawl probes their tagged union in ONE equality join, and every
# batch URL reports whether it is a recrawl, the EARLIEST snapshot
# that saw its canonical key, and how many historical copies exist.
# Same doc_id-range snapshot cuts as minhash_cross_snapshot; the
# oracle replays the chain + cuts from scratch.
# ----------------------------------------------------------------------


def _url_xsnap_oracle() -> str:
    from xsarsea_spark.pipeline.urls import url_cte_chain

    parts, prev = url_cte_chain(
        f"SELECT doc_id, {_URL_SYNTH} AS url FROM documents")
    parts += [
        f"per AS (SELECT doc_id, dup_key, domain FROM {prev})",
        f"cut AS (SELECT"
        f" CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS c,"
        f" CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[0]}) AS BIGINT)"
        f" AS c0,"
        f" CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[1]}) AS BIGINT)"
        f" AS c1 FROM documents)",
        "hist AS (SELECT p.dup_key,"
        " CAST(CASE WHEN p.doc_id < cut.c0 THEN 0"
        " WHEN p.doc_id < cut.c1 THEN 1 ELSE 2 END AS INT)"
        " AS snapshot, p.doc_id FROM per p, cut"
        " WHERE p.doc_id < cut.c)",
        "st AS (SELECT dup_key, snapshot, COUNT(*) AS cnt,"
        " MIN(doc_id) AS first_doc FROM hist GROUP BY 1, 2)",
        "batch AS (SELECT p.* FROM per p, cut"
        " WHERE p.doc_id >= cut.c)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT b.doc_id, b.domain,
  CAST(COALESCE(MIN(st.snapshot), -1) AS INT) AS first_seen,
  CAST(COALESCE(SUM(st.cnt), 0) AS BIGINT) AS n_hist_copies,
  CAST(COALESCE(MIN(st.first_doc), -1) AS BIGINT)
    AS earliest_hist_doc,
  COUNT(st.snapshot) > 0 AS is_recrawl
FROM batch b LEFT JOIN st ON st.dup_key = b.dup_key
GROUP BY b.doc_id, b.domain""")


@spec(
    "doc_url_cross_snapshot",
    _url_xsnap_oracle(),
    description="CDX-style cross-snapshot URL dedup: new crawl's "
                "canonical URL keys probe the tagged union of 3 "
                "prior snapshots' persisted key tables in one "
                "equality join; every batch URL reports recrawl "
                "status, earliest snapshot seen and historical copy "
                "count — the URL-layer CommonCrawl shape",
    tags=("pipeline", "dedup", "incremental"),
)
def q_doc_url_cross_snapshot(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.urls import url_norm_steps

    docs = load(spark, sf_dir, "documents")
    df = docs.selectExpr("doc_id", f"{_URL_SYNTH} AS url")
    for col, expr in url_norm_steps("spark"):
        df = df.withColumn(col, F.expr(expr))
    # the usual chain codegen barrier; hist and batch both slice it
    per = materialize(df.select("doc_id", "dup_key", "domain"))
    cuts = docs.agg(
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT)")
        .alias("c"),
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[0]})"
               f" AS BIGINT)").alias("c0"),
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_XSNAP_FRACS[1]})"
               f" AS BIGINT)").alias("c1"))
    d = per.crossJoin(F.broadcast(cuts))
    # each snapshot's key table is persisted ingest-time state in
    # production; the probe sees only their union
    hist = (d.filter("doc_id < c")
            .selectExpr("dup_key",
                        "CAST(CASE WHEN doc_id < c0 THEN 0"
                        " WHEN doc_id < c1 THEN 1 ELSE 2 END"
                        " AS INT) AS snapshot", "doc_id"))
    st = hist.groupBy("dup_key", "snapshot").agg(
        F.expr("COUNT(*)").alias("cnt"),
        F.expr("MIN(doc_id)").alias("first_doc"))
    batch = d.filter("doc_id >= c").select("doc_id", "dup_key",
                                           "domain")
    return (batch.join(st, on="dup_key", how="left")
            .groupBy("doc_id", "domain")
            .agg(F.expr("CAST(COALESCE(MIN(snapshot), -1) AS INT)")
                 .alias("first_seen"),
                 F.expr("CAST(COALESCE(SUM(cnt), 0) AS BIGINT)")
                 .alias("n_hist_copies"),
                 F.expr("CAST(COALESCE(MIN(first_doc), -1)"
                        " AS BIGINT)").alias("earliest_hist_doc"),
                 F.expr("COUNT(snapshot) > 0").alias("is_recrawl")))


# ----------------------------------------------------------------------
# Full Gopher repetition battery (Rae et al. 2021 Table A1) in
# CHARACTER fractions — the paper-faithful upgrade of the
# token-count gopher_quality gates: top n-gram char fraction for
# n=2..4 (occurrences x gram char length / chars) and duplicated
# n-gram char COVERAGE for n=5..10 (exact span union, so overlapping
# duplicated grams never double-count), plus the Table A1 pass flag.
# All counts/lengths are integers; each fraction is one IEEE
# division. The 9 per-n gram frames are projections of one token
# scan with n as a data column, so the dup family pays one hash agg
# + one join-back + one doc-bounded islands window.
# ----------------------------------------------------------------------


def _gopher_rep_oracle() -> str:
    from xsarsea_spark.pipeline.text import GOPHER_REP_THRESHOLDS

    h40 = _H40_DUCK.format(x="s.g")
    gt_parts, gd_parts = [], []
    for n in (2, 3, 4):
        gt_parts.append(
            f"SELECT doc_id, {n} AS n, s.g AS g FROM ("
            f"SELECT doc_id, unnest(list_transform("
            f"range(1, len(l) - {n} + 2),"
            f" i -> struct_pack(g := array_to_string("
            f"l[i:i+{n - 1}], ' ')))) AS s"
            f" FROM dd WHERE len(l) >= {n})")
    for n in range(5, 11):
        gd_parts.append(
            f"SELECT doc_id, {n} AS n, s.p AS p, {h40} AS h FROM ("
            f"SELECT doc_id, unnest(list_transform("
            f"range(1, len(l) - {n} + 2),"
            f" i -> struct_pack(p := i, g := array_to_string("
            f"l[i:i+{n - 1}], ' ')))) AS s"
            f" FROM dd WHERE len(l) >= {n})")
    tpv = ", ".join(
        f"MAX(CASE WHEN n = {n} AND rk = 1 THEN topchars END)"
        f" AS top{n}" for n in (2, 3, 4))
    dpv = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN covchars END) AS dup{n}"
        for n in range(5, 11))
    # outer COALESCE: an EMPTY doc (n_chars = 0) has no repeated
    # content — its fractions are 0 and it PASSES, rather than the
    # NULL verdict x/NULLIF(0,0) would propagate into a filter
    fracs, gates = [], []
    for n in (2, 3, 4):
        thr = GOPHER_REP_THRESHOLDS[("top", n)]
        e = (f"COALESCE(COALESCE(top{n}, 0)"
             f" / CAST(nullif(n_chars, 0) AS DOUBLE), 0e0)")
        fracs.append(f"{e} AS top{n}_char_frac")
        gates.append(f"{e} <= {thr}e0")
    for n in range(5, 11):
        thr = GOPHER_REP_THRESHOLDS[("dup", n)]
        e = (f"COALESCE(COALESCE(dup{n}, 0)"
             f" / CAST(nullif(n_chars, 0) AS DOUBLE), 0e0)")
        fracs.append(f"{e} AS dup{n}_char_frac")
        gates.append(f"{e} <= {thr}e0")
    return f"""
WITH dd AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(text) AS n_chars,
    len(string_split(text, ' ')) AS n_tokens
  FROM documents WHERE text IS NOT NULL),
gt AS ({" UNION ALL ".join(gt_parts)}),
tc AS (SELECT doc_id, n, g, COUNT(*) AS c FROM gt GROUP BY 1, 2, 3),
tt AS (SELECT doc_id, n, CAST(c * len(g) AS BIGINT) AS topchars,
    ROW_NUMBER() OVER (PARTITION BY doc_id, n
      ORDER BY c DESC, g ASC) AS rk FROM tc),
tpv AS (SELECT doc_id, {tpv} FROM tt GROUP BY 1),
gd AS ({" UNION ALL ".join(gd_parts)}),
dup AS (SELECT doc_id, n, h FROM gd GROUP BY 1, 2, 3
        HAVING COUNT(*) >= 2),
hits AS (SELECT gd.doc_id, gd.n, gd.p FROM gd
         JOIN dup USING (doc_id, n, h)),
mk AS (SELECT *, CASE WHEN lag(p) OVER w IS NULL
      OR p - lag(p) OVER w > n THEN 1 ELSE 0 END AS nw
    FROM hits WINDOW w AS (PARTITION BY doc_id, n ORDER BY p)),
gr AS (SELECT *, SUM(nw) OVER (PARTITION BY doc_id, n ORDER BY p
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM mk),
sp AS (SELECT doc_id, n, grp, MIN(p) AS a, MAX(p) + n - 1 AS b
       FROM gr GROUP BY 1, 2, 3),
tk AS (SELECT doc_id, s.i AS i, s.wl AS wl FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
      i -> struct_pack(i := i, wl := len(l[i])))) AS s FROM dd)),
cv AS (SELECT sp.doc_id, sp.n, sp.a, sp.b,
    CAST(SUM(tk.wl) + sp.b - sp.a AS BIGINT) AS spanchars
  FROM sp JOIN tk ON tk.doc_id = sp.doc_id
    AND tk.i >= sp.a AND tk.i <= sp.b
  GROUP BY 1, 2, 3, 4),
cvn AS (SELECT doc_id, n, CAST(SUM(spanchars) AS BIGINT)
    AS covchars FROM cv GROUP BY 1, 2),
dpv AS (SELECT doc_id, {dpv} FROM cvn GROUP BY 1)
SELECT dd.doc_id, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  {", ".join(fracs)},
  ({" AND ".join(gates)}) AS repetition_pass
FROM dd LEFT JOIN tpv USING (doc_id) LEFT JOIN dpv USING (doc_id)"""


@spec(
    "doc_gopher_repetition",
    _gopher_rep_oracle(),
    description="Full Gopher repetition battery (Rae et al. 2021 "
                "Table A1), character fractions: top n-gram char "
                "fraction (n=2..4, count x gram length) and "
                "duplicated n-gram char coverage (n=5..10, exact "
                "span union), with the Table A1 pass flag — one "
                "token scan feeds all 9 gram frames with n as a "
                "data column",
    tags=("pipeline", "quality", "text"),
)
def q_doc_gopher_repetition(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import repetition_signals

    out = repetition_signals(load(spark, sf_dir, "documents"))
    casts = ["doc_id", "CAST(n_chars AS BIGINT) AS n_chars",
             "CAST(n_tokens AS BIGINT) AS n_tokens"]
    casts += [f"top{n}_char_frac" for n in (2, 3, 4)]
    casts += [f"dup{n}_char_frac" for n in range(5, 11)]
    casts += ["repetition_pass"]
    return out.selectExpr(*casts)


# ----------------------------------------------------------------------
# Temperature-based language sampling (the mT5 / XLM-R standard that
# UniMax was proposed against): per-language budget share
# proportional to tokens^(1/T), apportioned onto the integer token
# budget by the largest-remainder (Hamilton) method — floor every
# quota, then hand the leftover tokens to the largest remainders
# (ties to lang ASC). pow() is the one libm call; it goes through
# the QTRUNC barrier and everything after is exact integers and
# single IEEE divisions, so the apportionment is engine-identical.
# Per-doc cut reuses the UniMax machinery (hash-priority cumsum via
# one global running sum + broadcast language offsets).
# ----------------------------------------------------------------------

_TMP_BUDGET, _TMP_T = 2000, 3


def _temperature_oracle() -> str:
    scores, case = _lang_pred_duck()
    b, t = _TMP_BUDGET, _TMP_T
    w = QTRUNC(f"pow(CAST(avail AS DOUBLE), 1e0/{t}e0)", 9)
    return f"""
WITH tt AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
s AS (SELECT doc_id, {scores}, len(l) AS ntok FROM tt),
p AS (SELECT doc_id, {case} AS lang, CAST(ntok AS BIGINT) AS ntok,
        md5(CAST(doc_id AS VARCHAR)) AS pr FROM s),
lg AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS avail
       FROM p GROUP BY 1),
wt AS (SELECT lang, avail, CAST({w} AS DECIMAL(38,9)) AS w FROM lg),
tot AS (SELECT SUM(w) AS sw FROM wt),
q AS (SELECT lang, avail, w,
    CAST({b} * w AS DOUBLE) / CAST(sw AS DOUBLE) AS quota
  FROM wt, tot),
fl AS (SELECT *, CAST(FLOOR(quota) AS BIGINT) AS base,
    quota - FLOOR(quota) AS rem FROM q),
lo AS (SELECT CAST({b} - SUM(base) AS BIGINT) AS leftover FROM fl),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
       AS rr FROM fl),
cp AS (SELECT lang, avail, quota,
    CAST(base + CASE WHEN rr <= lo.leftover THEN 1 ELSE 0 END
      AS BIGINT) AS lang_budget
  FROM rk, lo),
wn AS (SELECT p.*, SUM(ntok) OVER (PARTITION BY lang
    ORDER BY pr, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM p),
k AS (SELECT wn.*, cp.lang_budget, cp.quota,
    (cum <= cp.lang_budget OR cum = ntok) AS kept
  FROM wn JOIN cp USING (lang))
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(ntok) AS BIGINT) AS tokens_total,
  MAX(lang_budget) AS lang_budget,
  MAX(quota) AS quota,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
    AS tokens_kept,
  md5(array_to_string(list(doc_id ORDER BY doc_id)
      FILTER (WHERE kept), ',')) AS kept_ids_digest
FROM k GROUP BY lang"""


@spec(
    "doc_lang_temperature_mix",
    _temperature_oracle(),
    description="Temperature-based language sampling (mT5/XLM-R, "
                "T=3): per-language budget proportional to "
                "tokens^(1/T), apportioned exactly onto the integer "
                "token budget by the largest-remainder method "
                "(QTRUNC'd pow, DECIMAL weight sums, single IEEE "
                "divisions); per-doc cut via one global running sum "
                "+ broadcast language offsets — never a per-language "
                "window",
    tags=("pipeline", "curation", "sampling"),
)
def q_doc_lang_temperature_mix(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank
    from xsarsea_spark.pipeline.text import language_id

    b, t = _TMP_BUDGET, _TMP_T
    docs = load(spark, sf_dir, "documents").filter("text IS NOT NULL")
    # lazily checkpointed: the narrow per-doc frame feeds the
    # language-totals aggregation AND the global running sum, and the
    # language-ID score battery above it is expensive — without the
    # barrier it executes once per consumer
    pd = materialize(
        language_id(docs).selectExpr(
            "doc_id", "pred_lang AS __lang",
            "CAST(size(split(text, ' ')) AS BIGINT) AS __ntok",
            "md5(CAST(doc_id AS STRING)) AS __pr"),
        eager=False)
    langs = pd.groupBy("__lang").agg(
        F.expr("CAST(SUM(__ntok) AS BIGINT)").alias("__avail"))
    w = QTRUNC(f"pow(CAST(__avail AS DOUBLE), 1e0/{t}e0)", 9)
    wt = langs.selectExpr("__lang", "__avail",
                          f"CAST({w} AS DECIMAL(38,9)) AS __w")
    tot = wt.agg(F.expr("SUM(__w)").alias("__sw"))
    q = (wt.crossJoin(F.broadcast(tot))
         .selectExpr("__lang", "__avail",
                     f"CAST({b} * __w AS DOUBLE)"
                     f" / CAST(__sw AS DOUBLE) AS __quota"))
    fl = q.selectExpr(
        "__lang", "__avail", "__quota",
        "CAST(FLOOR(__quota) AS BIGINT) AS __base",
        "__quota - FLOOR(__quota) AS __rem")
    lo = fl.agg(F.expr(f"CAST({b} - SUM(__base) AS BIGINT)")
                .alias("__leftover"))
    # L-row frame: the remainder rank rides the same LxL triangular
    # broadcast join the UniMax level uses — no window
    fb = fl.selectExpr("__lang AS __lb", "__rem AS __rb")
    rk = (fl.join(F.broadcast(fb),
                  F.expr("__rb > __rem OR (__rb = __rem"
                         " AND __lb <= __lang)"), "left")
          .groupBy("__lang", "__avail", "__quota", "__base")
          .agg(F.expr("COUNT(__lb)").alias("__rr")))
    cp = (rk.crossJoin(F.broadcast(lo))
          .selectExpr("__lang", "__avail", "__quota",
                      "CAST(__base + CASE WHEN __rr <= __leftover"
                      " THEN 1 ELSE 0 END AS BIGINT)"
                      " AS lang_budget"))
    ranked = global_rank(
        pd,
        [F.col("__lang").asc(), F.col("__pr").asc(),
         F.col("doc_id").asc()],
        rank_col="__gr", running_sums={"__gcum": "__ntok"})
    offs = ranked.groupBy("__lang").agg(
        F.expr("CAST(MIN(__gcum - __ntok) AS BIGINT)").alias("__off"))
    d = (ranked
         .join(F.broadcast(offs), on="__lang")
         .join(F.broadcast(cp), on="__lang")
         .selectExpr("doc_id", "__lang AS lang", "__ntok",
                     "__quota AS quota", "lang_budget",
                     "__gcum - __off <= lang_budget"
                     " OR __gcum - __off = __ntok AS kept"))
    return d.groupBy("lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(__ntok) AS BIGINT)").alias("tokens_total"),
        F.expr("MAX(lang_budget)").alias("lang_budget"),
        F.expr("MAX(quota)").alias("quota"),
        F.expr("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_kept"),
        F.expr("CAST(SUM(CASE WHEN kept THEN __ntok ELSE 0 END)"
               " AS BIGINT)").alias("tokens_kept"),
        F.expr("md5(array_join(transform(array_sort("
               "collect_list(CASE WHEN kept THEN doc_id END)),"
               " x -> CAST(x AS STRING)), ','))")
        .alias("kept_ids_digest"))


# ----------------------------------------------------------------------
# STREAMING DSIR ingest — the production order of data selection:
# the sampler (per-bucket log-ratio terms + acceptance threshold) is
# FITTED OFFLINE on a historical slice and persisted; every incoming
# micro-batch is scored against the persisted artifact and only docs
# at or above the threshold are admitted, deduped exactly-once
# through the same bloom/anti-join core as the other ingests. The
# threshold is the rank-ceil(frac*n) weight of the history's own
# scores (>= semantics: ties at the threshold all admit — the
# natural streaming relaxation of exact top-k). Oracle is the
# one-shot batch replay: fit on history, score all, filter, dedup,
# roll up per source.
# ----------------------------------------------------------------------


def _stream_dsir_oracle() -> str:
    from xsarsea_spark.pipeline.dsir import (DSIR_B, DSIR_FRAC,
                                             dsir_term_sql)

    bad = _DQB_BAD.format(nt="len(string_split(text, ' '))")
    h40 = _H40_DUCK.format(x="__f")
    feats = ("unnest(list_concat(l, CASE WHEN len(l) >= 2 THEN"
             " list_transform(range(1, len(l)),"
             " i -> l[i] || ' ' || l[i + 1]) ELSE [] END)) AS __f")
    return f"""
WITH d AS (
  SELECT doc_id, COALESCE(source, '') AS source,
    COALESCE(n_chars, 0) AS n_chars, text,
    string_split(text, ' ') AS l, ({bad}) = 0 AS is_target
  FROM documents WHERE text IS NOT NULL),
cut AS (SELECT CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS c
        FROM documents),
hist AS (SELECT d.* FROM d, cut WHERE d.doc_id < cut.c),
hf AS (SELECT doc_id, is_target, {h40} % {DSIR_B} AS bucket FROM (
    SELECT doc_id, is_target, {feats} FROM hist)),
cr AS (SELECT bucket, COUNT(*) AS cr FROM hf GROUP BY 1),
ct AS (SELECT bucket, COUNT(*) AS ct FROM hf WHERE is_target
       GROUP BY 1),
tots AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
    CAST(SUM(COALESCE(ct, 0)) AS BIGINT) AS nt
  FROM cr LEFT JOIN ct USING (bucket)),
terms AS (SELECT bucket,
    CAST({dsir_term_sql(DSIR_B)} AS DECIMAL(38,9)) AS t
  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tots),
af AS (SELECT doc_id, {h40} % {DSIR_B} AS bucket FROM (
    SELECT doc_id, {feats} FROM d)),
sc AS (SELECT doc_id, SUM(t) AS logw
       FROM af JOIN terms USING (bucket) GROUP BY 1),
hsc AS (SELECT sc.doc_id, sc.logw FROM sc
        JOIN hist ON hist.doc_id = sc.doc_id),
k AS (SELECT CAST(CEIL(COUNT(*) * {DSIR_FRAC}) AS BIGINT) AS k
      FROM hsc),
thr AS (SELECT logw AS t FROM (
    SELECT logw, ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id)
      AS rn FROM hsc), k WHERE rn = k.k),
kept AS (SELECT d.doc_id, d.source, d.n_chars, sc.logw,
    md5(d.text) AS digest
  FROM d JOIN sc ON sc.doc_id = d.doc_id, thr
  WHERE sc.logw >= thr.t),
uniq AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
    (PARTITION BY digest ORDER BY doc_id) AS rn FROM kept)
  WHERE rn = 1)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  CAST(SUM(logw) AS DOUBLE) AS sum_logw
FROM uniq GROUP BY source"""


@spec(
    "stream_dsir_ingest",
    _stream_dsir_oracle(),
    description="Structured-Streaming DSIR ingest: sampler fitted "
                "offline on the historical slice (persisted bucket "
                "terms + rank-k acceptance threshold), every "
                "micro-batch scored against the artifact and "
                "thresholded before the exactly-once bloom/anti-join "
                "dedup core; double availableNow run over one "
                "checkpoint, final table value-equal to the one-shot "
                "batch replay",
    tags=("pipeline", "streaming", "sampling", "sink"),
)
def q_stream_dsir_ingest(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.pipeline.dsir import (dsir_features,
                                             dsir_fit_terms,
                                             dsir_score,
                                             dsir_threshold)

    base = scratch_path(spark, "stream_dsir", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    terms_path = os.path.join(base, "terms.parquet")
    thr_path = os.path.join(base, "thr.parquet")

    docs_b = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bad = _DQB_BAD.format(nt="size(split(text, ' '))")
    cuts = docs_b.agg(
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT)")
        .alias("c"))
    hist = (docs_b.crossJoin(F.broadcast(cuts))
            .filter("doc_id < c AND text IS NOT NULL")
            .selectExpr("doc_id", "text", "n_chars",
                        f"({bad}) = 0 AS is_target"))
    # offline fit: persist the sampler artifact (terms + threshold);
    # repartition(1), never coalesce(1) (the sidecar-write landmine)
    #
    # The history features are COLLAPSED to (doc, is_target, bucket)
    # occurrence counts BEFORE the barrier (round 15, guide §2.3):
    # the raw exploded stream is token-cardinality, the collapsed
    # frame is bounded by docs x distinct buckets (<= 256/doc), so
    # the checkpoint stores a fraction of the bytes; both consumers
    # (per-bucket fit totals, per-doc history scores) are exact
    # integer/decimal rollups of the counts.
    feats_h = materialize(
        dsir_features(hist)
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("__c")))
    dsir_fit_terms(feats_h, count_col="__c").repartition(1) \
        .write.mode("overwrite").parquet(terms_path)
    terms = spark.read.parquet(terms_path)
    # score the history from the ALREADY-materialized feature frame
    # (dsir_score would re-explode the history corpus a second time).
    # SUM(__term * __c) == SUM over occurrences of __term, exactly:
    # DECIMAL(20,9) x DECIMAL(10,0) -> DECIMAL(31,9) stays inside
    # 38 digits, so Spark never rescales (no precision-loss rounding)
    hsc = (feats_h.join(F.broadcast(terms), on="bucket")
           .groupBy("doc_id")
           .agg(F.expr(
               "CAST(SUM(CAST(__term AS DECIMAL(20,9))"
               " * CAST(__c AS DECIMAL(10,0))) AS DECIMAL(38,9))")
               .alias("logw")))
    dsir_threshold(hsc).repartition(1) \
        .write.mode("overwrite").parquet(thr_path)

    schema = docs_b.schema

    def dsir_prep(df: DataFrame) -> DataFrame:
        t = spark.read.parquet(terms_path)
        thr = spark.read.parquet(thr_path)
        x = df.filter("text IS NOT NULL")
        scored = dsir_score(x, t)
        # admit FIRST, hash after (round 15): the threshold filter
        # rides the score frame (no text), so md5 runs only on the
        # admitted fraction; the doc side is projected to the four
        # carried columns before the join (guide §2.3 — drop unused
        # payload columns ahead of the exchange)
        adm = (scored.crossJoin(F.broadcast(thr))
               # NULL __thr = empty-history sampler: admit all
               # (dsir_threshold's 1-row contract, never 0-row)
               .filter("__thr IS NULL OR logw >= __thr")
               .select("doc_id", "logw"))
        slim = x.selectExpr("doc_id",
                            "coalesce(source, '') AS source",
                            "coalesce(n_chars, 0L) AS n_chars",
                            "text")
        return (slim.join(adm, on="doc_id")
                .selectExpr("doc_id", "source", "n_chars", "logw",
                            "md5(text) AS digest"))

    back = _ingest_docs_stream(spark, sf_dir, schema, base,
                               prep=dsir_prep)
    return back.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sum_chars"),
        F.expr("CAST(SUM(logw) AS DOUBLE)").alias("sum_logw"))


# ----------------------------------------------------------------------
# Streaming UniMax budget enforcement at ingest — doc_unimax_cap's
# water-filled per-language caps fitted OFFLINE on the historical
# slice (an L-row persisted artifact), then every micro-batch
# language-IDs its docs, ranks them in hash-priority order and
# admits until the language's REMAINING budget (cumulative consumed-
# token counters, versioned by batch id and rebuilt from the version
# strictly below, so a retried batch never double-counts) before the
# exactly-once bloom/anti-join dedup core. Double availableNow run over one checkpoint; oracle is
# the one-shot replay (fit caps on history, enforce over the full
# stream at consumed = 0 — value-equal because availableNow over the
# single source file is one batch; multi-batch runs enforce the same
# caps batch-sequentially, the natural streaming relaxation).
# ----------------------------------------------------------------------


def _stream_unimax_oracle() -> str:
    scores_csv, case = _lang_pred_duck()
    b = _UMX_BUDGET
    return f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
s AS (SELECT doc_id, text, {scores_csv}, len(l) AS ntok FROM t),
p AS (SELECT doc_id, text, {case} AS lang,
        CAST(ntok AS BIGINT) AS ntok,
        md5(CAST(doc_id AS VARCHAR)) AS pr FROM s),
cut AS (SELECT CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS c
        FROM documents),
hist AS (SELECT p.* FROM p, cut WHERE p.doc_id < cut.c),
lg AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS avail
       FROM hist GROUP BY 1),
cand AS (SELECT a.lang, a.avail, COUNT(b.lang) AS rn,
    CAST(SUM(b.avail) AS BIGINT) AS cum
  FROM lg a LEFT JOIN lg b ON b.avail < a.avail
    OR (b.avail = a.avail AND b.lang <= a.lang) GROUP BY 1, 2),
lt AS (SELECT COUNT(*) AS L FROM lg),
cc AS (SELECT DISTINCT GREATEST({b} - (cum - avail), 0)
         // (L - rn + 1) AS c FROM cand, lt),
lv AS (SELECT CAST(MAX(c) AS BIGINT) AS v FROM (
    SELECT c, CAST(SUM(LEAST(b.avail, c)) AS BIGINT) AS fs
    FROM cc, lg b GROUP BY c) WHERE fs <= {b}),
cp AS (SELECT lang, CAST(LEAST(avail, v) AS BIGINT) AS lang_cap
       FROM lg, lv),
w AS (SELECT p.*, SUM(ntok) OVER (PARTITION BY lang
    ORDER BY pr, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM p),
k AS (SELECT w.*, CAST(COALESCE(cp.lang_cap, 0) AS BIGINT)
        AS lang_cap,
    (cum <= COALESCE(cp.lang_cap, 0) OR cum = ntok) AS kept
  FROM w LEFT JOIN cp USING (lang)),
kept AS (SELECT doc_id, lang, ntok, lang_cap, md5(text) AS digest
         FROM k WHERE kept),
uniq AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
    (PARTITION BY digest ORDER BY doc_id) AS rn FROM kept)
  WHERE rn = 1)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  CAST(SUM(ntok) AS BIGINT) AS tokens_kept,
  MAX(lang_cap) AS lang_cap,
  md5(array_to_string(list(doc_id ORDER BY doc_id), ','))
    AS kept_ids_digest
FROM uniq GROUP BY lang"""


@spec(
    "stream_unimax_ingest",
    _stream_unimax_oracle(),
    description="Structured-Streaming UniMax ingest: water-filled "
                "per-language caps fitted offline on the history "
                "slice (L-row artifact), each micro-batch language-"
                "IDed, hash-priority ranked and admitted against "
                "the remaining budget (versioned cumulative consumed "
                "counters, retry-idempotent) before the exactly-once "
                "bloom/anti-join dedup core; double availableNow "
                "run, final table value-equal to the one-shot replay",
    tags=("pipeline", "streaming", "sampling", "sink"),
)
def q_stream_unimax_ingest(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.engine import materialize
    from xsarsea_spark.pipeline.ingest import ingest_curated_batch
    from xsarsea_spark.pipeline.sampling import (unimax_enforce,
                                                 unimax_language_cap)
    from xsarsea_spark.pipeline.text import language_id

    base = scratch_path(spark, "stream_unimax", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    caps_path = os.path.join(base, "caps.parquet")
    counters_dir = os.path.join(base, "consumed")
    table_dir = os.path.join(base, "table")
    bloom_path = os.path.join(base, "bloom.parquet")
    marker_path = os.path.join(base, "bloom_sync.txt")
    ckpt_dir = os.path.join(base, "ckpt")

    docs_b = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cuts = docs_b.agg(
        F.expr(f"CAST(CEIL(MAX(doc_id) * {_INC_FRAC}) AS BIGINT)")
        .alias("c"))
    hist = (docs_b.crossJoin(F.broadcast(cuts))
            .filter("doc_id < c AND text IS NOT NULL"))
    hist_pd = language_id(hist).selectExpr(
        "doc_id", "pred_lang AS lang",
        "size(split(text, ' ')) AS n_tokens")
    # offline fit: the water level needs only the L-row language
    # frame, so the cap artifact is the per-doc decision frame
    # rolled up; repartition(1), never coalesce(1)
    unimax_language_cap(hist_pd, budget=_UMX_BUDGET) \
        .groupBy("lang") \
        .agg(F.expr("CAST(MAX(lang_cap) AS BIGINT)")
             .alias("lang_cap")) \
        .repartition(1).write.mode("overwrite").parquet(caps_path)

    schema = docs_b.schema

    def ingest(df: DataFrame, batch_id: int) -> None:
        caps = spark.read.parquet(caps_path)
        # v{N} holds the tokens consumed by batches 0..N: a replayed
        # batch rebuilds it from the version strictly below, so it
        # never double-counts
        prev = version_below(spark, counters_dir, batch_id)
        before = dict(load_kv_json(spark, prev)) if prev else None
        x = df.filter("text IS NOT NULL")
        pdd = language_id(x).selectExpr(
            "doc_id", "text", "pred_lang AS lang",
            "size(split(text, ' ')) AS n_tokens")
        # admit first, re-attach text after (round 15, guide §2.3):
        # the kept filter rides the narrow enforcement frame, so the
        # text join and the md5 run only on the admitted fraction
        # (filter commutes with the inner doc_id join — kept is
        # decided entirely on the enforce side)
        enforced = materialize(
            unimax_enforce(
                pdd.drop("text"), caps,
                consumed=None if before is None else
                spark.createDataFrame(sorted(before.items()),
                                      "lang string, used bigint"))
            .filter("kept")
            .join(pdd.select("doc_id", "text"), on="doc_id")
            .selectExpr("doc_id", "lang", "n_tokens", "lang_cap",
                        "md5(text) AS digest"))
        ingest_curated_batch(
            spark, df, table_dir, bloom_path, marker_path,
            min_chars=0, zcols=["n_tokens", "doc_id"],
            zbits=_CUR_BITS, m_bits=_ING_BLOOM_BITS,
            k=_ING_BLOOM_K, prep=lambda _raw: enforced)
        tot = dict(before or {})
        for r in enforced.groupBy("lang").agg(
                F.expr("CAST(SUM(n_tokens) AS BIGINT)")
                .alias("used")).collect():
            tot[r["lang"]] = tot.get(r["lang"], 0) + int(r["used"])
        save_kv_json(spark, sorted(tot.items()),
                     os.path.join(counters_dir, f"v{batch_id}"))

    src = _file_stream(spark, sf_dir, "documents", schema)
    run_available_now(src, ingest, ckpt_dir)
    run_available_now(src, ingest, ckpt_dir)   # zero new files: no-op

    back = spark.read.parquet(table_dir)
    return back.groupBy("lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("tokens_kept"),
        F.expr("CAST(MAX(lang_cap) AS BIGINT)").alias("lang_cap"),
        F.expr("md5(array_join(transform(array_sort("
               "collect_list(doc_id)), x -> CAST(x AS STRING)),"
               " ','))").alias("kept_ids_digest"))


# ----------------------------------------------------------------------
# Benchmark DECONTAMINATION with span removal — the step after the
# contamination REPORT: every corpus n-gram colliding with the
# benchmark shingle set marks its token span, overlapping spans
# union (gap <= n merges, the Lee et al. surgical variant of GPT-3's
# window removal), and the cleaned document is reconstructed
# relationally (uncovered tokens re-joined in order). Output: per
# CONTAMINATED doc, span/token/char removal stats + the cleaned
# text's digest — membership and bytes both pinned. Same benchmark
# convention as benchmark_contamination (doc_id % 97), same n.
# ----------------------------------------------------------------------


def _decontam_oracle() -> str:
    n = _CONTAM_N
    # DuckDB lists are 1-based and range() is 0-based here, so the
    # k-th gram token is l[i + k + 1] (l[i + 0] would be the NULL
    # zero index and silently drop every doc's first gram)
    g = " || ' ' || ".join(f"l[i + {k + 1}]" for k in range(n))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
    len(text) AS n_chars FROM documents WHERE text IS NOT NULL),
bench AS (SELECT DISTINCT
    unnest(list_transform(range(len(l) - {n - 1}), i -> {g}))
    AS g FROM t WHERE doc_id % 97 = 0),
corp AS (SELECT doc_id, l, n_chars FROM t WHERE doc_id % 97 <> 0),
grams AS (SELECT doc_id, s.p AS p, s.g AS g FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, len(l) - {n} + 2),
      i -> struct_pack(p := i, g := array_to_string(
        l[i:i+{n - 1}], ' ')))) AS s FROM corp)),
hits AS (SELECT g.doc_id, g.p FROM grams g
         JOIN bench b ON b.g = g.g),
mk AS (SELECT *, CASE WHEN lag(p) OVER w IS NULL
      OR p - lag(p) OVER w > {n} THEN 1 ELSE 0 END AS nw
    FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
gr AS (SELECT *, SUM(nw) OVER (PARTITION BY doc_id ORDER BY p
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM mk),
sp AS (SELECT doc_id, grp, MIN(p) AS a, MAX(p) + {n} - 1 AS b
       FROM gr GROUP BY 1, 2),
tk AS (SELECT doc_id, s.i AS i, s.w AS w FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
      i -> struct_pack(i := i, w := l[i]))) AS s FROM corp)),
cov AS (SELECT tk.doc_id, tk.i, tk.w,
    MAX(CASE WHEN tk.i >= sp.a AND tk.i <= sp.b THEN 1 ELSE 0 END)
      AS c
  FROM tk JOIN sp ON sp.doc_id = tk.doc_id GROUP BY 1, 2, 3),
cl AS (SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tokens_before,
    CAST(SUM(1 - c) AS BIGINT) AS n_tokens_after,
    COALESCE(array_to_string(list(w ORDER BY i)
      FILTER (WHERE c = 0), ' '), '') AS cleaned
  FROM cov GROUP BY 1),
ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
       FROM sp GROUP BY 1)
SELECT cl.doc_id, ns.n_spans, cl.n_tokens_before, cl.n_tokens_after,
  CAST(c.n_chars - len(cl.cleaned) AS BIGINT) AS chars_removed,
  md5(cl.cleaned) AS cleaned_digest
FROM cl JOIN ns USING (doc_id)
JOIN corp c ON c.doc_id = cl.doc_id"""


@spec(
    "doc_decontaminate",
    _decontam_oracle(),
    description="Benchmark decontamination with span REMOVAL: corpus "
                "n-grams colliding with the benchmark shingle set "
                "mark token spans, overlapping spans union, and the "
                "cleaned document is rebuilt relationally — per "
                "contaminated doc the span/token/char removal stats "
                "and the cleaned text's md5; islands window is "
                "doc-bounded, the benchmark set joins by gram "
                "equality",
    tags=("pipeline", "dedup", "text"),
)
def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = _CONTAM_N
    docs = (load(spark, sf_dir, "documents")
            .filter("text IS NOT NULL")
            .selectExpr("doc_id", "split(text, ' ') AS __l",
                        "length(text) AS n_chars"))
    gexpr = (f"transform(sequence(1, size(__l) - {n - 1}),"
             f" i -> array_join(slice(__l, i, {n}), ' '))")
    # size guard: sequence(1, size-2) COUNTS DOWN for sub-n docs and
    # slice() then hits index 0 (the dedup.shingle hazard class); the
    # oracle's end-exclusive range() yields no grams for the same
    # docs, so the guard is also what keeps the engines agreeing
    bench = (docs.filter("doc_id % 97 = 0")
             .filter(F.expr(f"size(__l) >= {n}"))
             .selectExpr(f"explode({gexpr}) AS __g").distinct())
    corp = docs.filter("doc_id % 97 <> 0")
    grams = (corp.filter(F.expr(f"size(__l) >= {n}"))
             .select("doc_id",
                     F.posexplode(F.expr(gexpr)).alias("__p", "__g")))
    hits = grams.join(bench, on="__g").select("doc_id", "__p")
    w = Window.partitionBy("doc_id").orderBy("__p")
    marked = hits.withColumn(
        "__new",
        F.when(F.lag("__p").over(w).isNull()
               | (F.col("__p") - F.lag("__p").over(w) > n),
               F.lit(1)).otherwise(F.lit(0)))
    # lazily checkpointed: the merged spans are hit-bounded (tiny),
    # but their lineage is the gram explode + benchmark join — they
    # feed BOTH the coverage join and the span-count rollup, so an
    # unmaterialized frame runs that chain twice (12 source scans in
    # the executed plan)
    spans = materialize(
        marked.withColumn(
            "__grp", F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "__grp")
        .agg(F.min("__p").alias("__a"),
             (F.max("__p") + F.lit(n - 1)).alias("__b"))
        .drop("__grp"),
        eager=False)
    tk = corp.select(
        "doc_id", F.posexplode("__l").alias("__i", "__w"))
    cov = (tk.join(spans, on="doc_id")
           .groupBy("doc_id", "__i", "__w")
           .agg(F.expr("MAX(CASE WHEN __i >= __a AND __i <= __b"
                       " THEN 1 ELSE 0 END)").alias("__c")))
    cl = cov.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_tokens_before"),
        F.expr("CAST(SUM(1 - __c) AS BIGINT)").alias("n_tokens_after"),
        F.expr("array_join(transform(array_sort(collect_list("
               "CASE WHEN __c = 0 THEN named_struct('i', __i,"
               " 'w', __w) END)), x -> x.w), ' ')").alias("__cleaned"))
    ns = spans.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_spans"))
    return (cl.join(ns, on="doc_id")
            .join(corp.select("doc_id", "n_chars"), on="doc_id")
            .selectExpr("doc_id", "n_spans", "n_tokens_before",
                        "n_tokens_after",
                        "CAST(n_chars - length(__cleaned) AS BIGINT)"
                        " AS chars_removed",
                        "md5(__cleaned) AS cleaned_digest"))


# ----------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM on a HELD-OUT split — the
# smoother KenLM actually uses (modified KN; single-discount
# interpolated form here), with proper train/test separation: counts
# come from the even-doc_id half, scoring covers the odd half, so
# the score is an honest generalization signal rather than training
# recall (the add-one doc_bigram_lm scores in-sample by design).
# Unseen histories back off to the continuation distribution; the
# continuation distribution itself is add-one floored so OOV words
# keep ln() finite.
#
# Determinism: every count is integer; the per-bigram term is ONE
# shared expression string evaluated by both engines (identical
# IEEE op order), passed through the QTRUNC barrier after ln, and
# summed on the DECIMAL grid.
# ----------------------------------------------------------------------

_KN_D = "0.75e0"      # absolute discount


def _kn_term() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    pcont = ("(CAST(COALESCE(nc2, 0) + 1 AS DOUBLE)"
             " / CAST(nctot + vtrain AS DOUBLE))")
    full = (f"ln(greatest(CAST(COALESCE(c12, 0) AS DOUBLE)"
            f" - {_KN_D}, 0e0) / CAST(c1 AS DOUBLE)"
            f" + ({_KN_D} * CAST(n1w1 AS DOUBLE)"
            f" / CAST(c1 AS DOUBLE)) * {pcont})")
    cont_only = f"ln({pcont})"
    return QTRUNC(f"CASE WHEN c1 IS NULL THEN {cont_only}"
                  f" ELSE {full} END", 9)


_KN_ORACLE = f"""
WITH tr AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 2),
ho AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE doc_id % 2 = 1 AND len(string_split(text, ' ')) >= 2),
tbg AS (
  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
  FROM tr),
hbg AS (
  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
  FROM ho),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tbg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1,
         COUNT(DISTINCT w2) AS n1w1 FROM tbg GROUP BY 1),
nc2 AS (SELECT w2, COUNT(DISTINCT w1) AS nc2 FROM tbg GROUP BY 1),
tots AS (
  SELECT (SELECT COUNT(*) FROM c12) AS nctot,
    (SELECT COUNT(DISTINCT x) FROM
      (SELECT unnest(l) AS x FROM tr)) AS vtrain),
scored AS (
  SELECT h.doc_id, {{term}} AS term
  FROM hbg h
  LEFT JOIN c12 ON c12.w1 = h.w1 AND c12.w2 = h.w2
  LEFT JOIN c1 ON c1.w1 = h.w1
  LEFT JOIN nc2 ON nc2.w2 = h.w2
  CROSS JOIN tots)
SELECT doc_id, COUNT(*) AS n_bigrams,
  CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS ll,
  CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS avg_ll
FROM scored GROUP BY doc_id
"""


@spec(
    "doc_kn_heldout_lm",
    _KN_ORACLE.format(term=_kn_term()),
    description="Interpolated Kneser-Ney bigram LM (KenLM's smoother "
                "class, D=0.75) trained on the even-doc half and "
                "scored on the held-out odd half — honest "
                "generalization signal with continuation backoff for "
                "unseen histories and an add-one continuation floor "
                "for OOV words; one shared term expression, QTRUNC'd "
                "ln, DECIMAL sums",
    tags=("pipeline", "text", "lm"),
)
def q_kn_heldout_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import bigrams

    docs = load(spark, sf_dir, "documents")
    train = docs.filter("doc_id % 2 = 0")
    held = docs.filter("doc_id % 2 = 1")
    tbg = bigrams(train)
    hbg = bigrams(held)
    # ONE corpus-scale aggregation of the training stream: every
    # other count table is derivable from c12 at vocabulary scale
    # (c12 has one row per distinct (w1, w2)): c1 = SUM(c12) per w1,
    # n1w1/nc2 = key counts, nctot = the row count, and vtrain =
    # distinct(w1) ∪ distinct(w2) (every token of a >= 2-token doc
    # appears as a w1 or a w2). Replaces four corpus explodes with
    # one; the lazy checkpoint shares the single execution across
    # all five consumers inside the main action.
    c12 = materialize(
        tbg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")),
        eager=False)
    c1 = c12.groupBy("w1").agg(
        F.expr("SUM(c12)").alias("c1"),
        F.count(F.lit(1)).alias("n1w1"))
    nc2 = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("nc2"))
    nctot = c12.groupBy().agg(F.count(F.lit(1)).alias("nctot"))
    vtrain = (c12.selectExpr("w1 AS x")
              .unionAll(c12.selectExpr("w2 AS x"))
              .agg(F.countDistinct("x").alias("vtrain")))
    tots = nctot.crossJoin(F.broadcast(vtrain))
    scored = (
        hbg.join(c12, on=["w1", "w2"], how="left")
        .join(c1, on="w1", how="left")
        .join(nc2, on="w2", how="left")
        .crossJoin(F.broadcast(tots))
        .selectExpr("doc_id", f"{_kn_term()} AS term")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE)")
        .alias("ll"),
        F.expr("CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE)"
               " / COUNT(*)").alias("avg_ll"),
    )


# ----------------------------------------------------------------------
# CCNet-style perplexity bucketing: documents split into head /
# middle / tail terciles by LM perplexity (CCNet, Wenzek et al.
# 2020 — the standard web-corpus quality partition a pretraining
# mixture samples from). Perplexity is monotone in -avg_ll, so the
# terciles bucket directly on the bigram LM's avg_ll (DECIMAL-exact
# cross-engine, no exp() ulp hazard) with doc_id as the
# deterministic tie-break; the tercile assignment is EXACT NTILE(3)
# semantics computed by the distributed two-pass rank — never a
# corpus-wide window.
# ----------------------------------------------------------------------

_PPL_ORACLE = f"""
WITH scored AS ({{bigram}}),
b AS (
  SELECT doc_id, n_bigrams, avg_ll,
    NTILE(3) OVER (ORDER BY avg_ll DESC, doc_id) AS bucket
  FROM scored)
SELECT doc_id, n_bigrams, avg_ll, bucket,
  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
    ELSE 'tail' END AS tier
FROM b
"""


@spec(
    "doc_perplexity_buckets",
    _PPL_ORACLE.format(
        bigram=_BIGRAM_ORACLE.format(term=_bigram_term()).strip()),
    description="CCNet head/middle/tail perplexity terciles over the "
                "bigram LM score (exact DECIMAL arithmetic, "
                "distributed NTILE) — the standard pretraining "
                "quality partition",
    tags=("pipeline", "text", "lm", "sampling"),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import ntile_distributed

    scored = _bigram_ll(spark, sf_dir).select(
        "doc_id", "n_bigrams", "avg_ll")
    b = ntile_distributed(
        scored, 3, [F.col("avg_ll").desc(), F.col("doc_id").asc()],
        bin_col="bucket")
    return b.selectExpr(
        "doc_id", "n_bigrams", "avg_ll", "bucket",
        "CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'"
        " ELSE 'tail' END AS tier")


# ----------------------------------------------------------------------
# CCNet proper (Wenzek et al. 2020): ONE LM PER LANGUAGE, trained on
# that language's half of the corpus, scoring that language's
# held-out half, and head/middle/tail terciles assigned WITHIN each
# language — the global-tercile variant above would let an
# easy-to-model language swallow every head slot. Composes the
# held-out Kneser-Ney machinery (all count tables gain a lang key;
# the per-language totals frame is languages-sized and broadcast)
# with per-group exact NTILE via operators.rank.ntile_grouped (one
# global_rank over (lang, score, id) + per-lang offsets — no
# per-language window, no corpus-wide window). A held-out doc whose
# language has no trained LM is dropped (inner totals join) in both
# engines — CCNet cannot score without a model.
# ----------------------------------------------------------------------

_CCNET_ORACLE = f"""
WITH tr AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
  WHERE doc_id % 2 = 0 AND len(string_split(text, ' ')) >= 2),
ho AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
  WHERE doc_id % 2 = 1 AND len(string_split(text, ' ')) >= 2),
tbg AS (
  SELECT doc_id, lang, unnest(l[1:len(l)-1]) AS w1,
    unnest(l[2:len(l)]) AS w2 FROM tr),
hbg AS (
  SELECT doc_id, lang, unnest(l[1:len(l)-1]) AS w1,
    unnest(l[2:len(l)]) AS w2 FROM ho),
c12 AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM tbg
        GROUP BY 1, 2, 3),
c1 AS (SELECT lang, w1, COUNT(*) AS c1,
         COUNT(DISTINCT w2) AS n1w1 FROM tbg GROUP BY 1, 2),
nc2 AS (SELECT lang, w2, COUNT(DISTINCT w1) AS nc2 FROM tbg
        GROUP BY 1, 2),
nct AS (SELECT lang, COUNT(*) AS nctot FROM c12 GROUP BY 1),
vt AS (SELECT lang, COUNT(DISTINCT x) AS vtrain FROM
         (SELECT lang, unnest(l) AS x FROM tr) GROUP BY 1),
tots AS (SELECT nct.lang, nct.nctot, vt.vtrain
         FROM nct JOIN vt ON vt.lang = nct.lang),
scored AS (
  SELECT h.doc_id, h.lang, {{term}} AS term
  FROM hbg h
  LEFT JOIN c12 ON c12.lang = h.lang AND c12.w1 = h.w1
                AND c12.w2 = h.w2
  LEFT JOIN c1 ON c1.lang = h.lang AND c1.w1 = h.w1
  LEFT JOIN nc2 ON nc2.lang = h.lang AND nc2.w2 = h.w2
  JOIN tots ON tots.lang = h.lang),
d AS (
  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
    CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*)
      AS avg_ll
  FROM scored GROUP BY 1, 2),
b AS (
  SELECT doc_id, lang, n_bigrams, avg_ll,
    NTILE(3) OVER (PARTITION BY lang
                   ORDER BY avg_ll DESC, doc_id) AS bucket
  FROM d)
SELECT doc_id, lang, n_bigrams, avg_ll, bucket,
  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
    ELSE 'tail' END AS tier
FROM b
"""


@spec(
    "doc_ccnet_perlang_buckets",
    _CCNET_ORACLE.format(term=_kn_term()),
    description="CCNet per-language perplexity bucketing: one "
                "held-out interpolated Kneser-Ney bigram LM per "
                "language (lang-keyed count tables, one shared scan "
                "per statistic), head/middle/tail terciles WITHIN "
                "each language via grouped exact NTILE (global_rank "
                "+ per-lang offsets — no per-language window)",
    tags=("pipeline", "text", "lm", "sampling"),
)
def q_ccnet_perlang_buckets(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import ntile_grouped
    from xsarsea_spark.pipeline.text import bigrams

    docs = load(spark, sf_dir, "documents")
    langs = docs.select("doc_id", "lang")
    train = docs.filter("doc_id % 2 = 0")
    held = docs.filter("doc_id % 2 = 1")
    tbg = bigrams(train).join(langs, on="doc_id")
    hbg = bigrams(held).join(langs, on="doc_id")
    # same derivation as doc_kn_heldout_lm, lang-keyed: ONE corpus
    # aggregation (c12), every other count table rolled up from it
    # at vocabulary scale — c1 = SUM(c12), n1w1/nc2 = key counts,
    # nctot = row counts, vtrain = distinct tokens via the
    # w1 ∪ w2 key union. Four corpus explodes removed.
    c12 = materialize(
        tbg.groupBy("lang", "w1", "w2").agg(
            F.count(F.lit(1)).alias("c12")),
        eager=False)
    c1 = c12.groupBy("lang", "w1").agg(
        F.expr("SUM(c12)").alias("c1"),
        F.count(F.lit(1)).alias("n1w1"))
    nc2 = c12.groupBy("lang", "w2").agg(
        F.count(F.lit(1)).alias("nc2"))
    nct = c12.groupBy("lang").agg(F.count(F.lit(1)).alias("nctot"))
    vt = (c12.selectExpr("lang", "w1 AS x")
          .unionAll(c12.selectExpr("lang", "w2 AS x"))
          .groupBy("lang").agg(F.countDistinct("x").alias("vtrain")))
    tots = nct.join(vt, on="lang")
    scored = (
        hbg.join(c12, on=["lang", "w1", "w2"], how="left")
        .join(c1, on=["lang", "w1"], how="left")
        .join(nc2, on=["lang", "w2"], how="left")
        .join(F.broadcast(tots), on="lang")
        .selectExpr("doc_id", "lang", f"{_kn_term()} AS term")
    )
    d = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE)"
               " / COUNT(*)").alias("avg_ll"))
    b = ntile_grouped(
        d, 3, ["lang"],
        [F.col("avg_ll").desc(), F.col("doc_id").asc()],
        bin_col="bucket")
    return b.selectExpr(
        "doc_id", "lang", "n_bigrams", "avg_ll", "bucket",
        "CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'"
        " ELSE 'tail' END AS tier")


_PQ_M, _PQ_K, _PQ_ITERS = 8, 16, 3
_PQ_SUB = _CND_DIM // _PQ_M
_PQ_SHORT = 10 * _KNN_K


def _pq_sqd(sub: int) -> str:
    """Fold-ordered subspace squared-L2 between sv (vector slice) and
    bc (codebook row) — the pq._seq_sqdist twin. Expects the FROM
    aliases ``sv`` and ``b``."""
    return (f"list_reduce(list_transform(range(1, {sub} + 1),"
            f" i -> (sv.sv[i] - b.bc[i]) * (sv.sv[i] - b.bc[i])),"
            f" (p, t) -> p + t)")


def _pq_lloyd_ctes(pfx: str, src: str, m: int, kq: int, iters: int,
                   sub: int) -> list[str]:
    """Chained-CTE replay of the deterministic PQ Lloyd loop over the
    source CTE ``src`` (vec_id, e): emits ``{pfx}ss``/``{pfx}sv``
    (subspace slices) and ``{pfx}b0..b{iters}`` (codebooks). With
    m=1 and sub=dim this is plain L2 k-means — the IVF-PQ coarse
    quantizer rides the same builder as the PQ codebooks."""
    from xsarsea_spark.pipeline.pq import PQ_SCALE

    sqd = _pq_sqd(sub)
    parts = [
        f"{pfx}ss AS (SELECT unnest(range({m})) AS s)",
        f"{pfx}sv AS (SELECT vec_id, s,"
        f" list_slice(e, s * {sub} + 1, s * {sub} + {sub}) AS sv"
        f" FROM {src} CROSS JOIN {pfx}ss)",
        f"{pfx}b0 AS (SELECT s, cell,"
        f" list_slice(e, s * {sub} + 1, s * {sub} + {sub}) AS bc FROM"
        f" (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, e"
        f" FROM {src} ORDER BY vec_id LIMIT {kq}) CROSS JOIN {pfx}ss)",
    ]
    for r in range(iters):
        parts.append(
            f"{pfx}a{r} AS (SELECT sv.vec_id, sv.s, sv.sv, b.cell"
            f" FROM {pfx}sv sv JOIN {pfx}b{r} b ON b.s = sv.s"
            f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id,"
            f" sv.s ORDER BY {sqd} ASC, b.cell) = 1)"
        )
        parts.append(
            f"{pfx}x{r} AS (SELECT s, cell,"
            f" unnest(range(1, {sub} + 1)) AS d, unnest(sv) AS x"
            f" FROM {pfx}a{r})"
        )
        parts.append(
            f"{pfx}m{r} AS (SELECT s, cell, d,"
            f" CAST(SUM(CAST(x AS DECIMAL(38,{PQ_SCALE}))) AS DOUBLE)"
            f" / COUNT(x) AS m FROM {pfx}x{r} GROUP BY s, cell, d)"
        )
        parts.append(
            f"{pfx}o{r} AS (SELECT s, cell,"
            f" unnest(range(1, {sub} + 1)) AS d, unnest(bc) AS oc"
            f" FROM {pfx}b{r})"
        )
        parts.append(
            f"{pfx}b{r + 1} AS (SELECT o.s, o.cell,"
            f" list(COALESCE(m.m, o.oc) ORDER BY o.d) AS bc"
            f" FROM {pfx}o{r} o LEFT JOIN {pfx}m{r} m ON m.s = o.s"
            f" AND m.cell = o.cell AND m.d = o.d GROUP BY o.s, o.cell)"
        )
    return parts


def _pq_oracle(k: int = _KNN_K, prelude: list | None = None,
               src: str = "v") -> str:
    """Chained-CTE replay of the full PQ chain over the vector source
    CTE ``src`` (vec_id, e as list<double>). The default source is the
    raw embeddings table; ``prelude``/``src`` let a variant (the OPQ
    allocation row) swap in a derived vector space — the refine stage
    then reranks in THAT space, mirroring pq_search's use of the
    queries' own vectors."""
    sub = _PQ_SUB
    sqd = _pq_sqd(sub)
    parts = list(prelude) if prelude is not None else [
        "v AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)",
    ]
    parts += _pq_lloyd_ctes("", src, _PQ_M, _PQ_K, _PQ_ITERS, sub)
    bf = _PQ_ITERS
    if src == "v":
        ex = ("list_reduce(list_transform("
              "range(1, len(q.embedding) + 1),"
              " i -> CAST(q.embedding[i] - c.embedding[i] AS DOUBLE)"
              " * CAST(q.embedding[i] - c.embedding[i] AS DOUBLE)),"
              " (p, t) -> p + t)")
        ex_q, ex_c = "embeddings q", "embeddings c"
    else:
        # derived source: e is already DOUBLE, the subtraction is
        # double in both engines (Spark's zip_with over the
        # double-cast permuted arrays)
        ex = (f"list_reduce(list_transform(range(1, {_CND_DIM} + 1),"
              " i -> (q.e[i] - c.e[i]) * (q.e[i] - c.e[i])),"
              " (p, t) -> p + t)")
        ex_q, ex_c = f"{src} q", f"{src} c"
    parts += [
        # encode every corpus vector: per-subspace nearest code
        f"enc AS (SELECT sv.vec_id, sv.s, b.cell"
        f" FROM sv JOIN b{bf} b ON b.s = sv.s"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s"
        f" ORDER BY {sqd} ASC, b.cell) = 1)",
        # per-query (m x K) exact subspace distance tables
        f"qt AS (SELECT sv.vec_id AS query_id, sv.s, b.cell,"
        f" {sqd} AS td FROM sv JOIN b{bf} b ON b.s = sv.s"
        f" WHERE sv.vec_id < {_KNN_NQ})",
        # ADC: fold the m table lookups in ascending subspace order
        # (matches the kernel's zero-init sequential accumulation)
        "adc AS (SELECT qt.query_id, enc.vec_id AS neighbor_id,"
        " list_reduce(list(qt.td ORDER BY qt.s), (p, t) -> p + t)"
        " AS adc FROM enc JOIN qt ON qt.s = enc.s"
        " AND qt.cell = enc.cell GROUP BY qt.query_id, enc.vec_id)",
        f"short AS (SELECT query_id, neighbor_id FROM (SELECT"
        f" query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY"
        f" query_id ORDER BY adc ASC, neighbor_id ASC) AS rn"
        f" FROM adc) WHERE rn <= {_PQ_SHORT})",
        # FAISS-style refine: exact squared L2 on the shortlist only;
        # float subtraction then double product, the zip_with twin
        f"ex AS (SELECT s.query_id, s.neighbor_id, {ex} AS adc_dist"
        f" FROM short s JOIN {ex_q} ON q.vec_id = s.query_id"
        f" JOIN {ex_c} ON c.vec_id = s.neighbor_id)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT query_id, rank, neighbor_id, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM ex)
WHERE rank <= {k}""")


@spec(
    "pq_ann",
    _pq_oracle(),
    description="Product-quantization ANN: per-subspace k-means "
                "codebooks (one corpus pass per Lloyd round for all "
                "subspaces), M-byte codes, ADC search via broadcast "
                "distance tables, exact-rerank refine — train, "
                "encode, ADC and refine all value-checked by one "
                "chained-CTE oracle",
    tags=("pipeline", "similarity", "iterative"),
)
def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.pq import encode_pq, pq_search, train_pq

    emb = load(spark, sf_dir, "embeddings")
    books = train_pq(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    codes = encode_pq(emb, books)
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    return pq_search(queries, codes, books, k=_KNN_K, corpus=emb,
                     shortlist=_PQ_SHORT)


# ----------------------------------------------------------------------
# OPQ dimension allocation (Ge et al. CVPR 2013, the parametric
# eigenvalue/variance-allocation step, rotation restricted to the
# permutation subgroup so the whole chain stays bit-replayable):
# per-dim exact integer variance keys -> serpentine deal to the m
# subspaces -> standard PQ in the permuted layout. The row is the
# recall-vs-plain-PQ eval: same code budget (m, K, iters, shortlist),
# same ground truth, two full train->encode->ADC->refine chains.
# ----------------------------------------------------------------------


def _opq_prelude() -> list:
    from xsarsea_spark.pipeline.opq import ALLOC_MAX_ABS, ALLOC_SCALE

    g, m = 10 ** ALLOC_SCALE, _PQ_M
    return [
        "v AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)",
        f"xd AS (SELECT vec_id, unnest(range(1, {_CND_DIM} + 1))"
        f" AS d, unnest(e) AS x FROM v)",
        # stats-input contract (mirrors train_allocation): rows with
        # a non-finite or out-of-domain coordinate are dropped from
        # the variance statistics; per-value floors stay in int64,
        # sums ride HUGEINT so no corpus size overflows THE SUMS.
        # The composite rank key below (n*g*sx2 - sx*sx) is bounded
        # by ~9e26 * n^2, so the ORACLE holds inside HUGEINT
        # (1.7e38) only up to n ~ 4e5 vectors; past that DuckDB
        # fails LOUDLY (overflow error, never a silent divergence)
        # while the Spark/Python side stays exact on unbounded ints.
        # Test corpora are ~1e4 vectors — 40x inside the bound.
        f"xok AS (SELECT vec_id FROM v WHERE len(list_filter(e,"
        f" x -> x IS NULL OR isnan(x)"
        f" OR abs(x) > {ALLOC_MAX_ABS})) = 0)",
        f"vk AS (SELECT d,"
        f" SUM(CAST(FLOOR(x * {g}) AS HUGEINT)) AS sx,"
        f" SUM(CAST(FLOOR(x * x * {g}) AS HUGEINT)) AS sx2,"
        f" COUNT(*) AS n FROM xd JOIN xok USING (vec_id)"
        f" GROUP BY d)",
        # q(x^2) carries one grid factor, q(x)^2 two: rebalance by g
        f"rk AS (SELECT d, ROW_NUMBER() OVER (ORDER BY"
        f" (CAST(n AS HUGEINT) * {g} * CAST(sx2 AS HUGEINT)"
        f" - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) DESC,"
        f" d ASC) - 1 AS r FROM vk)",
        f"al AS (SELECT d, CASE WHEN (r // {m}) % 2 = 0"
        f" THEN r % {m} ELSE {m} - 1 - (r % {m}) END AS s,"
        f" r // {m} AS slot FROM rk)",
        "pv AS (SELECT x.vec_id, list(x.x ORDER BY a.s, a.slot)"
        " AS e FROM xd x JOIN al a ON a.d = x.d GROUP BY x.vec_id)",
    ]


def _opq_recall_oracle() -> str:
    def pick(src: str) -> str:
        return (f"SELECT query_id, neighbor_id FROM (SELECT query_id,"
                f" neighbor_id, ROW_NUMBER() OVER (PARTITION BY"
                f" query_id ORDER BY rank ASC) AS rn FROM {src}"
                f" WHERE neighbor_id <> query_id) WHERE rn <= {_KNN_K}")

    return f"""
WITH ex AS ({_KNN_ORACLE}),
p0 AS ({_pq_oracle(k=_KNN_K + 1)}),
o0 AS ({_pq_oracle(k=_KNN_K + 1, prelude=_opq_prelude(), src="pv")}),
pp AS ({pick("p0")}),
oo AS ({pick("o0")}),
m AS (
  SELECT 'pq' AS variant, COUNT(*) AS n_matched
  FROM ex JOIN pp USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'opq_alloc' AS variant, COUNT(*) AS n_matched
  FROM ex JOIN oo USING (query_id, neighbor_id)),
t AS (SELECT COUNT(*) AS n_exact,
             COUNT(DISTINCT query_id) AS n_queries FROM ex)
SELECT m.variant, CAST(t.n_queries AS BIGINT) AS n_queries,
  CAST(m.n_matched AS BIGINT) AS n_matched,
  CAST(t.n_exact AS BIGINT) AS n_exact,
  m.n_matched / CAST(t.n_exact AS DOUBLE) AS recall
FROM m CROSS JOIN t"""


@spec(
    "opq_alloc_recall",
    _opq_recall_oracle(),
    description="OPQ dimension allocation vs plain PQ at equal code "
                "budget: serpentine variance-balanced permutation "
                "(exact integer variance keys, one aggregation pass, "
                "frozen d-int state) ahead of the standard PQ chain; "
                "recall@k of both variants against the brute-force "
                "ground truth, both full chains replayed by one "
                "chained-CTE oracle",
    tags=("pipeline", "similarity", "iterative"),
)
def q_opq_alloc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from xsarsea_spark.pipeline.opq import (apply_allocation,
                                            train_allocation)
    from xsarsea_spark.pipeline.pq import encode_pq, pq_search, train_pq

    emb = load(spark, sf_dir, "embeddings")
    # materialize: the brute-force exact-KNN frame feeds THREE
    # consumers (the totals agg and one match-join per variant) —
    # without the barrier each plan re-runs the full queries x
    # corpus scan (the doc_url_dedup shared-consumer precedent)
    ex = materialize(
        q_knn(spark, sf_dir).select("query_id", "neighbor_id"))

    def topk(src: DataFrame) -> DataFrame:
        books = train_pq(src, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
        codes = encode_pq(src, books)
        qs = src.filter(F.col("vec_id") < _KNN_NQ)
        ap0 = pq_search(qs, codes, books, k=_KNN_K + 1, corpus=src,
                        shortlist=_PQ_SHORT)
        return (
            ap0.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("rank"))))
            .filter(F.col("rn") <= _KNN_K)
            .select("query_id", "neighbor_id")
        )

    perm = train_allocation(emb, m=_PQ_M)
    variants = [("pq", topk(emb)),
                ("opq_alloc", topk(apply_allocation(emb, perm)))]
    t = ex.agg(F.count(F.lit(1)).alias("n_exact"),
               F.countDistinct("query_id").alias("n_queries"))
    out = None
    for name, ap in variants:
        mm = (ex.join(ap, on=["query_id", "neighbor_id"])
              .agg(F.count(F.lit(1)).alias("n_matched"))
              .withColumn("variant", F.lit(name)))
        out = mm if out is None else out.unionByName(mm)
    return (
        out.crossJoin(F.broadcast(t))
        .select("variant",
                F.col("n_queries").cast("bigint").alias("n_queries"),
                F.col("n_matched").cast("bigint").alias("n_matched"),
                F.col("n_exact").cast("bigint").alias("n_exact"),
                F.expr("n_matched / CAST(n_exact AS DOUBLE)")
                .alias("recall"))
    )


# ----------------------------------------------------------------------
# IVF-PQ: the FAISS IndexIVFPQ shape — coarse L2 quantizer (the same
# Lloyd chain with m=1), residuals v - centroid[cell], shared PQ
# codebooks over the residuals, cell-probed ADC search with
# per-(query, probed-cell) residual tables, exact-rerank refine. The
# whole chain (both Lloyd trains, residual algebra, probing, ADC,
# refine) replays in one chained-CTE oracle via _pq_lloyd_ctes.
# ----------------------------------------------------------------------

_IVFPQ_NC, _IVFPQ_ITERS, _IVFPQ_PROBE = 8, 2, 3


def _ivfpq_oracle(k: int = _KNN_K) -> str:
    dim, sub = _CND_DIM, _PQ_SUB
    it, npr = _IVFPQ_ITERS, _IVFPQ_PROBE
    sqd_full = _pq_sqd(dim)
    sqd_sub = _pq_sqd(sub)
    parts = [
        "v AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)",
    ]
    # coarse quantizer: one subspace spanning the full dimension
    parts += _pq_lloyd_ctes("c", "v", 1, _IVFPQ_NC, it, dim)
    parts += [
        # coarse assignment (argmin fold-ordered L2, ties -> lowest)
        f"cells AS (SELECT sv.vec_id, b.cell"
        f" FROM csv sv JOIN cb{it} b ON b.s = sv.s"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id"
        f" ORDER BY {sqd_full} ASC, b.cell) = 1)",
        # exact double residuals v - centroid[cell]
        f"rsrc AS (SELECT c.vec_id,"
        f" list_transform(range(1, {dim} + 1),"
        f" i -> v.e[i] - b.bc[i]) AS e"
        f" FROM cells c JOIN v ON v.vec_id = c.vec_id"
        f" JOIN cb{it} b ON b.s = 0 AND b.cell = c.cell)",
    ]
    # shared PQ codebooks trained on the residuals
    parts += _pq_lloyd_ctes("r", "rsrc", _PQ_M, _PQ_K, it, sub)
    parts += [
        # encode: per (vector, subspace) nearest residual code + cell
        f"enc0 AS (SELECT sv.vec_id, sv.s, b.cell AS code"
        f" FROM rsv sv JOIN rb{it} b ON b.s = sv.s"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s"
        f" ORDER BY {sqd_sub} ASC, b.cell) = 1)",
        "enc AS (SELECT e.vec_id, e.s, e.code, c.cell"
        " FROM enc0 e JOIN cells c ON c.vec_id = e.vec_id)",
        # per query: the n_probe nearest coarse cells
        f"qcell AS (SELECT sv.vec_id AS query_id, b.cell"
        f" FROM csv sv JOIN cb{it} b ON b.s = sv.s"
        f" WHERE sv.vec_id < {_KNN_NQ}"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id"
        f" ORDER BY {sqd_full} ASC, b.cell) <= {npr})",
        # residual query per (query, probed cell)
        f"rq AS (SELECT q.query_id, q.cell,"
        f" list_transform(range(1, {dim} + 1),"
        f" i -> v.e[i] - b.bc[i]) AS re"
        f" FROM qcell q JOIN v ON v.vec_id = q.query_id"
        f" JOIN cb{it} b ON b.s = 0 AND b.cell = q.cell)",
        f"rqs AS (SELECT query_id, cell, s,"
        f" list_slice(re, s * {sub} + 1, s * {sub} + {sub}) AS sv"
        f" FROM rq CROSS JOIN rss)",
        # per-(query, cell) ADC tables over the residual codebooks
        f"qt AS (SELECT sv.query_id, sv.cell, sv.s, b.cell AS code,"
        f" {sqd_sub} AS td FROM rqs sv JOIN rb{it} b ON b.s = sv.s)",
        # ADC: only codes in a query's probed cells join; fold the m
        # lookups ascending s (the kernel's zero-init accumulation)
        "adc AS (SELECT qt.query_id, e.vec_id AS neighbor_id,"
        " list_reduce(list(qt.td ORDER BY qt.s), (p, t) -> p + t)"
        " AS adc FROM enc e JOIN qt ON qt.cell = e.cell"
        " AND qt.s = e.s AND qt.code = e.code"
        " GROUP BY qt.query_id, e.vec_id)",
        f"short AS (SELECT query_id, neighbor_id FROM (SELECT"
        f" query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY"
        f" query_id ORDER BY adc ASC, neighbor_id ASC) AS rn"
        f" FROM adc) WHERE rn <= {_PQ_SHORT})",
        "ex AS (SELECT s.query_id, s.neighbor_id,"
        " list_reduce(list_transform(range(1, len(q.embedding) + 1),"
        " i -> CAST(q.embedding[i] - c.embedding[i] AS DOUBLE)"
        " * CAST(q.embedding[i] - c.embedding[i] AS DOUBLE)),"
        " (p, t) -> p + t) AS adc_dist"
        " FROM short s JOIN embeddings q ON q.vec_id = s.query_id"
        " JOIN embeddings c ON c.vec_id = s.neighbor_id)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT query_id, rank, neighbor_id, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM ex)
WHERE rank <= {k}""")


@spec(
    "ivfpq_ann",
    _ivfpq_oracle(),
    description="IVF-PQ ANN (the FAISS IndexIVFPQ shape): coarse L2 "
                "quantizer + product-quantized residuals + cell-probed "
                "ADC with per-(query, cell) residual tables + exact "
                "rerank — both Lloyd trains, the residual algebra, "
                "probing, ADC and refine all value-checked by one "
                "chained-CTE oracle",
    tags=("pipeline", "similarity", "iterative"),
)
def q_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ivfpq import (encode_ivfpq,
                                              ivfpq_search, train_ivfpq)

    emb = load(spark, sf_dir, "embeddings")
    coarse, books = train_ivfpq(emb, n_cells=_IVFPQ_NC, m=_PQ_M,
                                k=_PQ_K, iters=_IVFPQ_ITERS)
    idx = encode_ivfpq(emb, coarse, books)
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    return ivfpq_search(queries, idx, coarse, books, k=_KNN_K,
                        n_probe=_IVFPQ_PROBE, corpus=emb,
                        shortlist=_PQ_SHORT)


# ----------------------------------------------------------------------
# IVF-PQ recall@k against the brute-force ground truth — the third
# row of the ANN eval family (LSH: embedding_ann_recall; truncation:
# embedding_matryoshka_recall). The refined IVF-PQ ranking includes
# the query itself (exact L2 distance 0), so the search runs at
# k + 1 and drops the self row before the top-k cut in BOTH engines;
# the exact side already excludes self.
# ----------------------------------------------------------------------


def _ivfpq_recall_oracle() -> str:
    return f"""
WITH ex AS ({_KNN_ORACLE}),
ap0 AS ({_ivfpq_oracle(k=_KNN_K + 1)}),
ap AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY rank ASC) AS rn
    FROM ap0 WHERE neighbor_id <> query_id)
  WHERE rn <= {_KNN_K}),
m AS (
  SELECT ex.query_id, COUNT(*) AS n_matched
  FROM ex JOIN ap ON ap.query_id = ex.query_id
                 AND ap.neighbor_id = ex.neighbor_id
  GROUP BY ex.query_id),
nq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex
       GROUP BY query_id)
SELECT nq.query_id, CAST(nq.n_exact AS BIGINT) AS n_exact,
  CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
  COALESCE(m.n_matched, 0) / CAST(nq.n_exact AS DOUBLE) AS recall
FROM nq LEFT JOIN m USING (query_id)
"""


@spec(
    "ivfpq_ann_recall",
    _ivfpq_recall_oracle(),
    description="Recall@k of IVF-PQ ANN (coarse quantize + residual "
                "PQ + ADC + exact rerank) against brute-force ground "
                "truth — the full index build, search and both "
                "rankings replayed by one chained-CTE oracle, so the "
                "recall numbers themselves are value-exact",
    tags=("pipeline", "similarity", "iterative"),
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from xsarsea_spark.pipeline.ivfpq import (encode_ivfpq,
                                              ivfpq_search, train_ivfpq)

    emb = load(spark, sf_dir, "embeddings")
    coarse, books = train_ivfpq(emb, n_cells=_IVFPQ_NC, m=_PQ_M,
                                k=_PQ_K, iters=_IVFPQ_ITERS)
    idx = encode_ivfpq(emb, coarse, books)
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    ap0 = ivfpq_search(queries, idx, coarse, books, k=_KNN_K + 1,
                       n_probe=_IVFPQ_PROBE, corpus=emb,
                       shortlist=_PQ_SHORT)
    ap = (
        ap0.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.asc("rank"))))
        .filter(F.col("rn") <= _KNN_K)
        .select("query_id", "neighbor_id")
    )
    ex = q_knn(spark, sf_dir).select("query_id", "neighbor_id")
    m = (
        ex.join(ap, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    nq = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        nq.join(m, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("CAST(coalesce(n_matched, 0) AS BIGINT)")
            .alias("n_matched"),
            F.expr("coalesce(n_matched, 0)"
                   " / CAST(n_exact AS DOUBLE)").alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# Incremental IVF-PQ index maintenance — the PQ-coded twin of
# ivf_incremental, completing the incremental family (exact dedup,
# MinHash-LSH, IVF, PCA, IVF-PQ): BOTH quantizers (coarse centroids
# and residual codebooks) are trained once on the historical corpus
# and FROZEN — retraining either would invalidate every persisted
# code. The historical postings are written as a cell-partitioned
# parquet table (a probe reads only its cells' files); a new batch is
# encoded in one O(batch) Arrow pass against the frozen quantizers
# and appended without touching historical postings. The census
# output carries per-cell history/new counts AND the exact BIGINT sum
# of every PQ code in the cell — value equality with the oracle's
# from-scratch frozen-quantizer encode of the union certifies every
# cell assignment and every code byte across the persisted round
# trip.
# ----------------------------------------------------------------------


def _ivfpq_incremental_oracle() -> str:
    dim, sub = _CND_DIM, _PQ_SUB
    it = _IVFPQ_ITERS
    sqd_full = _pq_sqd(dim)
    sqd_sub = _pq_sqd(sub)
    parts = [
        f"cut AS (SELECT CAST(CEIL(MAX(vec_id) * {_INC_FRAC})"
        f" AS BIGINT) AS c FROM embeddings)",
        # training source: the historical slice only
        "hv AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings WHERE vec_id < (SELECT c FROM cut))",
    ]
    # frozen coarse quantizer: Lloyd over history (m=1 over full dim)
    parts += _pq_lloyd_ctes("c", "hv", 1, _IVFPQ_NC, it, dim)
    parts += [
        "vall AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)",
        # coarse assignment of ALL vectors against the frozen cells
        "casv AS (SELECT vec_id, 0 AS s, e AS sv FROM vall)",
        f"cells AS (SELECT sv.vec_id, b.cell"
        f" FROM casv sv JOIN cb{it} b ON b.s = sv.s"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id"
        f" ORDER BY {sqd_full} ASC, b.cell) = 1)",
        # exact double residuals v - centroid[cell] for ALL vectors
        f"rall AS (SELECT c.vec_id,"
        f" list_transform(range(1, {dim} + 1),"
        f" i -> v.e[i] - b.bc[i]) AS e"
        f" FROM cells c JOIN vall v ON v.vec_id = c.vec_id"
        f" JOIN cb{it} b ON b.s = 0 AND b.cell = c.cell)",
        # frozen residual codebooks: Lloyd over HISTORY residuals only
        "rhist AS (SELECT vec_id, e FROM rall"
        " WHERE vec_id < (SELECT c FROM cut))",
    ]
    parts += _pq_lloyd_ctes("r", "rhist", _PQ_M, _PQ_K, it, sub)
    parts += [
        # encode ALL residuals with the frozen codebooks
        f"rasv AS (SELECT vec_id, s,"
        f" list_slice(e, s * {sub} + 1, s * {sub} + {sub}) AS sv"
        f" FROM rall CROSS JOIN rss)",
        f"enc0 AS (SELECT sv.vec_id, sv.s, b.cell AS code"
        f" FROM rasv sv JOIN rb{it} b ON b.s = sv.s"
        f" QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s"
        f" ORDER BY {sqd_sub} ASC, b.cell) = 1)",
        "pc AS (SELECT vec_id, SUM(code) AS csum FROM enc0"
        " GROUP BY vec_id)",
        "idx AS (SELECT c.vec_id, c.cell, p.csum"
        " FROM cells c JOIN pc p ON p.vec_id = c.vec_id)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT CAST(cell AS BIGINT) AS cell,
  CAST(SUM(CASE WHEN vec_id < (SELECT c FROM cut)
       THEN 1 ELSE 0 END) AS BIGINT) AS n_hist,
  CAST(SUM(CASE WHEN vec_id >= (SELECT c FROM cut)
       THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  COUNT(*) AS n_total,
  CAST(SUM(csum) AS BIGINT) AS code_sum,
  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
FROM idx GROUP BY cell""")


@spec(
    "ivfpq_incremental",
    _ivfpq_incremental_oracle(),
    description="Incremental IVF-PQ maintenance: coarse centroids and "
                "residual codebooks frozen from history training, "
                "historical postings persisted cell-partitioned, new "
                "batch encoded O(batch) and appended — per-cell census "
                "with exact code checksums value-equal to a "
                "from-scratch frozen-quantizer encode of the union",
    tags=("pipeline", "similarity", "incremental", "iterative"),
)
def q_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from xsarsea_spark.pipeline.ivfpq import encode_ivfpq, train_ivfpq

    emb = load(spark, sf_dir, "embeddings")
    cut = emb.agg(F.expr(
        f"CAST(CEIL(MAX(vec_id) * {_INC_FRAC}) AS BIGINT)").alias("c"))
    d = emb.crossJoin(F.broadcast(cut))
    hist = d.filter("vec_id < c").drop("c")
    batch = d.filter("vec_id >= c").drop("c")
    # both quantizers of a production index, trained once on history
    coarse, books = train_ivfpq(hist, n_cells=_IVFPQ_NC, m=_PQ_M,
                                k=_PQ_K, iters=_IVFPQ_ITERS)
    # persisted postings, partitioned by cell: a probe reads only its
    # cells' files at 100 TB
    base = scratch_path(spark, "ivfpq_idx", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    encode_ivfpq(hist, coarse, books) \
        .write.partitionBy("cell").parquet(base)
    idx_hist = (
        spark.read.parquet(base)
        .withColumn("cell", F.col("cell").cast("int"))
        .withColumn("__new", F.lit(False))
    )
    # the O(batch) increment: encode against the FROZEN quantizers
    idx_new = encode_ivfpq(batch, coarse, books) \
        .withColumn("__new", F.lit(True))
    merged = idx_hist.unionByName(idx_new)
    return merged.groupBy(F.col("cell").cast("bigint").alias("cell")) \
        .agg(
            F.expr("CAST(SUM(CASE WHEN __new THEN 0 ELSE 1 END)"
                   " AS BIGINT)").alias("n_hist"),
            F.expr("CAST(SUM(CASE WHEN __new THEN 1 ELSE 0 END)"
                   " AS BIGINT)").alias("n_new"),
            F.count(F.lit(1)).alias("n_total"),
            F.expr("CAST(SUM(aggregate(codes, 0L,"
                   " (a, x) -> a + CAST(x AS BIGINT))) AS BIGINT)")
            .alias("code_sum"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )


# ----------------------------------------------------------------------
# Edit-distance verification of LSH candidate pairs. Levenshtein is
# integer-exact and byte==char on this corpus (pure ASCII — DuckDB
# computes byte-wise, Spark char-wise, identical for ASCII; the
# operator is documented ASCII-only for oracle use). Distance runs on
# a fixed 120-char prefix so the verify cost per candidate is bounded
# no matter the document length — candidates only, never all pairs.
# ----------------------------------------------------------------------

_ED_PREFIX = 120


def _editdist_oracle() -> str:
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql})
SELECT p.id_a, p.id_b,
  levenshtein(substr(a.text, 1, {_ED_PREFIX}),
              substr(b.text, 1, {_ED_PREFIX})) AS edit_dist,
  p.jaccard
FROM pairs p
JOIN documents a ON a.doc_id = p.id_a
JOIN documents b ON b.doc_id = p.id_b
"""


@spec(
    "doc_editdist_verify",
    _editdist_oracle(),
    description="Levenshtein verification of LSH candidate pairs "
                "(bounded 120-char prefix, candidates only) — "
                "integer-exact cross-engine on ASCII text",
    tags=("pipeline", "dedup", "text"),
)
def q_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, n=_MH_N, k=_MH_K,
                              threshold=_MH_T)
    texts = docs.selectExpr(
        "doc_id", f"substring(text, 1, {_ED_PREFIX}) AS __t")
    return (
        pairs
        .join(texts.withColumnRenamed("doc_id", "id_a")
              .withColumnRenamed("__t", "__ta"), on="id_a")
        .join(texts.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("__t", "__tb"), on="id_b")
        .select(
            "id_a", "id_b",
            F.expr("levenshtein(__ta, __tb)").alias("edit_dist"),
            "jaccard")
    )


# ----------------------------------------------------------------------
# Triangle structure of the near-dup candidate graph: node-ordered
# wedge join (Suri & Vassilvitskii 2011) over the verified LSH pairs.
# Duplicate clusters tend toward cliques, so per-doc triangle density
# separates pairwise collisions from real duplicate groups.
# ----------------------------------------------------------------------


def _triangle_oracle() -> str:
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
e AS (SELECT id_a AS s, id_b AS d FROM pairs),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)
  GROUP BY node),
w AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
      FROM e e1 JOIN e e2 ON e2.s = e1.d),
t AS (SELECT w.a, w.b, w.c
      FROM w JOIN e ON e.s = w.a AND e.d = w.c),
pt AS (
  SELECT node, COUNT(*) AS triangles
  FROM (SELECT a AS node FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t)
  GROUP BY node)
SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
  CAST(COALESCE(pt.triangles, 0) AS BIGINT) AS triangles,
  2 * COALESCE(pt.triangles, 0)
    / CAST(NULLIF(deg.degree * (deg.degree - 1), 0) AS DOUBLE)
    AS clustering_coeff
FROM deg LEFT JOIN pt USING (node)
"""


@spec(
    "dup_graph_triangles",
    _triangle_oracle(),
    description="Per-doc triangle count + local clustering "
                "coefficient of the verified LSH near-dup graph "
                "(node-ordered wedge join, each triangle generated "
                "once) — separates pairwise collisions from clique-"
                "shaped duplicate clusters",
    tags=("pipeline", "dedup", "graph"),
)
def q_dup_graph_triangles(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.pagerank import triangle_counts
    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup

    pairs = minhash_lsh_dedup(load(spark, sf_dir, "documents"),
                              n=_MH_N, k=_MH_K, threshold=_MH_T)
    # the wedge join consumes the edge list on FOUR plan branches
    # (degrees, e1, e2, closing edge); checkpoint the tiny verified
    # pair set so the LSH candidate pipeline runs once, not four
    # times (the dup_components edge-materialization precedent)
    return triangle_counts(materialize(pairs.select("id_a", "id_b")),
                           src="id_a", dst="id_b")


# ----------------------------------------------------------------------
# Higher-order array-function battery over the embeddings: norm via
# sequential fold (exact cross-engine), element clipping via
# transform, threshold counting via filter, self-dot via zip_with —
# the HOF surface stays entirely JVM-side (no UDF), and every number
# is a left-to-right fold so DuckDB's list_reduce matches bit-exactly.
# ----------------------------------------------------------------------

_HOF_ORACLE = """
SELECT vec_id,
  len(embedding) AS dim,
  list_reduce(list_transform(embedding,
    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
    (a, b) -> a + b) AS sq_norm,
  len(list_filter(embedding, x -> x > 0)) AS n_positive,
  list_reduce(list_transform(embedding,
    x -> CAST(LEAST(GREATEST(x, -25e-2), 25e-2) AS DOUBLE)),
    (a, b) -> a + b) AS clipped_sum
FROM embeddings
"""


@spec(
    "embedding_hof_battery",
    _HOF_ORACLE,
    description="Higher-order array functions (transform/filter/"
                "aggregate/clip) over embeddings — JVM-side, "
                "sequential folds bit-match list_reduce",
    tags=("pipeline", "array"),
)
def q_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.selectExpr(
        "vec_id",
        "size(embedding) AS dim",
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        " AS sq_norm",
        "size(filter(embedding, x -> x > 0)) AS n_positive",
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (a, x) -> a + CAST(LEAST(GREATEST(x, -25e-2), 25e-2)"
        " AS DOUBLE)) AS clipped_sum",
    )


# ----------------------------------------------------------------------
# RAG-style overlapping chunking: fixed-token windows every stride
# tokens + tail. Pure integer chunk geometry — both engines cut the
# identical token array at the identical offsets.
# ----------------------------------------------------------------------

_CH_TOK, _CH_STRIDE = 64, 48


def _chunk_sql(tok: int, stride: int) -> str:
    """DuckDB twin of ``text.chunk_documents(tok, stride)`` — shared
    by the chunking query (overlapping windows) and the chunk-dedup
    query (non-overlapping windows)."""
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents),
st AS (
  SELECT doc_id, l,
    range(0, CAST(CEIL(CAST(GREATEST(len(l) - {tok}, 0)
      AS DOUBLE) / {stride}) AS INT) + 1) AS starts
  FROM t),
ex AS (
  SELECT doc_id,
    unnest(starts) AS chunk_id,
    unnest(list_transform(starts,
      s -> l[s * {stride} + 1 :
             LEAST(s * {stride} + {tok}, len(l))]))
      AS chunk
  FROM st)
SELECT doc_id, chunk_id, len(chunk) AS n_tokens,
  array_to_string(chunk, ' ') AS chunk_text
FROM ex WHERE len(chunk) > 0
"""


_CHUNK_ORACLE = _chunk_sql(_CH_TOK, _CH_STRIDE)


@spec(
    "doc_chunking",
    _CHUNK_ORACLE,
    description="RAG-style overlapping token chunking (64-token "
                "windows, stride 48, tail kept) — pure array SQL, "
                "one explode, no UDF",
    tags=("pipeline", "text", "chunking"),
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=_CH_TOK,
                           stride=_CH_STRIDE)


# ----------------------------------------------------------------------
# Chunk-level exact dedup — the RAG-index ingest step after chunking:
# non-overlapping fixed-token chunks, one canonical copy per content
# hash (lowest (doc, chunk) precedence), per-document redundancy
# report. The precedence window is hash-partitioned (bounded by
# per-hash duplicate multiplicity), never corpus-wide; everything
# else is hash aggs.
# ----------------------------------------------------------------------


def _chunk_dedup_oracle() -> str:
    return f"""
WITH ch AS ({_chunk_sql(_CH_TOK, _CH_TOK).strip()}),
h AS (SELECT doc_id, chunk_id, md5(chunk_text) AS h FROM ch),
r AS (SELECT doc_id, chunk_id, h,
        ROW_NUMBER() OVER (PARTITION BY h
                           ORDER BY doc_id, chunk_id) AS rn
      FROM h)
SELECT doc_id, COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_chunks,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
FROM r GROUP BY doc_id
"""


@spec(
    "doc_chunk_dedup",
    _chunk_dedup_oracle(),
    description="Chunk-level exact dedup for RAG ingest: "
                "non-overlapping 64-token chunks, canonical copy per "
                "content hash, per-document redundancy fractions — "
                "hash-bounded precedence window, no pairwise work",
    tags=("pipeline", "text", "chunking", "dedup"),
)
def q_doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import chunk_dedup

    docs = load(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_tokens=_CH_TOK)


# ----------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis-Spirakis bottom-k with
# md5 uniforms): priority = u^(1/w), u = (h40+1)/2^40 exact, weight =
# document length — longer docs proportionally likelier, same sample
# every run on the same corpus. pow() is libm, so ranking happens on
# the QTRUNC'd priority (ties impossible past the doc_id tie-break).
# One pass + one top-k window: no global sort of the corpus.
# ----------------------------------------------------------------------

_WS_K = 50


def _ws_priority(h40: str) -> str:
    from xsarsea_spark.suite.base import QTRUNC

    u = f"(({h40}) + 1e0) / {float(1 << 40)!r}"
    # weight floor of 1: an empty or NULL-length doc gets weight 1
    # instead of a 1/0 ANSI crash; COALESCE levels the engines'
    # different NULL handling in GREATEST (Spark skips NULLs,
    # DuckDB propagates)
    w = "COALESCE(GREATEST(n_chars, 1), 1)"
    return QTRUNC(f"POW({u}, 1e0 / {w})", 12)


_WS_ORACLE = f"""
WITH p AS (
  SELECT doc_id, lang, n_chars,
    {_ws_priority(_H40_DUCK.format(x="CAST(doc_id AS VARCHAR)"))}
      AS priority
  FROM documents)
SELECT doc_id, lang, n_chars, priority, rk FROM (
  SELECT *, ROW_NUMBER() OVER
    (ORDER BY priority DESC, doc_id) AS rk
  FROM p)
WHERE rk <= {_WS_K}
"""


@spec(
    "doc_weighted_sample",
    _WS_ORACLE,
    description="Deterministic weighted sampling (Efraimidis-"
                "Spirakis bottom-k, md5 uniforms, length weights) — "
                "reproducible training-mixture draws",
    tags=("pipeline", "sampling"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from xsarsea_spark.pipeline.text import HASH40_SQL

    docs = load(spark, sf_dir, "documents")
    pr = _ws_priority(HASH40_SQL.format(x="CAST(doc_id AS STRING)"))
    p = docs.selectExpr("doc_id", "lang", "n_chars",
                        f"{pr} AS priority")
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id"))
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WS_K)
    )


# ----------------------------------------------------------------------
# Inverted index: term -> document frequency + ordered posting list
# (serialized to a string so the value hash is engine-neutral). The
# grouped list build is the one shuffle; posting lists are bounded by
# document frequency, exactly the IR layout a retrieval stage scans.
# ----------------------------------------------------------------------

_INVIDX_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents)
SELECT term, COUNT(*) AS df,
  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM toks GROUP BY term
"""


@spec(
    "doc_inverted_index",
    _INVIDX_ORACLE,
    description="Inverted index build: term -> df + ordered posting "
                "list (distinct explode + one grouped list agg)",
    tags=("pipeline", "text", "index"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id", "explode(split(text, ' ')) AS term").distinct()
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.expr("array_join(sort_array(collect_list(doc_id)), ',')")
        .alias("postings"))


# ----------------------------------------------------------------------
# Multimodal frame sampling with an EXACT oracle: the payload blob is
# carved into fixed 256-byte frames, every 2nd frame md5-digested in
# the Arrow kernel; the oracle re-derives the digests with SQL byte
# substrings (payload bytes == ASCII text bytes on this corpus), so
# the media-kernel batch shape is value-checked, not just rows-only.
# ----------------------------------------------------------------------

_FR_BYTES, _FR_STRIDE = 256, 2

_FRAME_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, length(text) // {_FR_BYTES} AS n_frames
  FROM documents),
f AS (
  SELECT doc_id,
    unnest(range(0, n_frames, {_FR_STRIDE})) AS frame_idx, text
  FROM t WHERE n_frames > 0)
SELECT doc_id, frame_idx,
  md5(substr(text, CAST(frame_idx * {_FR_BYTES} + 1 AS INT),
             {_FR_BYTES})) AS frame_digest
FROM f
"""


@spec(
    "multimodal_frame_sample",
    _FRAME_ORACLE,
    description="Frame sampling over binary payloads (fixed-size "
                "slices, strided, md5 'decode' in the Arrow kernel) "
                "— value-exact vs a SQL byte-substring oracle",
    tags=("pipeline", "multimodal"),
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.multimodal import (attach_payload,
                                                   sample_frames)

    docs = load(spark, sf_dir, "documents")
    return sample_frames(attach_payload(docs),
                         frame_bytes=_FR_BYTES, stride=_FR_STRIDE)


# ----------------------------------------------------------------------
# Gopher-style repetition quality rules: every signal a per-row HOF
# projection (zero shuffles); counts are small integers so ratios are
# one IEEE division each — bit-identical across engines.
# ----------------------------------------------------------------------

_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
m AS (
  SELECT doc_id,
    len(l) AS n,
    list_max(list_transform(list_distinct(l),
      x -> len(list_filter(l, t -> t = x)))) AS top_uni,
    list_transform(range(1, len(l)),
      i -> l[i] || ' ' || l[i + 1]) AS bi,
    list_transform(range(1, len(l) - 1),
      i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]) AS tri,
    list_sum(list_transform(l, x -> length(x))) AS chars
  FROM t)
SELECT doc_id,
  top_uni / CAST(n AS DOUBLE) AS top_unigram_frac,
  list_max(list_transform(list_distinct(bi),
    x -> len(list_filter(bi, t -> t = x))))
    / CAST(len(bi) AS DOUBLE) AS top_bigram_frac,
  (len(tri) - len(list_distinct(tri)))
    / CAST(len(tri) AS DOUBLE) AS dup_trigram_frac,
  chars / CAST(n AS DOUBLE) AS mean_token_len,
  (top_uni / CAST(n AS DOUBLE) <= 0.30
   AND list_max(list_transform(list_distinct(bi),
     x -> len(list_filter(bi, t -> t = x))))
     / CAST(len(bi) AS DOUBLE) <= 0.18
   AND (len(tri) - len(list_distinct(tri)))
     / CAST(len(tri) AS DOUBLE) <= 0.30
   AND chars / CAST(n AS DOUBLE) >= 3.0
   AND chars / CAST(n AS DOUBLE) <= 10.0
   AND n >= 50) AS gopher_keep
FROM m
"""


@spec(
    "doc_gopher_quality",
    _GOPHER_ORACLE,
    description="Gopher/C4 repetition filters (top-unigram/bigram "
                "fraction, duplicated trigrams, mean token length) as "
                "zero-shuffle HOF projections",
    tags=("pipeline", "text", "quality"),
)
def q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import gopher_quality

    return gopher_quality(load(spark, sf_dir, "documents")).select(
        "doc_id", "top_unigram_frac", "top_bigram_frac",
        "dup_trigram_frac", "mean_token_len", "gopher_keep")


# ----------------------------------------------------------------------
# PII detection + redaction: the pre-release scrubbing pass. The
# corpus carries no natural PII, so every 5th document gets a
# deterministic injected contact line (same || concat on both
# engines); counts and the redacted-text md5 are then value-exact.
# ----------------------------------------------------------------------

_PII_INJECT = (
    "text || ' contact user' || doc_id || '@mail.example.com ip 10.'"
    " || (doc_id % 200) || '.3.' || (doc_id % 250) || ' tel 555-'"
    " || lpad(CAST(doc_id % 1000 AS {str_t}), 3, '0') || '-0199'"
)


def _pii_oracle() -> str:
    from xsarsea_spark.pipeline.text import PII_PATTERNS

    inject = _PII_INJECT.format(str_t="VARCHAR")
    e, i, p = (PII_PATTERNS[k].replace("'", "''")
               for k in ("email", "ipv4", "phone"))
    return f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN {inject} ELSE text END AS tx
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(tx, '{e}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(tx, '{i}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(tx, '{p}')) AS BIGINT) AS n_phone,
  (len(regexp_extract_all(tx, '{e}'))
   + len(regexp_extract_all(tx, '{i}'))
   + len(regexp_extract_all(tx, '{p}'))) > 0 AS has_pii,
  md5(regexp_replace(regexp_replace(regexp_replace(tx,
    '{e}', '<EMAIL>', 'g'), '{i}', '<IP>', 'g'),
    '{p}', '<PHONE>', 'g')) AS redacted_md5
FROM t
"""


@spec(
    "doc_pii_redact",
    _pii_oracle(),
    description="PII detection + redaction (emails / IPv4 / phone "
                "numbers in the RE2-and-Java-safe regex subset): "
                "per-doc match counts, has_pii flag, redacted-text "
                "md5 — zero-exchange JVM regexp projections, "
                "value-exact vs the DuckDB re-derivation",
    tags=("pipeline", "text", "quality"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import pii_signals

    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CASE WHEN doc_id % 5 = 0 THEN"
        f" {_PII_INJECT.format(str_t='STRING')}"
        f" ELSE text END AS text",
    )
    return pii_signals(docs).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "has_pii",
        F.md5("redacted").alias("redacted_md5"))


# ----------------------------------------------------------------------
# Cross-document n-gram duplication (boilerplate / contamination
# signal): hash-only shuffle stream, two exchanges on the gram hash.
# ----------------------------------------------------------------------

_XD_N = 8

_XDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(l) - {_XD_N} + 2),
      i -> {_H40_DUCK.format(
          x=f"array_to_string(l[i:i + {_XD_N} - 1], ' ')")}))
      AS h
  FROM t WHERE len(l) >= {_XD_N}),
d AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h)
SELECT doc_id, COUNT(*) AS n_grams,
  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_shared_grams,
  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    / CAST(COUNT(*) AS DOUBLE) AS shared_frac
FROM g JOIN d USING (h)
GROUP BY doc_id
"""


@spec(
    "doc_ngram_crossdup",
    _XDUP_ORACLE,
    description="Cross-document 8-gram duplication fraction "
                "(C4/RefinedWeb boilerplate signal): 40-bit gram "
                "hashes only on the wire, two hash-key shuffles",
    tags=("pipeline", "dedup", "text"),
)
def q_ngram_crossdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import crossdoc_ngram_dup

    return crossdoc_ngram_dup(load(spark, sf_dir, "documents"),
                              n=_XD_N)


# ----------------------------------------------------------------------
# Reproducible global shuffle + sharding — the "shuffle the corpus
# and cut it into N training shards" op every training run performs:
# the permutation is the md5-of-id order (deterministic, seedless,
# uniform), the global position comes from the two-pass distributed
# global_rank (no corpus-wide window), and shards are round-robin by
# position (balanced to within one doc by construction). Per-doc
# (shard, offset) assignments are value-exact vs the oracle's
# ROW_NUMBER replay.
# ----------------------------------------------------------------------

_SHARD_N = 8

_SHARD_ORACLE = f"""
WITH r AS (
  SELECT doc_id, ROW_NUMBER() OVER (
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
SELECT doc_id,
  CAST((rk - 1) % {_SHARD_N} AS BIGINT) AS shard,
  CAST((rk - 1) // {_SHARD_N} AS BIGINT) AS offset
FROM r
"""


@spec(
    "doc_shard_assignment",
    _SHARD_ORACLE,
    description="Reproducible global shuffle into N balanced training "
                "shards: md5-of-id permutation ranked by the two-pass "
                "distributed global_rank (no corpus-wide window), "
                "round-robin shard + offset per document",
    tags=("pipeline", "sampling", "layout"),
)
def q_doc_shard_assignment(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("__pr"))
    r = global_rank(
        docs, [F.col("__pr").asc(), F.col("doc_id").asc()],
        rank_col="__rk")
    return r.select(
        "doc_id",
        F.expr(f"CAST((__rk - 1) % {_SHARD_N} AS BIGINT)")
        .alias("shard"),
        F.expr(f"CAST((__rk - 1) div {_SHARD_N} AS BIGINT)")
        .alias("offset"),
    )


# ----------------------------------------------------------------------
# Distributed logistic-regression quality classifier — the trainable
# curation filter (fastText/DCLM linear core) as full-batch GD: one
# map-side-combined keyless aggregation per round (d DECIMAL-grid
# gradient sums, no explode, no shuffle), driver state = the d-double
# weight vector (train_pq centroid precedent). The only libm call
# (exp in the sigmoid) sits behind the QTRUNC barrier; everything
# else is exact integer/division arithmetic, so the oracle's
# chained-CTE replay of every round matches weights, predictions AND
# accuracy value-exactly.
# ----------------------------------------------------------------------

_LOGREG_ROUNDS, _LOGREG_LR = 8, 1.0
_LOGREG_QK, _LOGREG_SCALE = 12, 12


def _logreg_train_ctes(train_where: str = "TRUE",
                       round_wheres: list | None = None
                       ) -> tuple[list, str]:
    """(CTE parts ``t`` .. ``w{R}``, the w·x fold expression): the
    chained-CTE replay of the full training loop, with ``t`` holding
    features for ALL docs and each gradient round restricted to
    ``train_where`` — so score/eval queries can apply the trained
    weights to the complement (held-out) slice from the same ``t``.
    ``round_wheres`` (one predicate PER ROUND) replaces the uniform
    ``train_where`` for SGD-style replays where each step sees a
    different arrival slice; R = len(round_wheres) then."""
    from xsarsea_spark.pipeline.classifier import (LABEL_MIN_CHARS,
                                                   N_FEATURES)
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    nf = N_FEATURES
    ntok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    parts = [
        f"t AS (SELECT doc_id, lang,"
        f" [CAST(1.0 AS DOUBLE),"
        f" {ntok} / CAST(100.0 AS DOUBLE),"
        f" CAST(len(list_distinct(string_split(text, ' ')))"
        f" AS DOUBLE) / {ntok},"
        f" CAST(len(list_filter(string_split(text, ' '),"
        f" x -> x = 'a' OR x = 'the')) AS DOUBLE) / {ntok},"
        f" CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE)] AS x,"
        f" CASE WHEN n_chars >= {LABEL_MIN_CHARS}"
        f" THEN CAST(1.0 AS DOUBLE)"
        f" ELSE CAST(0.0 AS DOUBLE) END AS y"
        f" FROM documents"
        f" WHERE text IS NOT NULL AND n_chars IS NOT NULL)",
        "w0 AS (SELECT ["
        + ", ".join("CAST(0.0 AS DOUBLE)" for _ in range(nf))
        + "] AS w)",
    ]
    zfold = (f"list_reduce(list_transform(range(1, {nf + 1}),"
             f" i -> w[i] * x[i]), (a, b) -> a + b)")
    wheres = (round_wheres if round_wheres is not None
              else [train_where] * _LOGREG_ROUNDS)
    for r, rw in enumerate(wheres):
        p = QTRUNC(
            f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
            f" + exp(-(z)))", _LOGREG_QK)
        gdims = ", ".join(
            DSUM(QTRUNC(f"(({p}) - y) * x[{d + 1}]", _LOGREG_SCALE),
                 _LOGREG_SCALE)
            + " / COUNT(*)"
            for d in range(nf))
        # MATERIALIZED: DuckDB inlines plain CTEs at every reference;
        # w{r} is referenced twice per round, so an 8-round plain-CTE
        # ladder expands exponentially (repo landmine, suffix-array
        # oracle precedent)
        parts.append(
            f"z{r} AS MATERIALIZED"
            f" (SELECT x, y, {zfold} AS z FROM t, w{r}"
            f" WHERE {rw})")
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT [{gdims}] AS g FROM z{r})")
        parts.append(
            f"w{r + 1} AS MATERIALIZED"
            f" (SELECT list_transform(range(1, {nf + 1}),"
            f" i -> w[i] - CAST({_LOGREG_LR!r} AS DOUBLE) * (g[i]))"
            f" AS w FROM w{r}, g{r})")
    return parts, zfold


def _logreg_oracle() -> str:
    from xsarsea_spark.pipeline.classifier import N_FEATURES

    nf = N_FEATURES
    parts, zfold = _logreg_train_ctes()
    rf = _LOGREG_ROUNDS
    parts += [
        f"zf AS (SELECT y, {zfold} AS z FROM t, w{rf})",
        "acc AS (SELECT CAST(SUM(CASE WHEN (z >= CAST(0.0 AS DOUBLE))"
        " = (y = CAST(1.0 AS DOUBLE)) THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_correct, COUNT(*) AS n FROM zf)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT CAST(i AS BIGINT) AS feature, w[i] AS weight,
  acc.n_correct, acc.n,
  CAST(acc.n_correct AS DOUBLE) / CAST(acc.n AS DOUBLE) AS accuracy
FROM w{rf}, acc, (SELECT unnest(range(1, {nf + 1})) AS i)""")


@spec(
    "doc_quality_classifier",
    _logreg_oracle(),
    description="Trainable quality classifier: full-batch logistic "
                "regression, one map-side-combined gradient agg per "
                "round, QTRUNC sigmoid barrier, exact DECIMAL-grid "
                "gradient sums — weights and training accuracy "
                "value-exact vs a chained-CTE replay of every round",
    tags=("pipeline", "text", "quality", "iterative"),
)
def q_doc_quality_classifier(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.classifier import (N_FEATURES,
                                                   doc_features,
                                                   train_logreg,
                                                   z_expr)

    docs = load(spark, sf_dir, "documents")
    xy = doc_features(docs)
    w = train_logreg(xy, rounds=_LOGREG_ROUNDS, lr=_LOGREG_LR,
                     qk=_LOGREG_QK, scale=_LOGREG_SCALE)
    acc = xy.select("y", F.expr(z_expr(w)).alias("z")).agg(
        F.expr("CAST(SUM(CASE WHEN (z >= CAST(0.0 AS DOUBLE))"
               " = (y = CAST(1.0 AS DOUBLE)) THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_correct"),
        F.count(F.lit(1)).alias("n"),
    )
    wdf = spark.createDataFrame(
        [(d + 1, w[d]) for d in range(N_FEATURES)],
        "feature bigint, weight double")
    return (
        wdf.crossJoin(F.broadcast(acc))
        .withColumn("accuracy",
                    F.expr("CAST(n_correct AS DOUBLE)"
                           " / CAST(n AS DOUBLE)"))
    )


# ----------------------------------------------------------------------
# Classifier deploy half: train on the historical slice (doc_id%4!=0),
# persist the weight vector to a parquet artifact, reload it, and
# score the incoming batch (doc_id%4=0) in ONE O(batch) scan — no
# training jobs in the batch path, the production train-once/
# score-everywhere lifecycle (BPE artifact precedent). Parquet
# doubles round-trip bit-exactly, so the oracle's full train+score
# replay can only match if the saved artifact IS the model.
# ----------------------------------------------------------------------

_CLF_TRAIN_WHERE = "doc_id % 4 != 0"
_CLF_BATCH_WHERE = "doc_id % 4 = 0"


def _clf_score_oracle() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    parts, zfold = _logreg_train_ctes(_CLF_TRAIN_WHERE)
    rf = _LOGREG_ROUNDS
    parts.append(
        f"sb AS (SELECT doc_id, {zfold} AS score FROM t, w{rf}"
        f" WHERE {_CLF_BATCH_WHERE})")
    prob = QTRUNC(
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-(score)))", _LOGREG_QK)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT doc_id, score, {prob} AS prob,
  score >= CAST(0.0 AS DOUBLE) AS keep
FROM sb""")


@spec(
    "doc_classifier_score",
    _clf_score_oracle(),
    description="Classifier artifact round trip: train on the "
                "historical slice -> persist weights to parquet -> "
                "reload -> score the new batch in one O(batch) scan "
                "(no training jobs in the batch path) — scores, "
                "probabilities and keep decisions value-identical to "
                "the oracle's full train+score replay",
    tags=("pipeline", "text", "quality", "iterative"),
)
def q_doc_classifier_score(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    import hashlib

    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   load_weights,
                                                   save_weights,
                                                   score_docs,
                                                   train_logreg)

    docs = load(spark, sf_dir, "documents")
    xy = doc_features(docs)
    w = train_logreg(xy.filter(_CLF_TRAIN_WHERE),
                     rounds=_LOGREG_ROUNDS, lr=_LOGREG_LR,
                     qk=_LOGREG_QK, scale=_LOGREG_SCALE)
    path = scratch_path(spark, "clf_weights", sf_dir)
    save_weights(spark, w, path)
    return score_docs(xy.filter(_CLF_BATCH_WHERE),
                      load_weights(spark, path), qk=_LOGREG_QK)


# ----------------------------------------------------------------------
# Exact held-out ROC-AUC for the trained classifier — the eval a
# quality-filter deployment gates on. AUC is the Mann-Whitney rank
# statistic; with ties handled by score-group midpoints it reduces
# to pure integers: group the held-out docs by score, running-count
# the negatives below each group (global_rank's exact distributed
# running_sums — no corpus-wide window), then
#     2U  = SUM(np_g * (2 * cumneg_below_g + nn_g))
#     AUC = 2U / (2.0 * n_pos * n_neg)
# Everything up to the single final division is BIGINT arithmetic —
# order-independent, and exact while the eval slice has < 2^62
# pos x neg PAIRS (~2.1e9 positives x 2.1e9 negatives; a larger
# corpus samples or shards its eval slice, so the bound is an eval-
# design constraint, not a corpus one). The denominator multiplies
# in DOUBLE so it can never wrap int64 silently.
# ----------------------------------------------------------------------


def _clf_auc_oracle() -> str:
    parts, zfold = _logreg_train_ctes(_CLF_TRAIN_WHERE)
    rf = _LOGREG_ROUNDS
    parts += [
        f"h AS (SELECT y, {zfold} AS z FROM t, w{rf}"
        f" WHERE {_CLF_BATCH_WHERE})",
        "g AS (SELECT z,"
        " CAST(SUM(CASE WHEN y = CAST(1.0 AS DOUBLE)"
        " THEN 1 ELSE 0 END) AS BIGINT) AS np,"
        " CAST(SUM(CASE WHEN y = CAST(1.0 AS DOUBLE)"
        " THEN 0 ELSE 1 END) AS BIGINT) AS nn"
        " FROM h GROUP BY z)",
        "c AS (SELECT np, nn,"
        " CAST(SUM(nn) OVER (ORDER BY z ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM g)",
        "s AS (SELECT"
        " CAST(SUM(np * (2 * (cum - nn) + nn)) AS BIGINT) AS u2,"
        " CAST(SUM(np) AS BIGINT) AS n_pos,"
        " CAST(SUM(nn) AS BIGINT) AS n_neg FROM c)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT n_pos, n_neg, u2,
  CAST(u2 AS DOUBLE) / (CAST(2.0 AS DOUBLE)
    * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
FROM s""")


@spec(
    "doc_classifier_auc",
    _clf_auc_oracle(),
    description="Exact held-out ROC-AUC via the Mann-Whitney rank "
                "statistic with tie midpoints: score-group counts + "
                "global_rank's distributed exact running sum of "
                "negatives-below — all-BIGINT numerator, one final "
                "double division, no corpus-wide window",
    tags=("pipeline", "text", "quality", "iterative"),
)
def q_doc_classifier_auc(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg,
                                                   z_expr)

    docs = load(spark, sf_dir, "documents")
    xy = doc_features(docs)
    w = train_logreg(xy.filter(_CLF_TRAIN_WHERE),
                     rounds=_LOGREG_ROUNDS, lr=_LOGREG_LR,
                     qk=_LOGREG_QK, scale=_LOGREG_SCALE)
    h = (xy.filter(_CLF_BATCH_WHERE)
         .select("y", F.expr(z_expr(w)).alias("z")))
    g = h.groupBy("z").agg(
        F.expr("CAST(SUM(CASE WHEN y = CAST(1.0 AS DOUBLE)"
               " THEN 1 ELSE 0 END) AS BIGINT)").alias("np"),
        F.expr("CAST(SUM(CASE WHEN y = CAST(1.0 AS DOUBLE)"
               " THEN 0 ELSE 1 END) AS BIGINT)").alias("nn"))
    # scores are grouped (unique), so z is a valid total order; the
    # running negative count distributes two-pass, BIGINT-exact
    c = global_rank(g, [F.col("z").asc()], rank_col="__zr",
                    running_sums={"cum": "nn"})
    s = c.agg(
        F.expr("CAST(SUM(np * (2 * (cum - nn) + nn)) AS BIGINT)")
        .alias("u2"),
        F.expr("CAST(SUM(np) AS BIGINT)").alias("n_pos"),
        F.expr("CAST(SUM(nn) AS BIGINT)").alias("n_neg"))
    return s.selectExpr(
        "n_pos", "n_neg", "u2",
        "CAST(u2 AS DOUBLE) / (CAST(2.0 AS DOUBLE)"
        " * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc")


# ----------------------------------------------------------------------
# Calibration (reliability) report for the deployed classifier —
# fixed-decile probability bins over the held-out slice: per bin the
# doc count, positive count, mean predicted probability (exact
# DECIMAL sum of the 1e-12-grid QTRUNC'd sigmoid) and empirical
# positive rate, plus the bin's |gap| (the per-bin term an expected-
# calibration-error roll-up weights by n/N). One hash agg over <= 10
# keys; probabilities are on the QTRUNC grid, so floor(prob*10)
# binning is engine-exact.
# ----------------------------------------------------------------------


def _clf_prob_sql() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    return QTRUNC(
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-(z)))", _LOGREG_QK)


def _clf_calibration_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM

    parts, zfold = _logreg_train_ctes(_CLF_TRAIN_WHERE)
    rf = _LOGREG_ROUNDS
    parts += [
        f"h AS (SELECT y, {zfold} AS z FROM t, w{rf}"
        f" WHERE {_CLF_BATCH_WHERE})",
        f"pr AS (SELECT y, {_clf_prob_sql()} AS prob FROM h)",
        "g AS (SELECT CAST(floor(prob * CAST(10.0 AS DOUBLE))"
        " AS INT) AS bin,"
        " CAST(COUNT(*) AS BIGINT) AS n,"
        " CAST(SUM(CASE WHEN y = CAST(1.0 AS DOUBLE)"
        " THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,"
        f" {DSUM('prob', 12)} AS sp"
        " FROM pr GROUP BY 1)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT bin, n, n_pos,
  sp / CAST(n AS DOUBLE) AS mean_prob,
  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
  abs(sp / CAST(n AS DOUBLE)
      - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
FROM g""")


@spec(
    "doc_classifier_calibration",
    _clf_calibration_oracle(),
    description="Classifier reliability report: decile bins of the "
                "QTRUNC-grid predicted probability on the held-out "
                "slice, per-bin exact counts + DECIMAL-sum mean "
                "probability vs empirical positive rate and the "
                "|gap| ECE term — one hash agg over <= 10 keys",
    tags=("pipeline", "text", "quality", "iterative"),
)
def q_doc_classifier_calibration(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg,
                                                   z_expr)
    from xsarsea_spark.suite.base import DSUM

    docs = load(spark, sf_dir, "documents")
    xy = doc_features(docs)
    w = train_logreg(xy.filter(_CLF_TRAIN_WHERE),
                     rounds=_LOGREG_ROUNDS, lr=_LOGREG_LR,
                     qk=_LOGREG_QK, scale=_LOGREG_SCALE)
    pr = (xy.filter(_CLF_BATCH_WHERE)
          .select("y", F.expr(z_expr(w)).alias("z"))
          .selectExpr("y", _clf_prob_sql() + " AS prob"))
    g = pr.groupBy(
        F.expr("CAST(floor(prob * CAST(10.0 AS DOUBLE)) AS INT)")
        .alias("bin")
    ).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(CASE WHEN y = CAST(1.0 AS DOUBLE)"
               " THEN 1 ELSE 0 END) AS BIGINT)").alias("n_pos"),
        F.expr(DSUM("prob", 12)).alias("sp"))
    return g.selectExpr(
        "bin", "n", "n_pos",
        "sp / CAST(n AS DOUBLE) AS mean_prob",
        "CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos",
        "abs(sp / CAST(n AS DOUBLE)"
        " - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap")


# ----------------------------------------------------------------------
# Classifier-driven data selection — what the trained filter is FOR:
# score the whole corpus, keep the top quartile by predicted quality
# (exact NTILE over the unique (score desc, doc_id) order via the
# distributed two-pass rank — no corpus-wide window), and report the
# per-source keep rate the mixture owner reads to see which sources
# the model up/down-weights. Scores are pure-IEEE dot products and
# the quartile cut is integer NTILE arithmetic, so membership is
# engine-exact; the kept-slice mean probability rides the QTRUNC
# grid + DECIMAL sums.
# ----------------------------------------------------------------------


def _clf_select_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM

    parts, zfold = _logreg_train_ctes(_CLF_TRAIN_WHERE)
    rf = _LOGREG_ROUNDS
    parts += [
        f"sc AS (SELECT doc_id, {zfold} AS z FROM t, w{rf})",
        f"pp AS (SELECT doc_id, z,"
        f" {_clf_prob_sql()} AS prob FROM sc)",
        "qt AS (SELECT doc_id, prob,"
        " NTILE(4) OVER (ORDER BY z DESC, doc_id) AS q FROM pp)",
        "j AS (SELECT d.source, qt.prob, qt.q = 1 AS kept"
        " FROM qt JOIN documents d ON d.doc_id = qt.doc_id)",
        "g AS (SELECT source,"
        " CAST(COUNT(*) AS BIGINT) AS n_docs,"
        " CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_kept,"
        f" {DSUM('CASE WHEN kept THEN prob ELSE NULL END', 12)} AS sp"
        " FROM j GROUP BY source)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT source, n_docs, n_kept,
  CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate,
  sp / CAST(n_kept AS DOUBLE) AS mean_prob_kept
FROM g""")


@spec(
    "doc_classifier_select",
    _clf_select_oracle(),
    description="Classifier-driven corpus selection: top quartile by "
                "predicted quality via exact distributed NTILE over "
                "the unique (score desc, doc_id) order, rolled up to "
                "per-source keep rates and kept-slice mean "
                "probability — the DCLM-style model-filtered "
                "curation cut",
    tags=("pipeline", "text", "quality", "curation", "iterative"),
)
def q_doc_classifier_select(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import ntile_distributed
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg,
                                                   z_expr)
    from xsarsea_spark.suite.base import DSUM

    docs = load(spark, sf_dir, "documents")
    xy = doc_features(docs)
    w = train_logreg(xy.filter(_CLF_TRAIN_WHERE),
                     rounds=_LOGREG_ROUNDS, lr=_LOGREG_LR,
                     qk=_LOGREG_QK, scale=_LOGREG_SCALE)
    pp = (xy.select("doc_id", F.expr(z_expr(w)).alias("z"))
          .selectExpr("doc_id", "z", _clf_prob_sql() + " AS prob"))
    qt = ntile_distributed(
        pp, 4, [F.col("z").desc(), F.col("doc_id").asc()],
        bin_col="q")
    j = qt.selectExpr("doc_id", "prob", "q = 1 AS kept").join(
        docs.select("doc_id", "source"), on="doc_id")
    g = j.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_kept"),
        F.expr(DSUM("CASE WHEN kept THEN prob ELSE NULL END", 12))
        .alias("sp"))
    return g.selectExpr(
        "source", "n_docs", "n_kept",
        "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)"
        " AS keep_rate",
        "sp / CAST(n_kept AS DOUBLE) AS mean_prob_kept")


# ----------------------------------------------------------------------
# Per-language classifier fleet — one model PER GROUP trained in
# SHARED corpus scans: each round is a single grouped map-side-
# combined aggregation carrying every language's d DECIMAL-grid
# gradient sums at once, with the round's weight state a broadcast
# (lang, w) table joined back onto the cached features. |groups| * d
# doubles of driver state; never one pass per model. The oracle
# replays the identical ladder with GROUP BY lang and reports each
# language's weights + held-out accuracy.
# ----------------------------------------------------------------------


def _clf_perlang_oracle() -> str:
    from xsarsea_spark.pipeline.classifier import N_FEATURES
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    nf = N_FEATURES
    base, zfold = _logreg_train_ctes(_CLF_TRAIN_WHERE)
    parts = [
        base[0],  # the shared feature CTE `t`
        f"v0 AS (SELECT DISTINCT lang, ["
        + ", ".join("CAST(0.0 AS DOUBLE)" for _ in range(nf))
        + f"] AS w FROM t WHERE ({_CLF_TRAIN_WHERE})"
        f" AND lang IS NOT NULL)",
    ]
    for r in range(_LOGREG_ROUNDS):
        p = QTRUNC(
            f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
            f" + exp(-(z)))", _LOGREG_QK)
        gdims = ", ".join(
            DSUM(QTRUNC(f"(({p}) - y) * x[{d + 1}]", _LOGREG_SCALE),
                 _LOGREG_SCALE)
            + " / COUNT(*)"
            for d in range(nf))
        parts.append(
            f"z{r} AS MATERIALIZED (SELECT lang, x, y, {zfold} AS z"
            f" FROM t JOIN v{r} USING (lang)"
            f" WHERE {_CLF_TRAIN_WHERE})")
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT lang, [{gdims}] AS g"
            f" FROM z{r} GROUP BY lang)")
        parts.append(
            f"v{r + 1} AS MATERIALIZED"
            f" (SELECT lang, list_transform(range(1, {nf + 1}),"
            f" i -> w[i] - CAST({_LOGREG_LR!r} AS DOUBLE) * (g[i]))"
            f" AS w FROM v{r} JOIN g{r} USING (lang))")
    rf = _LOGREG_ROUNDS
    parts += [
        f"zf AS (SELECT lang, y, {zfold} AS z FROM t"
        f" JOIN v{rf} USING (lang) WHERE {_CLF_BATCH_WHERE})",
        "acc AS (SELECT lang,"
        " CAST(SUM(CASE WHEN (z >= CAST(0.0 AS DOUBLE))"
        " = (y = CAST(1.0 AS DOUBLE)) THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_correct, COUNT(*) AS n FROM zf GROUP BY lang)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT v.lang, CAST(i AS BIGINT) AS feature, v.w[i] AS weight,
  acc.n_correct, acc.n,
  CAST(acc.n_correct AS DOUBLE) / CAST(acc.n AS DOUBLE) AS accuracy
FROM v{rf} v JOIN acc ON acc.lang = v.lang
CROSS JOIN (SELECT unnest(range(1, {nf + 1})) AS i)""")


@spec(
    "doc_classifier_perlang",
    _clf_perlang_oracle(),
    description="Per-language classifier fleet trained in shared "
                "corpus scans: one grouped gradient aggregation per "
                "round carries every language's DECIMAL-grid sums, "
                "broadcast (lang, w) state joined back each round — "
                "per-language weights and held-out accuracy "
                "value-exact vs the GROUP BY chained-CTE replay",
    tags=("pipeline", "text", "quality", "iterative"),
)
def q_doc_classifier_perlang(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.classifier import (GROUPED_Z_SQL,
                                                   N_FEATURES,
                                                   doc_features,
                                                   train_logreg_grouped)

    docs = load(spark, sf_dir, "documents")
    xy = doc_features(docs, extra=("lang",))
    wmap = train_logreg_grouped(
        xy.filter(_CLF_TRAIN_WHERE), "lang",
        rounds=_LOGREG_ROUNDS, lr=_LOGREG_LR,
        qk=_LOGREG_QK, scale=_LOGREG_SCALE)
    groups = sorted(wmap)
    wdf = spark.createDataFrame(
        [(g, wmap[g]) for g in groups],
        "lang string, w array<double>")
    h = (xy.filter(_CLF_BATCH_WHERE)
         .join(F.broadcast(wdf), "lang")
         .selectExpr("lang", "y", GROUPED_Z_SQL + " AS z"))
    acc = h.groupBy("lang").agg(
        F.expr("CAST(SUM(CASE WHEN (z >= CAST(0.0 AS DOUBLE))"
               " = (y = CAST(1.0 AS DOUBLE)) THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_correct"),
        F.count(F.lit(1)).alias("n"))
    weights = spark.createDataFrame(
        [(g, d + 1, wmap[g][d])
         for g in groups for d in range(N_FEATURES)],
        "lang string, feature bigint, weight double")
    return (weights.join(acc, "lang")
            .withColumn("accuracy",
                        F.expr("CAST(n_correct AS DOUBLE)"
                               " / CAST(n AS DOUBLE)")))


# ----------------------------------------------------------------------
# STREAMING SGD classifier ingest — continual training as data
# arrives: each file arrival becomes one foreachBatch micro-batch
# that takes ONE exact gradient step (gd_step: a single map-side-
# combined O(batch) aggregation) from the latest persisted weight
# version STRICTLY BELOW its batch id, then persists v{batch_id} —
# so a crash-replay of batch N rebuilds v{N} from v{N-1} + its own
# rows, never compounding, and the checkpoint pins the batch order
# that SGD (order-dependent, unlike the drift gate's int64 moments)
# needs for determinism. A fourth no-new-files run proves the
# exactly-once no-op. The oracle replays the three arrival-slice
# steps as chained CTEs and the full-corpus accuracy of the final
# weights.
# ----------------------------------------------------------------------

_SGD_ARRIVALS = 3


def _stream_sgd_oracle() -> str:
    from xsarsea_spark.pipeline.classifier import N_FEATURES

    nf = N_FEATURES
    wheres = [f"doc_id % {_SGD_ARRIVALS} = {k}"
              for k in range(_SGD_ARRIVALS)]
    parts, zfold = _logreg_train_ctes(round_wheres=wheres)
    rf = _SGD_ARRIVALS
    parts += [
        f"zf AS (SELECT y, {zfold} AS z FROM t, w{rf})",
        "acc AS (SELECT CAST(SUM(CASE WHEN (z >= CAST(0.0 AS DOUBLE))"
        " = (y = CAST(1.0 AS DOUBLE)) THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_correct, COUNT(*) AS n FROM zf)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT CAST(i AS BIGINT) AS feature, w[i] AS weight,
  acc.n_correct, acc.n,
  CAST(acc.n_correct AS DOUBLE) / CAST(acc.n AS DOUBLE) AS accuracy
FROM w{rf}, acc, (SELECT unnest(range(1, {nf + 1})) AS i)""")


@spec(
    "stream_classifier_train",
    _stream_sgd_oracle(),
    description="Structured-Streaming SGD ingest: one exact gradient "
                "step per file-arrival micro-batch, versioned weight "
                "state rebuilt from strictly-below versions (crash-"
                "replay safe), checkpoint-pinned batch order, no-op "
                "on replay — final weights + full-corpus accuracy "
                "value-exact vs the chained-CTE arrival replay",
    tags=("pipeline", "text", "quality", "streaming", "incremental"),
)
def q_stream_classifier_train(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.pipeline.classifier import (N_FEATURES,
                                                   doc_features,
                                                   gd_step,
                                                   z_expr)

    base = scratch_path(spark, "stream_clf", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    watch = os.path.join(base, "incoming")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(watch)

    docs = load(spark, sf_dir, "documents")
    # stage the arrival slices OUTSIDE the watched directory in ONE
    # corpus pass; partitionBy drops the column from the data files,
    # so each __a={k} directory holds exactly arrival k's rows
    (docs.withColumn("__a", F.expr(f"doc_id % {_SGD_ARRIVALS}"))
     .repartition(_SGD_ARRIVALS, "__a")
     .write.partitionBy("__a")
     .parquet(os.path.join(base, "arrivals")))
    schema = spark.read.parquet(
        f"{sf_dir}/documents.parquet").schema

    def step(df: DataFrame, batch_id: int) -> None:
        prev = version_below(spark, state, batch_id)
        w = list(load_kv_json(spark, prev)) if prev else [0.0] * N_FEATURES
        w2 = gd_step(doc_features(df), w, lr=_LOGREG_LR,
                     qk=_LOGREG_QK, scale=_LOGREG_SCALE)
        save_kv_json(spark, w2, os.path.join(state, f"v{batch_id}"))

    src = spark.readStream.schema(schema).parquet(watch)
    for k in range(_SGD_ARRIVALS):
        stage_arrival(os.path.join(base, "arrivals", f"__a={k}"),
                      watch, f"a{k}")
        run_available_now(src, step, ckpt)
    run_available_now(src, step, ckpt)   # no new files: no-op

    w = list(load_kv_json(
        spark, latest_version(spark, state, expect=_SGD_ARRIVALS)))
    acc = (doc_features(docs)
           .select("y", F.expr(z_expr(w)).alias("z"))
           .agg(F.expr("CAST(SUM(CASE WHEN (z >= CAST(0.0 AS"
                       " DOUBLE)) = (y = CAST(1.0 AS DOUBLE))"
                       " THEN 1 ELSE 0 END) AS BIGINT)")
                .alias("n_correct"),
                F.count(F.lit(1)).alias("n")))
    wdf = spark.createDataFrame(
        [(d + 1, w[d]) for d in range(N_FEATURES)],
        "feature bigint, weight double")
    return (wdf.crossJoin(F.broadcast(acc))
            .withColumn("accuracy",
                        F.expr("CAST(n_correct AS DOUBLE)"
                               " / CAST(n AS DOUBLE)")))


# ----------------------------------------------------------------------
# Winnowing fingerprints (the MOSS algorithm): per-doc sliding-window
# rightmost-min selection over k-gram hashes — the bounded-density
# fingerprint index that still catches every match of length
# >= w + k - 1. The rightmost tie-break is encoded into a unique
# integer key (h * B + (B - 1 - p)), so both engines decode the
# selected (pos, hash) from the same window MIN — no argmin-by-tuple
# semantics to align. Per-doc frames only, never corpus-wide.
# ----------------------------------------------------------------------

_WIN_K, _WIN_W, _WIN_B = 5, 4, 1 << 20

_WINNOW_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents),
g AS (SELECT doc_id, l, unnest(range(0, len(l) - {_WIN_K} + 1)) AS p
      FROM t WHERE len(l) >= {_WIN_K} AND len(l) < {_WIN_B}),
kx AS (SELECT doc_id, p,
         ({_H40_DUCK.format(
             x=f"array_to_string(l[p + 1:p + {_WIN_K}], ' ')")})
           * {_WIN_B} + ({_WIN_B} - 1 - p) AS key
       FROM g),
wm AS (SELECT doc_id, p,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS fp
       FROM kx)
SELECT DISTINCT doc_id,
  CAST({_WIN_B} - 1 - (fp % {_WIN_B}) AS BIGINT) AS pos,
  fp // {_WIN_B} AS fp_hash
FROM wm WHERE p >= {_WIN_W - 1}
"""


@spec(
    "doc_winnowing",
    _WINNOW_ORACLE,
    description="Winnowing (MOSS) fingerprints: rightmost-min of "
                "k-gram hashes per w-window via a unique packed "
                "integer key, decoded identically in both engines — "
                "the bounded-density dedup index, per-doc frames only",
    tags=("pipeline", "dedup", "text"),
)
def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import winnow_fingerprints

    return winnow_fingerprints(load(spark, sf_dir, "documents"),
                               k=_WIN_K, w=_WIN_W)


# ----------------------------------------------------------------------
# Winnowing candidate pairs — the retrieval side of the MOSS index:
# documents sharing >= 2 selected fingerprints become candidate
# near-dup pairs, scored by shared-fingerprint count and the
# containment-style overlap ratio shared / min(|fpA|, |fpB|). The
# join key is the fingerprint hash (bucket sizes are bounded by the
# winnowing density guarantee — each doc contributes ~1/w of its
# grams), so pair generation is an equality bucket join over a table
# ~w times smaller than the full gram index, never all-pairs.
# ----------------------------------------------------------------------

_WN_MIN_SHARED = 2

_WINNOW_PAIRS_ORACLE = f"""
WITH fps AS ({_WINNOW_ORACLE.strip()}),
fp AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
n AS (SELECT doc_id, COUNT(*) AS nf FROM fp GROUP BY doc_id),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        COUNT(*) AS shared
      FROM fp a JOIN fp b ON b.fp_hash = a.fp_hash
                         AND b.doc_id > a.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {_WN_MIN_SHARED})
SELECT p.id_a, p.id_b, CAST(p.shared AS BIGINT) AS shared,
  CAST(na.nf AS BIGINT) AS nf_a, CAST(nb.nf AS BIGINT) AS nf_b,
  CAST(p.shared AS DOUBLE) / CAST(LEAST(na.nf, nb.nf) AS DOUBLE)
    AS overlap
FROM p JOIN n na ON na.doc_id = p.id_a
       JOIN n nb ON nb.doc_id = p.id_b
"""


@spec(
    "doc_winnow_neardup",
    _WINNOW_PAIRS_ORACLE,
    description="Winnowing candidate pairs: docs sharing >= 2 MOSS "
                "fingerprints, scored by shared count and "
                "shared/min(|fp|) overlap — bucket join over the "
                "1/w-density fingerprint index, never all-pairs",
    tags=("pipeline", "dedup", "text"),
)
def q_doc_winnow_neardup(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W) \
        .select("doc_id", "fp_hash").distinct()
    n = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a = fp.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp_hash")
    p = (a.join(b, on="fp_hash")
         .filter(F.col("id_b") > F.col("id_a"))
         .groupBy("id_a", "id_b")
         .agg(F.count(F.lit(1)).alias("shared"))
         .filter(F.col("shared") >= _WN_MIN_SHARED))
    na = n.select(F.col("doc_id").alias("id_a"),
                  F.col("nf").alias("nf_a"))
    nb = n.select(F.col("doc_id").alias("id_b"),
                  F.col("nf").alias("nf_b"))
    return (
        p.join(na, on="id_a").join(nb, on="id_b")
        .select(
            "id_a", "id_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("nf_a").cast("bigint").alias("nf_a"),
            F.col("nf_b").cast("bigint").alias("nf_b"),
            F.expr("CAST(shared AS DOUBLE)"
                   " / CAST(LEAST(nf_a, nf_b) AS DOUBLE)")
            .alias("overlap"),
        )
    )


# ----------------------------------------------------------------------
# Exact duplicated-span extraction (Lee et al. 2021 substring dedup):
# duplicated n-gram positions merged to maximal spans via
# gaps-and-islands — pos - row_number() is constant on consecutive
# runs, so one aggregation per (doc, run) yields the maximal spans.
# ----------------------------------------------------------------------

_SPAN_N = 8

_SPAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT doc_id, l, unnest(range(0, len(l) - {_SPAN_N} + 1)) AS p
  FROM t WHERE len(l) >= {_SPAN_N}),
gh AS (
  SELECT doc_id, p, {_H40_DUCK.format(
      x=f"array_to_string(l[p + 1:p + {_SPAN_N}], ' ')")} AS h
  FROM g),
d AS (SELECT h FROM gh GROUP BY h
      HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, p FROM gh JOIN d USING (h)),
isl AS (
  SELECT doc_id, p,
    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM hits)
SELECT doc_id,
  CAST(MIN(p) AS BIGINT) AS span_start,
  CAST(MAX(p) + {_SPAN_N} - 1 AS BIGINT) AS span_end,
  COUNT(*) AS n_dup_grams,
  CAST(MAX(p) + {_SPAN_N} - 1 - MIN(p) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


@spec(
    "doc_substring_dedup",
    _SPAN_ORACLE,
    description="Exact duplicated-span extraction (Lee et al. 2021 "
                "substring dedup, relational form): cross-document "
                "8-gram positions merged to maximal spans by "
                "gaps-and-islands; 40-bit hashes only on the wire, "
                "per-doc window state",
    tags=("pipeline", "dedup", "text"),
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import duplicate_spans

    return duplicate_spans(load(spark, sf_dir, "documents"),
                           n=_SPAN_N)


# ----------------------------------------------------------------------
# FULL Lee et al. maximal-match substring dedup: total-occurrence
# duplicated n-grams (within-document repeats count, unlike the
# cross-doc variant above) with interval-UNION span merging — hits
# whose extents [p, p+n-1] touch (start gap <= n) fuse into one
# maximal span, matching the positions a corpus suffix array would
# cut, where the consecutive-run islands of doc_substring_dedup can
# emit overlapping spans. Wire shape unchanged: hash-only shuffles,
# per-document merge windows.
# ----------------------------------------------------------------------

_SPANMAX_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT doc_id, l, unnest(range(0, len(l) - {_SPAN_N} + 1)) AS p
  FROM t WHERE len(l) >= {_SPAN_N}),
gh AS (
  SELECT doc_id, p, {_H40_DUCK.format(
      x=f"array_to_string(l[p + 1:p + {_SPAN_N}], ' ')")} AS h
  FROM g),
d AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, p FROM gh JOIN d USING (h)),
m AS (
  SELECT doc_id, p,
    CASE WHEN LAG(p) OVER w IS NULL
           OR p - LAG(p) OVER w > {_SPAN_N} THEN 1 ELSE 0 END
      AS new_span
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
grp AS (
  SELECT doc_id, p, SUM(new_span) OVER
    (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp
  FROM m)
SELECT doc_id,
  CAST(MIN(p) AS BIGINT) AS span_start,
  CAST(MAX(p) + {_SPAN_N} - 1 AS BIGINT) AS span_end,
  COUNT(*) AS n_dup_grams,
  CAST(MAX(p) + {_SPAN_N} - 1 - MIN(p) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, grp
"""


@spec(
    "doc_substring_dedup_maximal",
    _SPANMAX_ORACLE,
    description="Full Lee et al. maximal-match substring dedup: "
                "total-occurrence duplicated 8-grams (within-doc "
                "repeats included) merged by interval union — the "
                "exact positions a corpus suffix array would cut",
    tags=("pipeline", "dedup", "text"),
)
def q_substring_dedup_maximal(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import duplicate_spans_maximal

    return duplicate_spans_maximal(load(spark, sf_dir, "documents"),
                                   n=_SPAN_N)


# ----------------------------------------------------------------------
# SemDeDup-style embedding k-means (Lloyd's, deterministic): chained
# CTE oracle replicating every round bit-for-bit — min-id init,
# index-order distance folds, vec_id-order mean folds, lowest-cluster
# tie-break. Like graph_pagerank, the iterative numerics are fully
# oracle-checked, not rows-only.
# ----------------------------------------------------------------------

_KM_K, _KM_ROUNDS = 4, 3

_KM_DIST = (
    "list_reduce(list_transform(range(1, len(e) + 1),"
    " i -> (e[i] - cent[i]) * (e[i] - cent[i])), (a, b) -> a + b)"
)


_KM_SOURCE = ("SELECT vec_id,"
              " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
              " FROM embeddings")


def _kmeans_oracle(k: int, rounds: int,
                   source: str = _KM_SOURCE) -> str:
    parts = _kmeans_ctes(k, rounds, source)
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT vec_id, cluster, dist2 FROM a{rounds - 1}")


def _kmeans_ctes(k: int | str, rounds: int, source: str) -> list[str]:
    # k may be a SQL scalar expression (e.g. a COUNT(*) subquery for
    # sqrt(n)-sized SemDeDup clustering) — only the init LIMIT depends
    # on it; every later CTE is generic in the number of clusters.
    parts = [
        f"v AS ({source})",
        f"c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1"
        f" AS cluster, e AS cent FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for r in range(rounds):
        parts.append(
            f"a{r} AS ("
            f"SELECT v.vec_id, v.e, c.cluster, {_KM_DIST} AS dist2 "
            f"FROM v CROSS JOIN c{r} c "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id"
            f" ORDER BY {_KM_DIST}, c.cluster) = 1)"
        )
        if r < rounds - 1:
            parts.append(
                f"x{r} AS (SELECT cluster,"
                f" unnest(range(1, len(e) + 1)) AS d,"
                f" unnest(e) AS x FROM a{r})"
            )
            # order-independent DECIMAL mean — the oracle twin of the
            # exactsum centroid update (clustering.KM_SCALE grid)
            parts.append(
                f"m{r} AS (SELECT cluster, d,"
                f" CAST(SUM(CAST(x AS DECIMAL(38,{KM_SCALE}))) AS DOUBLE)"
                f" / COUNT(x) AS m"
                f" FROM x{r} GROUP BY cluster, d)"
            )
            parts.append(
                f"c{r + 1} AS (SELECT cluster,"
                f" list(m ORDER BY d) AS cent"
                f" FROM m{r} GROUP BY cluster)"
            )
    return parts


@spec(
    "embedding_kmeans",
    _kmeans_oracle(_KM_K, _KM_ROUNDS),
    description="Deterministic Lloyd's k-means over embeddings "
                "(SemDeDup pre-pass): min-id init, ordered folds, "
                "driver-held k x dim centroids — every round "
                "bit-exact vs a chained-CTE oracle",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.clustering import kmeans_embeddings

    return kmeans_embeddings(load(spark, sf_dir, "embeddings"),
                             k=_KM_K, rounds=_KM_ROUNDS)


# ----------------------------------------------------------------------
# Full SemDeDup composition (Abbas et al. 2023): k-means clusters ->
# all-pairs EXACT cosine only WITHIN each cluster -> drop every vector
# with a higher-similarity lower-id partner. The whole chain — the
# clone-injected corpus, every k-means round, and the pairwise cosine
# verdicts — is replicated in one chained-CTE oracle.
# ----------------------------------------------------------------------

# k balances the O(n*k) assignment against the O(n^2/k) pair stage:
# k = ceil(sqrt(n)) makes both n^1.5 — sub-quadratic by construction
# at any corpus size. Derived identically on both sides (a corpus
# count on the Spark side, a COUNT(*) subquery in the oracle's init
# LIMIT). The single-fold argmin assignment keeps codegen size
# constant in k, so sqrt-sized k no longer hits the unrolled-column
# JIT blowup that made large k assignment-bound in round 3.
_SD_K_MIN, _SD_ROUNDS, _SD_T = 4, 2, 0.95

_SD_K_SQL = ("(SELECT GREATEST({kmin}, CAST(ceil(sqrt(COUNT(*)))"
             " AS BIGINT)) FROM v)").format(kmin=_SD_K_MIN)


def _cnd_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone-injected embedding corpus (same construction/values as
    embedding_cosine_neardup's)."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
    pert = _CND_PERTURB.format(i0="i")
    clones = emb.filter(F.col("vec_id") % 7 == 0).selectExpr(
        "vec_id + 1000000 AS vec_id",
        f"zip_with(embedding, sequence(0, size(embedding) - 1),"
        f" (x, i) -> CAST(x AS DOUBLE) + {pert}) AS embedding",
    )
    return base.unionAll(clones)


def _semdedup_oracle() -> str:
    from xsarsea_spark.pipeline.dedup import dot_sql, norm_sql

    pert = _CND_PERTURB.format(i0="(i - 1)")
    corpus = [
        "base AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        "clones AS (SELECT vec_id + 1000000 AS vec_id,"
        " list_transform(range(1, len(embedding) + 1),"
        f" i -> CAST(embedding[i] AS DOUBLE) + {pert}) AS v"
        " FROM embeddings WHERE vec_id % 7 = 0)",
        "corpus AS (SELECT * FROM base UNION ALL SELECT * FROM clones)",
    ]
    km = _kmeans_ctes(_SD_K_SQL, _SD_ROUNDS,
                      "SELECT vec_id, v AS e FROM corpus")
    nrm = norm_sql(lambda i: f"v[{i}]", _CND_DIM)
    dot = dot_sql(lambda i: f"x.v[{i}]", lambda i: f"y.v[{i}]", _CND_DIM)
    tail = [
        f"asg AS (SELECT vec_id, cluster FROM a{_SD_ROUNDS - 1})",
        f"nrm AS (SELECT vec_id, v, {nrm} AS n FROM corpus)",
        f"""pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg a JOIN asg b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN nrm x ON x.vec_id = a.vec_id
  JOIN nrm y ON y.vec_id = b.vec_id
  WHERE {dot} / (x.n * y.n) >= {_SD_T})""",
        "removed AS (SELECT DISTINCT id_b FROM pairs)",
    ]
    return ("WITH " + ",\n".join(corpus + km + tail) + """
SELECT a.vec_id, a.cluster, r.id_b IS NOT NULL AS removed
FROM asg a LEFT JOIN removed r ON r.id_b = a.vec_id""")


@spec(
    "embedding_semdedup",
    _semdedup_oracle(),
    description="SemDeDup: deterministic k-means then exact-cosine "
                "dedup strictly within clusters (pairwise work is "
                "per-cluster, never corpus-wide) — clusters, rounds "
                "and verdicts all value-checked by one CTE oracle",
    tags=("pipeline", "dedup", "similarity", "iterative"),
)
def q_embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from xsarsea_spark.pipeline.clustering import kmeans_embeddings
    from xsarsea_spark.pipeline.dedup import dot_sql, norm_sql

    corpus = _cnd_corpus(spark, sf_dir)
    k = max(_SD_K_MIN, math.ceil(math.sqrt(corpus.count())))
    # localCheckpoint: the assignment feeds BOTH sides of the pair
    # self-join — without it the full Lloyd's lineage (rounds of
    # argmin folds) is re-evaluated per side (measured ~2x the query).
    asg = materialize(kmeans_embeddings(corpus, k=k, rounds=_SD_ROUNDS)
                      .select("vec_id", "cluster"))
    nrm = corpus.select(
        "vec_id", F.col("embedding").alias("__v"),
        F.expr(norm_sql(lambda i: f"element_at(embedding, {i})",
                        _CND_DIM)).alias("__n"))
    a = asg.select(F.col("vec_id").alias("id_a"), "cluster")
    b = asg.select(F.col("vec_id").alias("id_b"),
                   F.col("cluster").alias("__cb"))
    dot = dot_sql(lambda i: f"element_at(__va, {i})",
                  lambda i: f"element_at(__vb, {i})", _CND_DIM)
    pairs = (
        a.join(b, (F.col("cluster") == F.col("__cb"))
               & (F.col("id_a") < F.col("id_b")))
        .join(nrm.select(F.col("vec_id").alias("id_a"),
                         F.col("__v").alias("__va"),
                         F.col("__n").alias("__na")), on="id_a")
        .join(nrm.select(F.col("vec_id").alias("id_b"),
                         F.col("__v").alias("__vb"),
                         F.col("__n").alias("__nb")), on="id_b")
        .filter(F.expr(f"{dot} / nullif(__na * __nb, 0e0) >= {_SD_T}"))
    )
    removed = (pairs.select(F.col("id_b").alias("vec_id"))
               .distinct().withColumn("__r", F.lit(True)))
    return (
        asg.join(removed, on="vec_id", how="left")
        .select("vec_id", "cluster",
                F.coalesce("__r", F.lit(False)).alias("removed"))
    )


# ----------------------------------------------------------------------
# BM25 ranked retrieval for a fixed query-term set: term filter pushes
# to the token explode, df/avgdl are tiny broadcast aggregates, and
# ranking happens on the QTRUNC-quantized score (the ln() barrier) so
# rank order and emitted values are cross-engine identical.
# ----------------------------------------------------------------------

_BM25_TERMS = ("table", "query", "window")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TOPK = 20

_BM25_SCORE = (
    "ln((n_docs - df + 5e-1) / (df + 5e-1) + 1e0)"
    f" * (tf * ({_BM25_K1} + 1e0))"
    f" / (tf + {_BM25_K1} * (1e0 - {_BM25_B}"
    f" + {_BM25_B} * dl / avgdl))"
)


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
    len(string_split(text, ' ')) AS dl
  FROM documents),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
    SUM(len(string_split(text, ' ')))
      / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
  FROM toks WHERE term IN ({terms}) GROUP BY doc_id, term),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks WHERE term IN ({terms}) GROUP BY term),
scored AS (
  SELECT doc_id,
    {DSUM(QTRUNC(_BM25_SCORE, 9), 12)} AS score
  FROM tf JOIN df USING (term) CROSS JOIN stats
  GROUP BY doc_id)
SELECT doc_id, score FROM scored
QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) <= {_BM25_TOPK}
"""


@spec(
    "doc_bm25_topk",
    _bm25_oracle(),
    description="BM25 ranked retrieval for a fixed term set: term "
                "filter pushed into the token stream, tiny broadcast "
                "df/avgdl stats, quantized-score ranking",
    tags=("pipeline", "text", "topk"),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.suite.base import DSUM, QTRUNC

    docs = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = docs.selectExpr(
        "doc_id", "explode(split(text, ' ')) AS term",
        "size(split(text, ' ')) AS dl",
    ).filter(F.expr(f"term IN ({terms})"))
    stats = docs.selectExpr(
        "CAST(COUNT(*) AS DOUBLE) AS n_docs",
        "SUM(size(split(text, ' '))) / CAST(COUNT(*) AS DOUBLE)"
        " AS avgdl",
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("tf"),
        F.expr("MIN(dl)").alias("dl"),
    )
    # tf holds exactly one row per (doc, term): the per-term doc
    # frequency is a plain row count over it — same value as
    # COUNT(DISTINCT doc_id) over the token stream, without the
    # distinct rewrite or a second pass over the exploded corpus
    df = tf.groupBy("term").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("df"))
    scored = (
        tf.join(F.broadcast(df), on="term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.expr(DSUM(QTRUNC(_BM25_SCORE, 9), 12)).alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= _BM25_TOPK)
            .select("doc_id", "score"))


# ----------------------------------------------------------------------
# Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
# 2009 — the fusion every hybrid search stack runs): the BM25
# lexical list (same terms/quantization as doc_bm25_topk) fused
# with an embedding-cosine semantic list (query = the vec_id-0
# embedding; vec_id indexes the same doc space). Each list is
# truncated to a candidate pool, fused as sum of 1/(K + rank) —
# integer ranks, exact divisions, exact sum — and the fused top-k
# reported with both source ranks (-1 = absent from that list).
# Both rank windows are WindowGroupLimit-eligible (row_number
# filtered to the pool), so Spark plans a per-partition partial
# top-k before the global rank — never a full corpus sort.
# ----------------------------------------------------------------------

_RRF_K, _RRF_POOL, _RRF_TOPK = 60, 50, 20


def _rrf_oracle() -> str:
    d = _CND_DIM
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    dot = (f"list_reduce(list_transform(range(1, {d + 1}),"
           f" i -> CAST(q.qv[i] AS DOUBLE)"
           f" * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)")
    nrm = (f"sqrt(list_reduce(list_transform(range(1, {d + 1}),"
           f" i -> CAST({{v}}[i] AS DOUBLE)"
           f" * CAST({{v}}[i] AS DOUBLE)), (a, b) -> a + b))")
    nq, ne = nrm.format(v="q.qv"), nrm.format(v="e.embedding")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
    len(string_split(text, ' ')) AS dl
  FROM documents),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
    SUM(len(string_split(text, ' ')))
      / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
  FROM toks WHERE term IN ({terms}) GROUP BY doc_id, term),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks WHERE term IN ({terms}) GROUP BY term),
lex AS (
  SELECT doc_id,
    {DSUM(QTRUNC(_BM25_SCORE, 9), 12)} AS score
  FROM tf JOIN df USING (term) CROSS JOIN stats
  GROUP BY doc_id),
lr AS (SELECT doc_id, rl FROM (
    SELECT doc_id,
      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rl
    FROM lex) WHERE rl <= {_RRF_POOL}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT e.vec_id AS doc_id,
    ({dot}) / ({nq} * {ne}) AS cos
  FROM embeddings e, q
  WHERE e.vec_id <> 0 AND {ne} > 0),
sr AS (SELECT doc_id, rs FROM (
    SELECT doc_id,
      ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rs
    FROM sem) WHERE rs <= {_RRF_POOL}),
fused AS (
  SELECT COALESCE(lr.doc_id, sr.doc_id) AS doc_id,
    CAST(COALESCE(lr.rl, -1) AS BIGINT) AS rank_lex,
    CAST(COALESCE(sr.rs, -1) AS BIGINT) AS rank_sem,
    COALESCE(1e0 / ({_RRF_K} + lr.rl), 0e0)
      + COALESCE(1e0 / ({_RRF_K} + sr.rs), 0e0) AS rrf_score
  FROM lr FULL OUTER JOIN sr ON sr.doc_id = lr.doc_id)
SELECT doc_id, rank_lex, rank_sem, rrf_score,
  CAST(fr AS BIGINT) AS fused_rank
FROM (SELECT *, ROW_NUMBER() OVER
        (ORDER BY rrf_score DESC, doc_id) AS fr FROM fused)
WHERE fr <= {_RRF_TOPK}"""


@spec(
    "doc_hybrid_rrf",
    _rrf_oracle(),
    description="Hybrid retrieval via reciprocal-rank fusion: BM25 "
                "lexical list fused with an embedding-cosine "
                "semantic list as sum of 1/(K + rank) over truncated "
                "candidate pools — fused top-k with both source "
                "ranks, integer ranks and exact divisions",
    tags=("pipeline", "text", "similarity", "topk"),
)
def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.suite.base import DSUM, QTRUNC

    d = _CND_DIM
    docs = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = docs.selectExpr(
        "doc_id", "explode(split(text, ' ')) AS term",
        "size(split(text, ' ')) AS dl",
    ).filter(F.expr(f"term IN ({terms})"))
    stats = docs.selectExpr(
        "CAST(COUNT(*) AS DOUBLE) AS n_docs",
        "SUM(size(split(text, ' '))) / CAST(COUNT(*) AS DOUBLE)"
        " AS avgdl")
    tf = toks.groupBy("doc_id", "term").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("tf"),
        F.expr("MIN(dl)").alias("dl"))
    # doc frequency from tf (one row per (doc, term)) — identical to
    # COUNT(DISTINCT doc_id) over toks, minus the distinct machinery
    dfr = tf.groupBy("term").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("df"))
    lex = (tf.join(F.broadcast(dfr), on="term")
           .crossJoin(F.broadcast(stats))
           .groupBy("doc_id")
           .agg(F.expr(DSUM(QTRUNC(_BM25_SCORE, 9), 12))
                .alias("score")))
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lr = (lex.withColumn("rl", F.row_number().over(wl))
          .filter(F.col("rl") <= _RRF_POOL).select("doc_id", "rl"))

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter("vec_id = 0").selectExpr("embedding AS qv")
    dot = (f"aggregate(zip_with(qv, embedding,"
           f" (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),"
           f" 0d, (acc, x) -> acc + x)")
    nrm = (f"sqrt(aggregate(transform(sequence(1, {d}),"
           f" i -> CAST(element_at({{v}}, i) AS DOUBLE)"
           f" * CAST(element_at({{v}}, i) AS DOUBLE)),"
           f" 0d, (a, b) -> a + b))")
    nq, ne = nrm.format(v="qv"), nrm.format(v="embedding")
    sem = (emb.filter("vec_id <> 0").crossJoin(F.broadcast(qv))
           .filter(F.expr(f"{ne} > 0"))
           .selectExpr("vec_id AS doc_id",
                       f"({dot}) / ({nq} * {ne}) AS cos"))
    ws = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    sr = (sem.withColumn("rs", F.row_number().over(ws))
          .filter(F.col("rs") <= _RRF_POOL).select("doc_id", "rs"))

    fused = (lr.join(sr, on="doc_id", how="full_outer")
             .selectExpr(
                 "doc_id",
                 "CAST(COALESCE(rl, -1) AS BIGINT) AS rank_lex",
                 "CAST(COALESCE(rs, -1) AS BIGINT) AS rank_sem",
                 f"COALESCE(1e0 / ({_RRF_K} + rl), 0e0)"
                 f" + COALESCE(1e0 / ({_RRF_K} + rs), 0e0)"
                 " AS rrf_score"))
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (fused.withColumn("fr", F.row_number().over(wf))
            .filter(F.col("fr") <= _RRF_TOPK)
            .selectExpr("doc_id", "rank_lex", "rank_sem",
                        "rrf_score",
                        "CAST(fr AS BIGINT) AS fused_rank"))


# ----------------------------------------------------------------------
# Int8 embedding quantization (the storage path for embedding columns
# at 100 TB): per-vector max-abs scale, floor(x+0.5) grid assignment
# (engine-exact, no ROUND-mode dependence), reconstruction error.
# ----------------------------------------------------------------------

_Q8_ORACLE = """
WITH v AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
s AS (
  SELECT vec_id, e,
    list_max(list_transform(e, x -> abs(x))) AS scale_max
  FROM v),
q AS (
  SELECT vec_id, e, scale_max,
    list_transform(e,
      x -> CAST(FLOOR(x * 127e0 / scale_max + 5e-1) AS BIGINT)) AS qv
  FROM s WHERE scale_max > 0)
SELECT vec_id, scale_max,
  list_min(qv) AS q_min, list_max(qv) AS q_max,
  list_max(list_transform(range(1, len(e) + 1),
    i -> abs(e[i] - qv[i] * scale_max / 127e0))) AS max_abs_err
FROM q
"""


@spec(
    "embedding_int8_quant",
    _Q8_ORACLE,
    description="Int8 embedding quantization: per-vector max-abs "
                "scale, floor(x+0.5) grid (no ROUND-mode dependence), "
                "max reconstruction error — the embedding storage "
                "path, all per-row HOFs",
    tags=("pipeline", "multimodal", "similarity"),
)
def q_embedding_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
    s = v.withColumn(
        "scale_max", F.expr("array_max(transform(e, x -> abs(x)))"))
    q = s.filter("scale_max > 0").withColumn(
        "qv",
        F.expr("transform(e, x -> CAST(FLOOR(x * 127e0 / scale_max"
               " + 5e-1) AS BIGINT))"))
    return q.select(
        "vec_id", "scale_max",
        F.expr("array_min(qv)").alias("q_min"),
        F.expr("array_max(qv)").alias("q_max"),
        F.expr("array_max(zip_with(e, qv,"
               " (x, k) -> abs(x - k * scale_max / 127e0)))")
        .alias("max_abs_err"),
    )


# ----------------------------------------------------------------------
# End-to-end curation pipeline: the full pretraining-data DAG in ONE
# query — exact dedup -> MinHash-LSH near-dedup -> quality gates
# (marker quality + Gopher repetition rules) -> per-language
# deterministic cap. The oracle nests each stage's already-proven SQL
# as a CTE subquery, so the composition is value-checked end to end.
# ----------------------------------------------------------------------

_E2E_CAP = 25
_E2E_QMIN = 0.5


def _e2e_oracle() -> str:
    return f"""
WITH exact_keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
      ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
near_pairs AS ({_minhash_oracle()}),
near_drop AS (SELECT DISTINCT id_b AS doc_id FROM near_pairs),
qual AS ({_lang_oracle()}),
gq AS ({_GOPHER_ORACLE}),
kept AS (
  SELECT d.doc_id, d.lang,
    len(string_split(d.text, ' ')) AS n_tokens, q.quality
  FROM documents d
  JOIN exact_keep ek ON ek.doc_id = d.doc_id
  LEFT JOIN near_drop nd ON nd.doc_id = d.doc_id
  JOIN qual q ON q.doc_id = d.doc_id
  JOIN gq ON gq.doc_id = d.doc_id
  WHERE nd.doc_id IS NULL AND q.quality >= {_E2E_QMIN}
    AND gq.gopher_keep)
SELECT doc_id, lang, n_tokens, quality FROM kept
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= {_E2E_CAP}
"""


@spec(
    "pipeline_curate_end2end",
    _e2e_oracle(),
    description="Whole curation DAG in one plan: exact dedup, "
                "MinHash-LSH near-dedup, quality + Gopher gates, "
                "deterministic per-language cap — stages compose "
                "without materialization barriers",
    tags=("pipeline", "dedup", "text", "quality"),
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup
    from xsarsea_spark.pipeline.text import (gopher_quality, language_id,
                                             quality_score)

    docs = load(spark, sf_dir, "documents")
    wmd5 = Window.partitionBy(F.expr("md5(text)")).orderBy("doc_id")
    exact_keep = (docs.withColumn("__rn", F.row_number().over(wmd5))
                  .filter("__rn = 1").select("doc_id"))
    near_drop = (minhash_lsh_dedup(docs, n=_MH_N, k=_MH_K,
                                   threshold=_MH_T)
                 .select(F.col("id_b").alias("doc_id")).distinct()
                 .withColumn("__nd", F.lit(True)))
    qual = quality_score(language_id(docs)).select(
        "doc_id", F.col("quality").alias("__q"))
    gq = gopher_quality(docs).select("doc_id", "gopher_keep")
    kept = (
        docs.join(exact_keep, on="doc_id")
        .join(near_drop, on="doc_id", how="left")
        .join(qual, on="doc_id")
        .join(gq, on="doc_id")
        .filter(F.expr(f"__nd IS NULL AND __q >= {_E2E_QMIN}"
                       " AND gopher_keep"))
        .select("doc_id", "lang",
                F.expr("size(split(text, ' '))").alias("n_tokens"),
                F.col("__q").alias("quality"))
    )
    wcap = Window.partitionBy("lang").orderBy(
        F.expr("md5(CAST(doc_id AS STRING))"), F.col("doc_id"))
    return (kept.withColumn("__rk", F.row_number().over(wcap))
            .filter(F.col("__rk") <= _E2E_CAP)
            .select("doc_id", "lang", "n_tokens", "quality"))


# ----------------------------------------------------------------------
# PCA by power iteration: one map-side-combined exact-grid covariance
# pass (O(partitions * d^2) exchange), then all rounds + the Rayleigh
# quotient in ONE Arrow kernel over the 1-row Gram state (scalar
# left-to-right folds — no collect, no driver loop, no BLAS). The
# oracle replays the identical op sequence via generator-emitted CTEs,
# so eigenvector AND per-vector projections are bit-exact across
# engines, like graph_pagerank's rounds.
# ----------------------------------------------------------------------

_PCA_D, _PCA_ROUNDS = 64, 12


def _pca_iter_ctes(src: str, sfx: str) -> list[str]:
    """One power-iteration chain over the Gram in CTE ``src`` — the
    twin of the engine kernel's scalar loop, same generator leaves,
    same op order (unnormalized matvec chain, one normalize at the
    end). Ends with ``it{sfx}(G, v, ev)``."""
    from xsarsea_spark.pipeline.linalg import (norm_sql, power_init_sql,
                                               power_step_sql,
                                               rayleigh_sql, scale_sql)

    d = _PCA_D
    its = [f"i{sfx}_0 AS (SELECT G, {power_init_sql(d, 'duck')} AS v"
           f" FROM {src})"]
    for r in range(_PCA_ROUNDS):
        its.append(
            f"i{sfx}_{r + 1} AS (SELECT G,"
            f" {power_step_sql('G', 'v', d, 'duck')} AS v"
            f" FROM i{sfx}_{r})")
    its.append(
        f"fin{sfx} AS (SELECT G, v, {norm_sql('v', d, 'duck')} AS n"
        f" FROM i{sfx}_{_PCA_ROUNDS})")
    its.append(
        f"un{sfx} AS (SELECT G, {scale_sql('v', 'n', d, 'duck')} AS v"
        f" FROM fin{sfx})")
    its.append(
        f"it{sfx} AS (SELECT G, v,"
        f" {rayleigh_sql('G', 'v', d, 'duck')} AS ev FROM un{sfx})")
    return its


def _pca_gram_ctes() -> str:
    """Corpus guard -> grid means -> grid covariance -> gm(G)."""
    from xsarsea_spark.pipeline.linalg import G_SCALE, MU_SCALE

    d = _PCA_D
    return f"""
f AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  WHERE len(embedding) = {d}
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
dx AS (SELECT e, unnest(range(1, {d + 1})) AS d FROM f),
m AS (SELECT d,
        CAST(SUM(CAST(e[d] AS DECIMAL(38,{MU_SCALE}))) AS DOUBLE)
          / COUNT(e[d]) AS mu
      FROM dx GROUP BY d),
ml AS (SELECT list(mu ORDER BY d) AS mu FROM m),
c AS (SELECT list_transform(range(1, {d + 1}), k -> e[k] - mu[k]) AS c
      FROM f, ml),
pr AS (SELECT i, j, c[i] * c[j] AS p
       FROM c,
            (SELECT unnest(range(1, {d + 1})) AS i),
            (SELECT unnest(range(1, {d + 1})) AS j)),
g AS (SELECT i, j,
        CAST(SUM(CAST(p AS DECIMAL(38,{G_SCALE}))) AS DOUBLE)
          / COUNT(p) AS g
      FROM pr GROUP BY i, j),
gr AS (SELECT i, list(g ORDER BY j) AS row FROM g GROUP BY i),
gm AS (SELECT CASE WHEN COUNT(*) = {d} THEN list(row ORDER BY i) END
         AS G FROM gr)"""


def _pca_ctes() -> str:
    """Shared WITH-body: gram pipeline + one power-iteration chain
    ending in it(G, v, ev)."""
    return (_pca_gram_ctes() + ",\n"
            + ",\n".join(_pca_iter_ctes("gm", "")))


def _pca_oracle() -> str:
    d = _PCA_D
    return f"""
WITH {_pca_ctes()}
SELECT k AS dim, v[k] AS loading, ev AS eigval
FROM it, (SELECT unnest(range(1, {d + 1})) AS k) t
"""


@spec(
    "embedding_pca_power",
    _pca_oracle(),
    description="PCA top component by power iteration: exact-grid "
                "covariance in ONE map-side-combined agg pass, 12 "
                "rounds + Rayleigh eigenvalue in a single Arrow "
                "kernel over the 1-row Gram state — bit-exact vs the "
                "same-generator DuckDB CTE replay",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.linalg import pca_power

    return pca_power(load(spark, sf_dir, "embeddings"),
                     d=_PCA_D, rounds=_PCA_ROUNDS)


def _pca_project_oracle() -> str:
    d = _PCA_D
    return f"""
WITH {_pca_ctes()}
SELECT f.vec_id,
  list_reduce(list_transform(range(1, {d + 1}),
    k -> (f.e[k] - ml.mu[k]) * it.v[k]), (a, b) -> a + b)
    AS pc1_score,
  it.ev AS eigval
FROM f, ml, it
"""


@spec(
    "embedding_pca_project",
    _pca_project_oracle(),
    description="Per-vector PC1 scores: the 1-row PCA state "
                "broadcasts, the corpus streams through one "
                "order-fixed fold projection — the rank/filter/bucket "
                "column for PCA-based corpus curation, value-exact",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_pca_project(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.linalg import pca_project

    return pca_project(load(spark, sf_dir, "embeddings"),
                       d=_PCA_D, rounds=_PCA_ROUNDS)


_PCA_K = 3


def _pca_topk_oracle() -> str:
    from xsarsea_spark.pipeline.linalg import deflate_sql

    d = _PCA_D
    parts = [_pca_gram_ctes()] + _pca_iter_ctes("gm", "0")
    for c in range(1, _PCA_K):
        # Hotelling deflation of the previous chain's matrix, then a
        # fresh iteration chain over the residual — the CTE twin of
        # the kernel's per-component loop
        parts.append(
            f"gd{c} AS (SELECT"
            f" {deflate_sql('G', 'v', 'ev', d, 'duck')} AS G"
            f" FROM it{c - 1})")
        parts += _pca_iter_ctes(f"gd{c}", str(c))
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({c} AS INTEGER) AS component, k AS dim,"
        f" v[k] AS loading, ev AS eigval"
        f" FROM it{c}, (SELECT unnest(range(1, {d + 1})) AS k) t{c}"
        for c in range(_PCA_K))
    return "WITH " + ",\n".join(parts) + "\n" + finals


@spec(
    "embedding_pca_topk",
    _pca_topk_oracle(),
    description="Top-3 principal components via power iteration with "
                "Hotelling deflation — k components from ONE corpus "
                "covariance pass, the whole deflation sequence "
                "bit-exact vs a chained-CTE replay",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_pca_topk(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.linalg import pca_topk

    return pca_topk(load(spark, sf_dir, "embeddings"),
                    d=_PCA_D, rounds=_PCA_ROUNDS, n_comp=_PCA_K)


def _pca_whiten_oracle() -> str:
    from xsarsea_spark.pipeline.linalg import deflate_sql

    d = _PCA_D
    parts = [_pca_gram_ctes()] + _pca_iter_ctes("gm", "0")
    for c in range(1, _PCA_K):
        parts.append(
            f"gd{c} AS (SELECT"
            f" {deflate_sql('G', 'v', 'ev', d, 'duck')} AS G"
            f" FROM it{c - 1})")
        parts += _pca_iter_ctes(f"gd{c}", str(c))
    st = "\nUNION ALL\n".join(
        f"SELECT CAST({c} AS INTEGER) AS component, v, ev FROM it{c}"
        for c in range(_PCA_K))
    parts.append(f"st AS ({st})")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT f.vec_id, st.component,
  list_reduce(list_transform(range(1, {d + 1}),
    k -> (f.e[k] - ml.mu[k]) * st.v[k]), (a, b) -> a + b) AS score,
  st.ev AS eigval,
  list_reduce(list_transform(range(1, {d + 1}),
    k -> (f.e[k] - ml.mu[k]) * st.v[k]), (a, b) -> a + b)
    / sqrt(st.ev) AS whitened
FROM f, ml, st
""")


@spec(
    "embedding_pca_whiten",
    _pca_whiten_oracle(),
    description="PCA-whitened k-dim projection: per (vector, "
                "component) score and unit-variance coordinate — the "
                "k-row state broadcasts, the corpus streams through "
                "order-fixed folds; value-exact vs the deflation-CTE "
                "replay",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_pca_whiten(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.linalg import pca_whiten

    return pca_whiten(load(spark, sf_dir, "embeddings"),
                      d=_PCA_D, rounds=_PCA_ROUNDS, n_comp=_PCA_K)


def _pca_outlier_oracle() -> str:
    return f"""
WITH w AS ({_pca_whiten_oracle()})
SELECT vec_id,
  CAST(SUM(CAST((CAST(FLOOR((whitened * whitened) * 1e9) AS DOUBLE)
                 / 1e9) AS DECIMAL(38,9))) AS DOUBLE) AS maha2,
  CAST(SUM(CAST((CAST(FLOOR((whitened * whitened) * 1e9) AS DOUBLE)
                 / 1e9) AS DECIMAL(38,9))) AS DOUBLE) > 9.0
    AS is_outlier
FROM w GROUP BY vec_id
"""


@spec(
    "embedding_pca_outliers",
    _pca_outlier_oracle(),
    description="Mahalanobis-style outlier score in the captured PCA "
                "subspace: sum of squared unit-variance coordinates "
                "(chi^2-shaped, threshold 3.0 per direction) — "
                "quantized-then-DECIMAL so score AND flag are "
                "engine-exact",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_pca_outliers(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.linalg import pca_outliers

    return pca_outliers(load(spark, sf_dir, "embeddings"),
                        d=_PCA_D, rounds=_PCA_ROUNDS, n_comp=_PCA_K)


# ----------------------------------------------------------------------
# Incremental PCA: persisted exact-integer RAW-moment state
# (S1, S2, n as int64 quantum sums — order-independent, so
# state(batch_1) + ... + state(batch_k) == state(union) bit-for-bit),
# maintained across 3 versioned ingest batches; the eigensolve runs
# off the FINAL persisted state alone. The oracle computes the same
# raw-moment covariance C = S2/n - mu mu^T from the full corpus in
# one shot — values can only match if the batch/persist/merge cycle
# is exactly replay-equivalent (pipeline/incpca.py; ivf_incremental
# precedent). Estimator note: raw moments trade the centered path's
# cancellation safety for mergeability — the covariance values
# differ from embedding_pca_power's centered grid in the last grid
# digits by design (different, equally documented, quantization).
# ----------------------------------------------------------------------


def _pca_incremental_oracle() -> str:
    from xsarsea_spark.pipeline.linalg import G_SCALE, MU_SCALE

    d = _PCA_D
    gram = f"""
f AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  WHERE len(embedding) = {d}
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
dx AS (SELECT e, unnest(range(1, {d + 1})) AS d FROM f),
m AS (SELECT d,
        CAST(SUM(CAST(e[d] AS DECIMAL(38,{MU_SCALE}))) AS DOUBLE)
          / COUNT(e[d]) AS mu
      FROM dx GROUP BY d),
ml AS (SELECT list(mu ORDER BY d) AS mu FROM m),
pr AS (SELECT i, j, e[i] * e[j] AS p
       FROM f,
            (SELECT unnest(range(1, {d + 1})) AS i),
            (SELECT unnest(range(1, {d + 1})) AS j)),
g2 AS (SELECT i, j,
         CAST(SUM(CAST(p AS DECIMAL(38,{G_SCALE}))) AS DOUBLE)
           / COUNT(p) AS ms2
       FROM pr GROUP BY i, j),
g AS (SELECT g2.i, g2.j, g2.ms2 - ml.mu[g2.i] * ml.mu[g2.j] AS g
      FROM g2, ml),
gr AS (SELECT i, list(g ORDER BY j) AS row FROM g GROUP BY i),
gm AS (SELECT CASE WHEN COUNT(*) = {d} THEN list(row ORDER BY i) END
         AS G FROM gr)"""
    body = gram + ",\n" + ",\n".join(_pca_iter_ctes("gm", ""))
    return f"""
WITH {body}
SELECT k AS dim, v[k] AS loading, ev AS eigval
FROM it, (SELECT unnest(range(1, {d + 1})) AS k) t
"""


@spec(
    "embedding_pca_incremental",
    _pca_incremental_oracle(),
    description="Incremental PCA: exact-integer raw-moment state "
                "persisted and merged across 3 ingest batches "
                "(int64 quantum sums — batch merge is bit-exact by "
                "order-independence), eigensolve off the final state "
                "only — value-equal to a one-shot raw-moment PCA of "
                "the union, replayed by the oracle",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_pca_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from xsarsea_spark.pipeline.incpca import (moment_merge,
                                               moment_state,
                                               pca_from_moments)

    emb = load(spark, sf_dir, "embeddings")
    base = scratch_path(spark, "pca_state", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    prev = None
    for b in range(3):
        batch = emb.filter(F.expr(f"vec_id % 3 = {b}"))
        part = moment_state(batch, d=_PCA_D)
        cur = part if prev is None else moment_merge([prev, part])
        path = f"{base}/v{b}"
        cur.write.mode("overwrite").parquet(path)
        prev = spark.read.parquet(path)
    return pca_from_moments(prev, d=_PCA_D, rounds=_PCA_ROUNDS)


# ----------------------------------------------------------------------
# Embedding drift monitor: the per-dim marginals (mean, variance) of
# the HISTORICAL raw-moment state vs an incoming batch's state — the
# data-drift gate a production embedding ingest runs before accepting
# a batch. Reads ONLY the two bounded moment states (no corpus
# rescan); the standardized shift z = (mu_b - mu_h) / sqrt(var_h /
# n_b) and the |z| > 3 flag are value-exact (DECIMAL-grid means, one
# IEEE sqrt, fixed op order).
# ----------------------------------------------------------------------


def _drift_oracle() -> str:
    from xsarsea_spark.pipeline.linalg import G_SCALE, MU_SCALE

    d = _PCA_D
    return f"""
WITH f AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  WHERE len(embedding) = {d}
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
hx AS (SELECT e, unnest(range(1, {d + 1})) AS dd FROM f
       WHERE vec_id % 3 < 2),
h AS (SELECT dd,
        CAST(SUM(CAST(e[dd] AS DECIMAL(38,{MU_SCALE}))) AS DOUBLE)
          / COUNT(e[dd]) AS mu_hist,
        CAST(SUM(CAST(e[dd] * e[dd] AS DECIMAL(38,{G_SCALE})))
             AS DOUBLE) / COUNT(e[dd]) AS ms2
      FROM hx GROUP BY dd),
bx AS (SELECT e, unnest(range(1, {d + 1})) AS dd FROM f
       WHERE vec_id % 3 = 2),
b AS (SELECT dd,
        CAST(SUM(CAST(e[dd] AS DECIMAL(38,{MU_SCALE}))) AS DOUBLE)
          / COUNT(e[dd]) AS mu_batch,
        COUNT(e[dd]) AS n_batch
      FROM bx GROUP BY dd),
j AS (SELECT h.dd, h.mu_hist, b.mu_batch, b.n_batch,
        h.ms2 - h.mu_hist * h.mu_hist AS var_hist
      FROM h JOIN b ON b.dd = h.dd)
SELECT dd AS dim, mu_hist, mu_batch, var_hist,
  CAST(n_batch AS BIGINT) AS n_batch,
  mu_batch - mu_hist AS shift,
  CASE WHEN var_hist > 0 THEN (mu_batch - mu_hist)
    / sqrt(var_hist / CAST(n_batch AS DOUBLE)) END AS z_shift,
  CASE WHEN var_hist > 0 THEN abs((mu_batch - mu_hist)
    / sqrt(var_hist / CAST(n_batch AS DOUBLE))) > 3.0
    ELSE mu_batch <> mu_hist END AS drifted
FROM j
"""


@spec(
    "embedding_drift_monitor",
    _drift_oracle(),
    description="Per-dimension embedding drift gate: historical "
                "raw-moment state marginals vs an incoming batch — "
                "standardized mean shift and |z| > 3 flag from the "
                "two bounded state tables alone, value-exact",
    tags=("pipeline", "similarity"),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.incpca import drift_report, moment_state

    emb = load(spark, sf_dir, "embeddings")
    return drift_report(
        moment_state(emb.filter("vec_id % 3 < 2"), d=_PCA_D),
        moment_state(emb.filter("vec_id % 3 = 2"), d=_PCA_D))


# ----------------------------------------------------------------------
# STREAMING drift gate — the Structured-Streaming twin of
# embedding_drift_monitor: the historical moment state is persisted
# once; the incoming embedding stream (availableNow) maintains a
# cumulative batch moment state through foreachBatch, merging each
# micro-batch's O(batch) Arrow-scanned partial into the persisted
# state by pure int64 addition. Because the int64 quantum sums are
# order-independent, the streamed state is bit-identical to a one-shot
# batch state REGARDLESS of micro-batch boundaries — so the final
# z-gate report shares the exact batch-twin oracle. Crash-replay
# idempotence: batch N always rebuilds version v{N} from v{N-1} plus
# its own rows (never from its own partial output), and the stream is
# run twice against one checkpoint (second run consumes zero files).
# ----------------------------------------------------------------------


@spec(
    "stream_drift_gate",
    _drift_oracle(),
    description="Structured-Streaming drift gate: cumulative raw-"
                "moment state maintained per micro-batch via "
                "foreachBatch int64 merges (order-independent, so "
                "streamed state == one-shot state bit-for-bit), "
                "z-gate report vs the persisted historical state — "
                "value-equal to the batch drift monitor",
    tags=("pipeline", "streaming", "similarity", "incremental"),
)
def q_stream_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.pipeline.incpca import (drift_report,
                                               moment_state)

    base = scratch_path(spark, "stream_drift", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    hist_path = os.path.join(base, "hist")
    state_dir = os.path.join(base, "state")
    ckpt_dir = os.path.join(base, "ckpt")

    emb = load(spark, sf_dir, "embeddings")
    # the baseline a production gate compares against, persisted once
    moment_state(emb.filter("vec_id % 3 < 2"), d=_PCA_D) \
        .repartition(1).write.parquet(hist_path)

    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema

    def absorb(df: DataFrame, batch_id: int) -> None:
        # State is the bounded (d^2 + d)-row int64 moment table; the
        # merge onto the version strictly below is the SAME pure
        # int64 addition as moment_merge, done driver-side.
        part = {(int(r["i"]), int(r["j"])):
                (int(r["q"]), int(r["r"]), int(r["n"]))
                for r in moment_state(
                    df.filter("vec_id % 3 = 2"), d=_PCA_D).collect()}
        prev = version_below(spark, state_dir, batch_id)
        if prev:
            for (i, j, q, r, n) in load_kv_json(spark, prev):
                old = part.get((int(i), int(j)), (0, 0, 0))
                part[(int(i), int(j))] = (old[0] + int(q),
                                          old[1] + int(r),
                                          old[2] + int(n))
        save_kv_json(
            spark,
            [(i, j, q, r, n)
             for (i, j), (q, r, n) in sorted(part.items())],
            os.path.join(state_dir, f"v{batch_id}"))

    src = _file_stream(spark, sf_dir, "embeddings", schema)
    run_available_now(src, absorb, ckpt_dir)
    run_available_now(src, absorb, ckpt_dir)   # zero new files: no-op

    final = spark.createDataFrame(
        [(int(i), int(j), int(q), int(r), int(n))
         for i, j, q, r, n in load_kv_json(
             spark, latest_version(spark, state_dir))],
        "i int, j int, q long, r long, n long")
    return drift_report(spark.read.parquet(hist_path), final)


# ----------------------------------------------------------------------
# Streaming mixture-share monitor — the ingestion-side twin of the
# embedding drift gate: per-source token counts absorbed per
# micro-batch into versioned BIGINT state (order-independent sums,
# so streamed state == one-shot bit-for-bit; strictly-below version
# merge makes crash replays rebuild instead of double-count), then a
# per-source share report vs the persisted historical mixture with
# add-one-smoothed PSI terms — the alarm a pipeline raises when a
# source's share of arriving tokens drifts from the design mixture.
# ----------------------------------------------------------------------


def _mixshare_oracle() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    lnq = QTRUNC("ln(share_batch / share_hist)", 9)
    return f"""
WITH h AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
    AS nh
  FROM documents WHERE text IS NOT NULL AND doc_id % 3 < 2
  GROUP BY source),
b AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
    AS nb
  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 2
  GROUP BY source),
s AS (
  SELECT COALESCE(h.source, b.source) AS source,
    COALESCE(h.nh, 0) AS nh, COALESCE(b.nb, 0) AS nb
  FROM h FULL JOIN b ON b.source = h.source),
t AS (SELECT SUM(nh) AS th, SUM(nb) AS tb, COUNT(*) AS ns FROM s),
j AS (
  SELECT source, nh AS n_tokens_hist, nb AS n_tokens_batch,
    CAST(nh + 1 AS DOUBLE) / CAST(th + ns AS DOUBLE) AS share_hist,
    CAST(nb + 1 AS DOUBLE) / CAST(tb + ns AS DOUBLE) AS share_batch
  FROM s CROSS JOIN t)
SELECT source, n_tokens_hist, n_tokens_batch, share_hist,
  share_batch,
  (share_batch - share_hist) * {lnq} AS psi_term
FROM j
"""


@spec(
    "stream_mixture_monitor",
    _mixshare_oracle(),
    description="Structured-Streaming mixture-share monitor: "
                "per-source token counts absorbed per micro-batch "
                "into versioned BIGINT state (crash-replay-safe "
                "strictly-below merges; streamed == one-shot "
                "bit-for-bit), reported as smoothed shares + PSI "
                "terms vs the persisted historical mixture",
    tags=("pipeline", "streaming", "curation", "incremental"),
)
def q_stream_mixture_monitor(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    import os
    import shutil

    base = scratch_path(spark, "stream_mixshare", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    hist_path = os.path.join(base, "hist")
    state_dir = os.path.join(base, "state")
    ckpt_dir = os.path.join(base, "ckpt")

    def counts(df: DataFrame) -> DataFrame:
        return (df.filter("text IS NOT NULL")
                .groupBy("source")
                .agg(F.expr("CAST(SUM(size(split(text, ' ')))"
                            " AS BIGINT)").alias("n_tokens")))

    docs = load(spark, sf_dir, "documents")
    counts(docs.filter("doc_id % 3 < 2"))         .repartition(1).write.parquet(hist_path)

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema

    def absorb(df: DataFrame, batch_id: int) -> None:
        # per-source BIGINT state; the merge onto the version strictly
        # below is exact int64 addition (a NULL source is one group,
        # as in a groupBy)
        part = {r["source"]: int(r["n_tokens"])
                for r in counts(df.filter("doc_id % 3 = 2")).collect()}
        prev = version_below(spark, state_dir, batch_id)
        if prev:
            for source, n in load_kv_json(spark, prev):
                part[source] = part.get(source, 0) + int(n)
        save_kv_json(spark,
                     sorted(part.items(),
                            key=lambda kv: (kv[0] is None, kv[0])),
                     os.path.join(state_dir, f"v{batch_id}"))

    src = _file_stream(spark, sf_dir, "documents", schema)
    run_available_now(src, absorb, ckpt_dir)
    run_available_now(src, absorb, ckpt_dir)   # zero new files: no-op

    batch = spark.createDataFrame(
        [(s, int(n)) for s, n in load_kv_json(
            spark, latest_version(spark, state_dir))],
        "source string, n_tokens bigint")
    hist = spark.read.parquet(hist_path)
    s = (hist.selectExpr("source", "n_tokens AS nh")
         .join(batch.selectExpr("source", "n_tokens AS nb"),
               on="source", how="full")
         .selectExpr("source", "COALESCE(nh, 0L) AS nh",
                     "COALESCE(nb, 0L) AS nb"))
    t = s.groupBy().agg(F.expr("SUM(nh)").alias("th"),
                        F.expr("SUM(nb)").alias("tb"),
                        F.expr("COUNT(*)").alias("ns"))
    lnq = QTRUNC("ln(share_batch / share_hist)", 9)
    return (s.crossJoin(F.broadcast(t))
            .selectExpr(
                "source", "nh AS n_tokens_hist",
                "nb AS n_tokens_batch",
                "CAST(nh + 1 AS DOUBLE) / CAST(th + ns AS DOUBLE)"
                " AS share_hist",
                "CAST(nb + 1 AS DOUBLE) / CAST(tb + ns AS DOUBLE)"
                " AS share_batch")
            .selectExpr("source", "n_tokens_hist", "n_tokens_batch",
                        "share_hist", "share_batch",
                        f"(share_batch - share_hist) * {lnq}"
                        " AS psi_term"))


# ----------------------------------------------------------------------
# Distributed BPE merge training (Sennrich et al. 2016, word-level):
# k rounds of (pair-count hash agg -> top-1 -> zero-exchange greedy
# merge application). The oracle recomputes every round in chained
# CTEs — INCLUDING each round's argmax pair — so the merge table is
# value-exact with no literals smuggled across engines.
# ----------------------------------------------------------------------

_BPE_MERGES = 4


def _bpe_apply_duck(t: str, lhs: str, rhs: str) -> str:
    """DuckDB twin of bpe.apply_merge_expr (1-based lists; DuckDB's
    out-of-range [0] yields NULL rather than erroring, and OR with a
    true branch short-circuits the NULL away)."""
    o = (f"list_filter(range(1, len({t})),"
         f" p -> {t}[p] = {lhs} AND {t}[p + 1] = {rhs})")
    kk = ("list_transform(list_filter(range(1, len(o) + 1), i ->"
          " ((i - list_max(list_filter(range(1, i + 1), j -> j = 1"
          " OR o[j] - o[j - 1] > 1))) % 2) = 0), i -> o[i])")
    rebuild = (
        f"CASE WHEN len(o) = 0 THEN {t} ELSE"
        f" flatten(list_transform(range(1, len({t}) + 1), q ->"
        f" CASE WHEN list_contains(list_transform(kk, p -> p + 1), q)"
        f" THEN []"
        f" WHEN list_contains(kk, q)"
        f" THEN [{t}[q] || ' ' || {t}[q + 1]]"
        f" ELSE [{t}[q]] END)) END")
    return o, kk, rebuild


def _bpe_ctes(apply_last: bool, where: str = "") -> list[str]:
    """Chained CTEs replaying the training loop; with ``apply_last``
    the final merge is applied too (t{_BPE_MERGES} exists — the
    encoded corpus the encode oracle reads). ``where`` appends a
    corpus-slice predicate (AND-ed into t0's filter) for oracles
    that train on a slice."""
    parts = [
        "t0 AS (SELECT doc_id, string_split(text, ' ') AS t"
        " FROM documents WHERE text IS NOT NULL"
        f" AND len(string_split(text, ' ')) >= 1{where})",
    ]
    for r in range(_BPE_MERGES):
        o, kk, rebuild = _bpe_apply_duck("t", "top.lhs", "top.rhs")
        parts.append(
            f"pr{r} AS (SELECT"
            f" unnest(list_transform(range(1, len(t)),"
            f" i -> struct_pack(lhs := t[i], rhs := t[i + 1]))) AS s"
            f" FROM t{r} WHERE len(t) >= 2)")
        parts.append(
            f"top{r} AS (SELECT s.lhs AS lhs, s.rhs AS rhs,"
            f" COUNT(*) AS n FROM pr{r}"
            f" GROUP BY 1, 2 ORDER BY n DESC, lhs, rhs LIMIT 1)")
        if r < _BPE_MERGES - 1 or apply_last:
            # LEFT JOIN ON TRUE, not a cross join: if a round finds
            # NO pair (drift-shrunk corpus), the Spark loop breaks
            # and leaves the corpus unchanged — the NULL lhs/rhs row
            # makes occ empty and the rebuild CASE return t as-is,
            # the exact same semantics (a cross join would instead
            # wipe every row through the empty top-1)
            parts.append(
                f"a{r} AS (SELECT doc_id, t, {o} AS o"
                f" FROM t{r} LEFT JOIN top{r} top ON TRUE)")
            parts.append(
                f"b{r} AS (SELECT doc_id, t, o, {kk} AS kk FROM a{r})")
            parts.append(
                f"t{r + 1} AS (SELECT doc_id, {rebuild} AS t"
                f" FROM b{r})")
    return parts


def _bpe_oracle() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, lhs, rhs,"
        f" CAST(n AS BIGINT) AS pair_count FROM top{r}"
        for r in range(_BPE_MERGES))
    return "WITH " + ",\n".join(_bpe_ctes(False)) + "\n" + finals


@spec(
    "doc_bpe_train",
    _bpe_oracle(),
    description="Distributed BPE merge training: k rounds of "
                "map-side-combined pair counting + zero-exchange "
                "greedy-leftmost merge application (run-parity closed "
                "form) — the whole training loop, argmaxes included, "
                "value-exact vs a chained-CTE replay",
    tags=("pipeline", "text", "iterative"),
)
def q_doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.bpe import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"),
                     n_merges=_BPE_MERGES)


def _bpe_encode_oracle() -> str:
    final = f"""
SELECT doc_id,
  CAST(list_reduce(list_transform(t,
    x -> len(string_split(x, ' '))), (a, b) -> a + b) AS BIGINT)
    AS n_tokens_raw,
  CAST(len(t) AS BIGINT) AS n_tokens_encoded,
  CAST(list_reduce(list_transform(t,
    x -> len(string_split(x, ' '))), (a, b) -> a + b) AS BIGINT)
    / CAST(len(t) AS DOUBLE) AS compression,
  md5(array_to_string(t, chr(31))) AS encoded_md5
FROM t{_BPE_MERGES}"""
    return "WITH " + ",\n".join(_bpe_ctes(True)) + final


@spec(
    "doc_bpe_encode",
    _bpe_encode_oracle(),
    description="BPE tokenization of the corpus with the learned "
                "merges: the encoded stream is the training loop's "
                "final state (one extra zero-exchange rebuild), "
                "per-doc raw/encoded counts + compression + encoded "
                "digest — value-exact vs the full chained-CTE replay",
    tags=("pipeline", "text", "iterative"),
)
def q_doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.bpe import bpe_encode

    return bpe_encode(load(spark, sf_dir, "documents"),
                      n_merges=_BPE_MERGES)


# ----------------------------------------------------------------------
# Tokenizer-aware best-fit-decreasing packing (packing v2) — the
# loader-grade alternative to concat-then-chunk: lengths come from
# the BPE tokenizer (the same learned merges as doc_bpe_encode, so
# sequence budgets count REAL tokens, not whitespace words),
# over-long docs ceil-split into <= L chunks, and chunks pack by the
# classic best-fit-decreasing greedy inside deterministic hash
# buckets. Each placed segment reports its (seq_offset, seg_len)
# span — exactly the block-diagonal document-boundary attention
# mask a pretraining loader builds per packed sequence. The oracle
# replays the greedy EXACTLY with a recursive CTE folding one chunk
# per step over a (remaining-capacity, bin) list state; the Spark
# side is one shuffle on the bucket + an Arrow-batched per-bucket
# kernel (the greedy is sequential by nature; the bucket is the
# parallelism unit, sized ~10^4 docs at 100 TB).
# ----------------------------------------------------------------------

_BFD_LEN, _BFD_NB = 128, 8


def _bfd_seg_ctes() -> list[str]:
    L, NB = _BFD_LEN, _BFD_NB
    parts = _bpe_ctes(True)
    parts += [
        f"lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n"
        f" FROM t{_BPE_MERGES})",
        f"ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,"
        f" LEAST({L}, n - k * {L}) AS seg_len,"
        f" doc_id % {NB} AS bucket"
        f" FROM (SELECT doc_id, n, unnest(range(0, (n - 1) // {L}"
        f" + 1)) AS k FROM lens WHERE n >= 1))",
        "it AS (SELECT bucket, doc_id, chunk_id, seg_len,"
        " ROW_NUMBER() OVER (PARTITION BY bucket"
        " ORDER BY seg_len DESC, doc_id, chunk_id) AS rk FROM ch)",
        "nb AS (SELECT bucket, MAX(rk) AS mx FROM it GROUP BY bucket)",
        # one recursion step places the rank-(step+1) chunk of every
        # bucket: best bin = smallest remaining capacity that fits
        # (struct sort on (rem, bin_id) — BFD's tie goes to the
        # earliest-opened bin), else open bin len(bins)+1
        "pk AS (SELECT bucket, 0 AS step,"
        " CAST([] AS STRUCT(rem BIGINT, bin_id BIGINT)[]) AS bins,"
        " CAST([] AS STRUCT(doc_id BIGINT, chunk_id BIGINT,"
        " len BIGINT, bin_id BIGINT, slot BIGINT)[]) AS placed"
        " FROM nb"
        " UNION ALL"
        " SELECT p.bucket, p.step + 1,"
        " CASE WHEN len(list_filter(p.bins, b -> b.rem >= i.seg_len))"
        " = 0 THEN list_append(p.bins, {'rem': " + str(L) +
        " - i.seg_len, 'bin_id': len(p.bins) + 1})"
        " ELSE list_transform(p.bins, b -> CASE WHEN b.bin_id ="
        " list_sort(list_filter(p.bins,"
        " x -> x.rem >= i.seg_len))[1].bin_id"
        " THEN {'rem': b.rem - i.seg_len, 'bin_id': b.bin_id}"
        " ELSE b END) END,"
        " list_append(p.placed, {'doc_id': i.doc_id,"
        " 'chunk_id': i.chunk_id, 'len': i.seg_len,"
        " 'bin_id': CASE WHEN len(list_filter(p.bins,"
        " b -> b.rem >= i.seg_len)) = 0 THEN len(p.bins) + 1"
        " ELSE list_sort(list_filter(p.bins,"
        " x -> x.rem >= i.seg_len))[1].bin_id END,"
        " 'slot': len(p.placed) + 1})"
        " FROM pk p JOIN it i ON i.bucket = p.bucket"
        " AND i.rk = p.step + 1)",
        "fin AS (SELECT p.bucket,"
        " unnest(p.placed, recursive := false) AS s"
        " FROM pk p JOIN nb ON nb.bucket = p.bucket"
        " AND p.step = nb.mx)",
        "seg AS (SELECT bucket, s.bin_id AS seq_id, s.slot AS slot,"
        " s.doc_id AS doc_id, s.chunk_id AS chunk_id,"
        " s.len AS seg_len,"
        " SUM(s.len) OVER (PARTITION BY bucket, s.bin_id"
        " ORDER BY s.slot) - s.len AS seq_offset FROM fin)",
    ]
    return parts


def _bfd_oracle() -> str:
    return ("WITH RECURSIVE " + ",\n".join(_bfd_seg_ctes()) + """
SELECT bucket, CAST(seq_id AS BIGINT) AS seq_id,
  CAST(slot AS BIGINT) AS slot, doc_id, chunk_id,
  CAST(seg_len AS BIGINT) AS seg_len,
  CAST(seq_offset AS BIGINT) AS seq_offset
FROM seg""")


@spec(
    "doc_pack_bfd",
    _bfd_oracle(),
    description="Tokenizer-aware best-fit-decreasing packing: BPE "
                "token lengths, ceil-split over-long docs, BFD "
                "greedy inside deterministic hash buckets (one "
                "bucket shuffle + Arrow kernel) — every placement, "
                "slot and in-sequence offset value-exact vs a "
                "recursive-CTE replay of the greedy",
    tags=("pipeline", "packing", "text"),
)
def q_doc_pack_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.bpe import bpe_encode
    from xsarsea_spark.pipeline.packing import pack_best_fit

    docs = load(spark, sf_dir, "documents")
    lens = bpe_encode(docs, n_merges=_BPE_MERGES).select(
        "doc_id", "n_tokens_encoded")
    return pack_best_fit(lens, seq_len=_BFD_LEN, n_buckets=_BFD_NB,
                         len_col="n_tokens_encoded")


def _bfd_masks_oracle() -> str:
    return ("WITH RECURSIVE " + ",\n".join(_bfd_seg_ctes()) + f"""
SELECT bucket, CAST(seq_id AS BIGINT) AS seq_id,
  CAST(COUNT(*) AS BIGINT) AS n_segments,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(SUM(seg_len) AS BIGINT) AS fill_tokens,
  CAST({_BFD_LEN} - SUM(seg_len) AS BIGINT) AS pad_tokens,
  array_to_string(list(seg_len ORDER BY slot), ',') AS mask_spec,
  md5(array_to_string(list(doc_id ORDER BY slot), ','))
    AS docs_digest
FROM seg GROUP BY bucket, seq_id""")


@spec(
    "doc_pack_bfd_masks",
    _bfd_masks_oracle(),
    description="Per packed sequence of the BFD packing: segment "
                "count, distinct docs, fill/pad token budget and "
                "the slot-ordered segment-length mask spec (the "
                "block-diagonal attention mask) — membership pinned "
                "by a slot-ordered doc-id digest",
    tags=("pipeline", "packing", "text"),
)
def q_doc_pack_bfd_masks(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    seg = q_doc_pack_bfd(spark, sf_dir)
    return seg.groupBy("bucket", "seq_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_segments"),
        F.expr("CAST(COUNT(DISTINCT doc_id) AS BIGINT)")
        .alias("n_docs"),
        F.expr("CAST(SUM(seg_len) AS BIGINT)").alias("fill_tokens"),
        F.expr(f"CAST({_BFD_LEN} - SUM(seg_len) AS BIGINT)")
        .alias("pad_tokens"),
        F.expr("array_join(transform(array_sort(collect_list("
               "struct(slot, seg_len))),"
               " s -> CAST(s.seg_len AS STRING)), ',')")
        .alias("mask_spec"),
        F.expr("md5(array_join(transform(array_sort(collect_list("
               "struct(slot, doc_id))),"
               " s -> CAST(s.doc_id AS STRING)), ','))")
        .alias("docs_digest"))


# ----------------------------------------------------------------------
# Packing-efficiency report — the number a data-loader team actually
# decides with: BFD vs concat-then-chunk over the SAME BPE token
# lengths. Concat-chunk wastes ~nothing to padding but lets docs
# cross sequence boundaries (attention bleed or a mask with split
# docs); BFD never splits a doc that fits but pays padding. One row
# per method: sequence count, placed items, token totals, pad
# budget, utilization (exact-integer division) and how many docs
# cross/split. Shares the BFD recursive replay + the concat cumsum.
# ----------------------------------------------------------------------


def _pack_eff_oracle() -> str:
    L = _BFD_LEN
    parts = _bfd_seg_ctes()
    parts += [
        f"cc AS (SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n"
        f" AS cb FROM lens WHERE n >= 1)",
        "sp AS (SELECT doc_id, cb, n, unnest(range(0, 8)) AS k"
        " FROM cc)",
        f"cs AS (SELECT doc_id, cb // {L} + k AS seq_id,"
        f" LEAST(cb + n, (cb // {L} + k + 1) * {L})"
        f" - GREATEST(cb, (cb // {L} + k) * {L}) AS span_len"
        f" FROM sp WHERE (cb // {L} + k) * {L} < cb + n)",
        "bfd_seq AS (SELECT COUNT(*) AS ns FROM"
        " (SELECT DISTINCT bucket, seq_id FROM seg))",
        "bfd_split AS (SELECT COUNT(*) AS nc FROM (SELECT doc_id"
        " FROM seg GROUP BY doc_id HAVING COUNT(*) > 1))",
        "bfd_row AS (SELECT 'bfd' AS method,"
        " CAST(bs.ns AS BIGINT) AS n_seqs,"
        " CAST(COUNT(*) AS BIGINT) AS n_items,"
        " CAST(SUM(s.seg_len) AS BIGINT) AS total_tokens,"
        f" CAST(bs.ns * {L} - SUM(s.seg_len) AS BIGINT)"
        " AS pad_tokens,"
        f" SUM(s.seg_len) / CAST(bs.ns * {L} AS DOUBLE)"
        " AS utilization,"
        " CAST(bp.nc AS BIGINT) AS n_cross_docs"
        " FROM seg s, bfd_seq bs, bfd_split bp"
        " GROUP BY bs.ns, bp.nc)",
        "cc_seq AS (SELECT COUNT(DISTINCT seq_id) AS ns FROM cs)",
        "cc_split AS (SELECT COUNT(*) AS nc FROM (SELECT doc_id"
        " FROM cs GROUP BY doc_id HAVING COUNT(*) > 1))",
        "cc_row AS (SELECT 'concat_chunk' AS method,"
        " CAST(qs.ns AS BIGINT) AS n_seqs,"
        " CAST(COUNT(*) AS BIGINT) AS n_items,"
        " CAST(SUM(c.span_len) AS BIGINT) AS total_tokens,"
        f" CAST(qs.ns * {L} - SUM(c.span_len) AS BIGINT)"
        " AS pad_tokens,"
        f" SUM(c.span_len) / CAST(qs.ns * {L} AS DOUBLE)"
        " AS utilization,"
        " CAST(qp.nc AS BIGINT) AS n_cross_docs"
        " FROM cs c, cc_seq qs, cc_split qp"
        " GROUP BY qs.ns, qp.nc)",
    ]
    return ("WITH RECURSIVE " + ",\n".join(parts) + """
SELECT * FROM bfd_row UNION ALL SELECT * FROM cc_row""")


@spec(
    "doc_pack_efficiency",
    _pack_eff_oracle(),
    description="Packing-efficiency report over the same BPE token "
                "lengths: BFD vs concat-then-chunk — sequence "
                "counts, pad budget, utilization (exact-integer "
                "division) and boundary-crossing/split doc counts, "
                "one row per method",
    tags=("pipeline", "packing", "text"),
)
def q_doc_pack_efficiency(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.bpe import bpe_encode
    from xsarsea_spark.pipeline.packing import (
        pack_best_fit, pack_sequences_from_lengths)

    L = _BFD_LEN
    docs = load(spark, sf_dir, "documents")
    lens = bpe_encode(docs, n_merges=_BPE_MERGES).selectExpr(
        "doc_id", "CAST(n_tokens_encoded AS BIGINT) AS n") \
        .filter("n >= 1")
    lens = materialize(lens)   # two consumers, one BPE replay
    # report() consumes each layout three times (main agg, n_seqs,
    # split counts); without truncation the BFD kernel chain and the
    # concat-chunk cumsum chain re-execute per consumer (executed
    # plan: 3x FlatMapGroupsInPandas + 3x the crossJoin chain).
    # Both tables are chunk-scale rows of small integers — the same
    # boundedness class as lens above.
    seg = materialize(pack_best_fit(lens, seq_len=L,
                                    n_buckets=_BFD_NB, len_col="n"))
    cs = materialize(pack_sequences_from_lengths(lens, seq_len=L,
                                                 len_col="n"))

    def report(df, method, seq_cols, item_len, split_key):
        # all three side stats are 1-row aggregates broadcast back
        # onto the 1-row main agg — no driver-side action at build
        ns = (df.select(*seq_cols).distinct()
              .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("__ns")))
        nc = (df.groupBy(split_key)
              .agg(F.count(F.lit(1)).alias("__c"))
              .filter("__c > 1")
              .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("__nc")))
        agg = df.agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_items"),
            F.expr(f"CAST(SUM({item_len}) AS BIGINT)")
            .alias("total_tokens"))
        return (agg.join(F.broadcast(ns)).join(F.broadcast(nc))
                .selectExpr(
                    f"'{method}' AS method",
                    "__ns AS n_seqs",
                    "n_items",
                    "total_tokens",
                    f"CAST(__ns * {L} - total_tokens AS BIGINT)"
                    " AS pad_tokens",
                    f"total_tokens / CAST(__ns * {L} AS DOUBLE)"
                    " AS utilization",
                    "__nc AS n_cross_docs"))

    bfd = report(seg, "bfd", ["bucket", "seq_id"], "seg_len",
                 "doc_id")
    con = report(cs, "concat_chunk", ["seq_id"], "span_len",
                 "doc_id")
    return bfd.unionByName(con)



# ----------------------------------------------------------------------
# Population stability index (PSI) of the batch token-length
# distribution vs historical decile buckets — the other standard
# drift gate (distribution shape, complementing the moment-state
# z-gate). Decile boundaries come from the HISTORICAL split under a
# tie-broken total order (value at rank ceil(i*c/10), i = 1..9) via
# the distributed two-pass global_rank — no corpus-wide window; both
# splits bucket against the same value boundaries (9-row broadcast),
# counts are exact integers, probabilities are +0.5/+5 smoothed so
# empty buckets stay finite, and the single ln() crosses engines
# through the QTRUNC barrier.
# ----------------------------------------------------------------------


def _psi_oracle() -> str:
    psi = QTRUNC("(p_batch - p_hist) * ln(p_batch / p_hist)", 12)
    return f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n
           FROM documents WHERE text IS NOT NULL),
h AS (SELECT * FROM t WHERE doc_id % 3 < 2),
b AS (SELECT * FROM t WHERE doc_id % 3 = 2),
cnt AS (SELECT COUNT(*) AS c FROM h),
rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n, doc_id) AS rn FROM h),
spine AS (SELECT unnest(range(1, 10)) AS i),
bnd AS (SELECT s.i, r.n AS ub
        FROM spine s CROSS JOIN cnt CROSS JOIN rk r
        WHERE r.rn = CAST(ceil(s.i * cnt.c / 1e1) AS BIGINT)),
hb0 AS (SELECT h.doc_id, COALESCE(MIN(bd.i), 10) AS bucket
        FROM h LEFT JOIN bnd bd ON h.n <= bd.ub GROUP BY h.doc_id),
hb AS (SELECT bucket, COUNT(*) AS c FROM hb0 GROUP BY bucket),
bb0 AS (SELECT b.doc_id, COALESCE(MIN(bd.i), 10) AS bucket
        FROM b LEFT JOIN bnd bd ON b.n <= bd.ub GROUP BY b.doc_id),
bb AS (SELECT bucket, COUNT(*) AS c FROM bb0 GROUP BY bucket),
th AS (SELECT COUNT(*) AS t FROM h),
tb AS (SELECT COUNT(*) AS t FROM b),
spine10 AS (SELECT unnest(range(1, 11)) AS bucket),
j AS (
  SELECT s.bucket, CAST(bd.ub AS BIGINT) AS ub,
    CAST(COALESCE(hb.c, 0) AS BIGINT) AS n_hist,
    CAST(COALESCE(bb.c, 0) AS BIGINT) AS n_batch,
    (CAST(COALESCE(hb.c, 0) AS DOUBLE) + 0.5e0)
      / (CAST(th.t AS DOUBLE) + 5e0) AS p_hist,
    (CAST(COALESCE(bb.c, 0) AS DOUBLE) + 0.5e0)
      / (CAST(tb.t AS DOUBLE) + 5e0) AS p_batch
  FROM spine10 s
  CROSS JOIN th CROSS JOIN tb
  LEFT JOIN bnd bd ON bd.i = s.bucket
  LEFT JOIN hb ON hb.bucket = s.bucket
  LEFT JOIN bb ON bb.bucket = s.bucket)
SELECT bucket, ub, n_hist, n_batch, p_hist, p_batch,
  {psi} AS psi_term
FROM j
"""


@spec(
    "doc_length_psi",
    _psi_oracle(),
    description="Population stability index of batch vs historical "
                "token-length deciles: boundaries via the two-pass "
                "distributed rank, smoothed probabilities, one "
                "QTRUNC-barriered ln — the distribution-shape drift "
                "gate, value-exact per bucket",
    tags=("pipeline", "text"),
)
def q_doc_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    docs = load(spark, sf_dir, "documents")
    t = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.expr("size(split(text, ' '))").alias("n"))
    h = t.filter("doc_id % 3 < 2")
    b = t.filter("doc_id % 3 = 2")
    cnt = h.agg(F.count(F.lit(1)).alias("c"))
    rk = global_rank(h, [F.asc("n"), F.asc("doc_id")], rank_col="rn")
    spine = spark.range(1, 10).select(F.col("id").alias("i"))
    bnd = (
        rk.join(F.broadcast(
            spine.crossJoin(cnt).select(
                "i",
                F.expr("CAST(ceil(i * c / 1e1) AS BIGINT)")
                .alias("__target"))),
            on=F.col("rn") == F.col("__target"))
        .select("i", F.col("n").alias("ub"))
    )

    def bucketize(df):
        return (
            df.join(F.broadcast(bnd), on=F.col("n") <= F.col("ub"),
                    how="left")
            .groupBy("doc_id")
            .agg(F.expr("COALESCE(MIN(i), 10)").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    hb = bucketize(h)
    bb = bucketize(b)
    th = h.agg(F.count(F.lit(1)).alias("t"))
    tb = b.agg(F.count(F.lit(1)).alias("t"))
    spine10 = spark.range(1, 11).select(F.col("id").alias("bucket"))
    j = (
        spine10.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(tb.withColumnRenamed("t", "tbat")))
        .join(F.broadcast(bnd.withColumnRenamed("i", "bucket")),
              on="bucket", how="left")
        .join(F.broadcast(hb.withColumnRenamed("c", "ch")),
              on="bucket", how="left")
        .join(F.broadcast(bb.withColumnRenamed("c", "cb")),
              on="bucket", how="left")
        .select(
            "bucket",
            F.col("ub").cast("bigint").alias("ub"),
            F.expr("CAST(COALESCE(ch, 0) AS BIGINT)").alias("n_hist"),
            F.expr("CAST(COALESCE(cb, 0) AS BIGINT)").alias("n_batch"),
            F.expr("(CAST(COALESCE(ch, 0) AS DOUBLE) + 0.5e0)"
                   " / (CAST(t AS DOUBLE) + 5e0)").alias("p_hist"),
            F.expr("(CAST(COALESCE(cb, 0) AS DOUBLE) + 0.5e0)"
                   " / (CAST(tbat AS DOUBLE) + 5e0)").alias("p_batch"),
        )
    )
    return j.withColumn(
        "psi_term",
        F.expr(QTRUNC("(p_batch - p_hist) * ln(p_batch / p_hist)", 12)))


# ----------------------------------------------------------------------
# Tokenizer fertility: the per-language compression/fertility report
# every tokenizer evaluation ships (chars per token, raw-per-encoded
# ratio by language bucket) — the encode loop's per-doc counts rolled
# up against the corpus language column. Integer sums are exact
# BIGINTs; the two ratios are single double divisions of those.
# ----------------------------------------------------------------------


def _fertility_oracle() -> str:
    return ("WITH " + ",\n".join(_bpe_ctes(True)) + f""",
enc AS (SELECT doc_id,
  list_reduce(list_transform(t, x -> len(string_split(x, ' '))),
    (a, b) -> a + b) AS n_raw,
  len(t) AS n_enc FROM t{_BPE_MERGES}),
j AS (SELECT d.lang, length(d.text) AS n_chars, e.n_raw, e.n_enc
      FROM enc e JOIN documents d ON d.doc_id = e.doc_id),
g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        CAST(SUM(n_raw) AS BIGINT) AS n_tokens_raw,
        CAST(SUM(n_enc) AS BIGINT) AS n_tokens_encoded
      FROM j GROUP BY lang)
SELECT lang, n_docs, n_chars, n_tokens_raw, n_tokens_encoded,
  CAST(n_chars AS DOUBLE) / CAST(n_tokens_encoded AS DOUBLE)
    AS chars_per_token,
  CAST(n_tokens_raw AS DOUBLE) / CAST(n_tokens_encoded AS DOUBLE)
    AS compression
FROM g""")


@spec(
    "doc_tokenizer_fertility",
    _fertility_oracle(),
    description="Per-language tokenizer fertility report: exact "
                "BIGINT char/token sums from the BPE encode loop "
                "rolled up by language, chars-per-token and "
                "compression as single double divisions — the whole "
                "train+encode+rollup replayed by the oracle",
    tags=("pipeline", "text", "iterative"),
)
def q_doc_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.bpe import bpe_encode

    docs = load(spark, sf_dir, "documents")
    enc = bpe_encode(docs, n_merges=_BPE_MERGES).select(
        "doc_id", "n_tokens_raw", "n_tokens_encoded")
    j = enc.join(
        docs.select("doc_id", "lang",
                    F.expr("length(text)").alias("__chars")),
        on="doc_id")
    g = j.groupBy("lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(__chars) AS BIGINT)").alias("n_chars"),
        F.expr("CAST(SUM(n_tokens_raw) AS BIGINT)")
        .alias("n_tokens_raw"),
        F.expr("CAST(SUM(n_tokens_encoded) AS BIGINT)")
        .alias("n_tokens_encoded"))
    return g.select(
        "lang", "n_docs", "n_chars", "n_tokens_raw",
        "n_tokens_encoded",
        F.expr("CAST(n_chars AS DOUBLE)"
               " / CAST(n_tokens_encoded AS DOUBLE)")
        .alias("chars_per_token"),
        F.expr("CAST(n_tokens_raw AS DOUBLE)"
               " / CAST(n_tokens_encoded AS DOUBLE)")
        .alias("compression"))


# ----------------------------------------------------------------------
# Tokenizer artifact persistence: train once -> persist the merge
# table (the ENTIRE learned state, bounded rows) -> reload -> encode
# with the loaded artifact in one zero-exchange Arrow pass (no
# retraining, no per-round jobs). The production tokenizer lifecycle:
# at 100 TB the trainer runs once on a corpus sample and every
# encode job forever after broadcast-reads the artifact. The oracle
# is the full train+encode replay — values can only match if the
# save -> load -> greedy-apply path reproduces the training loop's
# encode bit-for-bit (the greedy-scan/run-parity equivalence is
# additionally pinned by tests/test_bpe_artifact.py).
# ----------------------------------------------------------------------


@spec(
    "doc_bpe_artifact_encode",
    _bpe_encode_oracle(),
    description="BPE tokenizer artifact round trip: train -> persist "
                "merge table to parquet -> reload -> encode via the "
                "single-pass Arrow applier — value-identical to the "
                "in-loop encode (same chained-CTE oracle), proving "
                "the persisted artifact is the tokenizer",
    tags=("pipeline", "text", "iterative"),
)
def q_doc_bpe_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from xsarsea_spark.pipeline.bpe import (bpe_apply, bpe_load_merges,
                                            bpe_save_merges, bpe_train)

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_MERGES)
    path = scratch_path(spark, "bpe_artifact", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    bpe_save_merges(merges, path)
    return bpe_apply(docs, bpe_load_merges(spark, path))


# ----------------------------------------------------------------------
# DoReMi-style mixture reweighting (Xie et al. 2023, simplified to
# one proxy signal): per-source EXCESS loss under the corpus bigram
# LM — sources whose text the reference model finds harder than
# average get exponentially upweighted from their baseline token
# share (w_s ∝ base_frac_s * exp(eta * excess_s), normalized). This
# computes the WEIGHTS the mixture queries consume
# (doc_mixture_schedule turns weights into a training order,
# doc_mixture_sample into keep rates).
#
# Determinism: per-source log-likelihoods are DECIMAL sums of the
# QTRUNC'd bigram terms (order-independent); every rate/excess is a
# fixed chain of single IEEE ops on identical inputs; exp passes the
# QTRUNC barrier; and the normalization rides an INTEGER grid —
# floor(raw * 1e12) to BIGINT, exact BIGINT total, one final
# division — so the ~20-row sum can't disagree by add order.
# Scale: the heavy part is the corpus bigram scoring already proven
# by doc_bigram_lm; everything after is a sources-sized frame.
# ----------------------------------------------------------------------

_DRM_ETA = "4e0"
_DRM_GRID = 12


def _reweight_oracle() -> str:
    from xsarsea_spark.suite.base import QTRUNC

    g = QTRUNC(f"exp({_DRM_ETA} * excess)", 9)
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
  FROM t),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
vocab AS (
  SELECT COUNT(DISTINCT x) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
scored AS (
  SELECT doc_id, {{term}} AS term
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab),
s AS (
  SELECT d.source,
    CAST(COUNT(DISTINCT sc.doc_id) AS BIGINT) AS n_docs,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    SUM(CAST(sc.term AS DECIMAL(38,9))) AS ll
  FROM scored sc JOIN documents d ON d.doc_id = sc.doc_id
  GROUP BY d.source),
tot AS (SELECT SUM(n_tokens) AS tt, SUM(ll) AS tl FROM s),
j AS (
  SELECT source, n_docs, n_tokens,
    CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS base_frac,
    -(CAST(ll AS DOUBLE)) / CAST(n_tokens AS DOUBLE) AS nll_rate,
    (-(CAST(ll AS DOUBLE)) / CAST(n_tokens AS DOUBLE))
      - (-(CAST(tl AS DOUBLE)) / CAST(tt AS DOUBLE)) AS excess
  FROM s CROSS JOIN tot),
k AS (
  SELECT *, CAST(FLOOR(base_frac * {g} * 1e{_DRM_GRID}) AS BIGINT)
    AS wq FROM j),
den AS (SELECT SUM(wq) AS dd FROM k)
SELECT source, n_docs, n_tokens, base_frac, nll_rate, excess,
  CAST(wq AS DOUBLE) / CAST(dd AS DOUBLE) AS weight
FROM k CROSS JOIN den
"""


@spec(
    "doc_mixture_reweight",
    _reweight_oracle().format(term=_bigram_term()),
    description="DoReMi-style mixture reweighting: per-source excess "
                "bigram-LM loss vs the corpus rate, exponentially "
                "tilted from the baseline token share and normalized "
                "on an integer grid — the weight vector the mixture "
                "schedule/sample queries consume; DECIMAL "
                "log-likelihood sums, QTRUNC'd exp, order-independent "
                "normalization",
    tags=("pipeline", "text", "lm", "sampling"),
)
def q_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import bigrams
    from xsarsea_spark.suite.base import QTRUNC

    docs = load(spark, sf_dir, "documents")
    bg = bigrams(docs)
    # c1 derived from c12 at vocabulary scale (one corpus bigram
    # aggregation instead of two) and pre-joined onto c12 so the
    # corpus stream is joined once — the _bigram_ll rewrite
    c12 = materialize(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")),
        eager=False)
    c1 = c12.groupBy("w1").agg(F.expr("SUM(c12)").alias("c1"))
    vocab = docs.selectExpr("explode(split(text, ' ')) AS x").agg(
        F.countDistinct("x").alias("v"))
    scored = (
        bg.join(c12.join(c1, on="w1"), on=["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .selectExpr("doc_id", f"{_bigram_term()} AS term")
    )
    # the source-count-sized stage table feeds every downstream
    # crossJoin branch (tot, j, den, the final projection) — without
    # the checkpoint each branch re-executed the whole corpus-scale
    # scoring lineage (40 parquet scans in the executed plan)
    s = materialize(
        scored.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source").agg(
            F.expr("CAST(COUNT(DISTINCT doc_id) AS BIGINT)")
            .alias("n_docs"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_tokens"),
            F.expr("SUM(CAST(term AS DECIMAL(38,9)))").alias("__ll")),
        eager=False)
    tot = s.groupBy().agg(F.expr("SUM(n_tokens)").alias("__tt"),
                          F.expr("SUM(__ll)").alias("__tl"))
    g = QTRUNC(f"exp({_DRM_ETA} * excess)", 9)
    j = (
        s.crossJoin(F.broadcast(tot))
        .withColumn("base_frac", F.expr(
            "CAST(n_tokens AS DOUBLE) / CAST(__tt AS DOUBLE)"))
        .withColumn("nll_rate", F.expr(
            "-(CAST(__ll AS DOUBLE)) / CAST(n_tokens AS DOUBLE)"))
        .withColumn("excess", F.expr(
            "nll_rate - (-(CAST(__tl AS DOUBLE))"
            " / CAST(__tt AS DOUBLE))"))
        .withColumn("__wq", F.expr(
            f"CAST(FLOOR(base_frac * {g} * 1e{_DRM_GRID}) AS BIGINT)"))
    )
    den = j.groupBy().agg(F.expr("SUM(__wq)").alias("__dd"))
    return (
        j.crossJoin(F.broadcast(den))
        .selectExpr("source", "n_docs", "n_tokens", "base_frac",
                    "nll_rate", "excess",
                    "CAST(__wq AS DOUBLE) / CAST(__dd AS DOUBLE)"
                    " AS weight")
    )


# ----------------------------------------------------------------------
# Token-budget mixture selection — the step that MATERIALIZES a
# mixture: given per-source integer weights and a total token
# budget, take each source's docs in deterministic hash-permutation
# order until the source's budget share is crossed (the crossing doc
# included, the standard fill rule; a source that runs out of tokens
# is reported exhausted). All-integer end to end.
#
# Scale shape: the per-source cumulative token count does NOT use a
# per-source window (a 100-TB source = one window partition = one
# task). It rides global_rank's distributed running sum over the
# (source, perm, doc) total order, then subtracts a per-source
# offset computed from the 20-row source-totals frame — the same
# two-pass trick rank.py itself uses.
# ----------------------------------------------------------------------

_TBS_DIV = 4      # total budget = corpus tokens div 4


def _token_budget_oracle() -> str:
    h40 = _H40_DUCK.format(x="source")
    return f"""
WITH d AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(1 + ({h40}) % 4 AS BIGINT) AS w
  FROM documents WHERE text IS NOT NULL),
r AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ROWS UNBOUNDED PRECEDING) AS cum_in
  FROM d),
stot AS (SELECT source, w, SUM(n_tokens) AS tok_s
         FROM d GROUP BY 1, 2),
wtot AS (SELECT SUM(w) AS tw, SUM(tok_s) AS tt FROM stot),
bud AS (SELECT source, w,
          ((tt // {_TBS_DIV}) * w) // tw AS budget_tokens
        FROM stot CROSS JOIN wtot),
sel AS (
  SELECT r.source, r.n_tokens FROM r JOIN bud USING (source)
  WHERE r.cum_in - r.n_tokens < bud.budget_tokens),
agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
          CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected
        FROM sel GROUP BY 1)
SELECT b.source, CAST(b.w AS BIGINT) AS w,
  CAST(b.budget_tokens AS BIGINT) AS budget_tokens,
  COALESCE(a.n_selected, 0) AS n_selected,
  COALESCE(a.tokens_selected, 0) AS tokens_selected,
  COALESCE(a.tokens_selected, 0) < b.budget_tokens AS exhausted
FROM bud b LEFT JOIN agg a USING (source)
"""


@spec(
    "doc_token_budget_select",
    _token_budget_oracle(),
    description="Token-budget mixture materialization: per-source "
                "integer budget shares (hash weights, exact integer "
                "splits), docs taken in deterministic hash-"
                "permutation order until the share is crossed — the "
                "per-source cumulative rides global_rank's "
                "distributed running sum plus a 20-row offset frame, "
                "never a per-source window; exhaustion reported",
    tags=("pipeline", "curation", "sampling"),
)
def q_token_budget_select(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.operators.rank import global_rank
    from xsarsea_spark.pipeline.text import HASH40_SQL

    h40 = HASH40_SQL.format(x="source")
    # lazily checkpointed: the narrow tokenized frame feeds the
    # global running sum AND the per-source totals, so the text
    # scan + split runs once instead of twice
    d = materialize(
        load(spark, sf_dir, "documents")
        .filter("text IS NOT NULL")
        .selectExpr("doc_id", "source",
                    "CAST(size(split(text, ' ')) AS BIGINT)"
                    " AS n_tokens",
                    f"CAST(1 + ({h40}) % 4 AS BIGINT) AS w"),
        eager=False)
    ranked = global_rank(
        d,
        [F.col("source").asc(),
         F.md5(F.col("doc_id").cast("string")).asc(),
         F.col("doc_id").asc()],
        rank_col="__gr", running_sums={"cum": "n_tokens"})
    # source-count-sized, but its corpus-scale aggregation would
    # otherwise re-run per consumer (wtot + the two bud branches)
    stot = materialize(
        d.groupBy("source", "w").agg(
            F.sum("n_tokens").alias("tok_s")),
        eager=False)
    wtot = stot.groupBy().agg(F.sum("w").alias("tw"),
                              F.sum("tok_s").alias("tt"))
    # exclusive prefix over the sources frame (one row per source —
    # cluster-sized, the rank.py offsets-window pattern)
    w_off = (Window.orderBy("source")
             .rowsBetween(Window.unboundedPreceding, -1))
    bud = (stot
           .select("source", "w", "tok_s",
                   F.coalesce(F.sum("tok_s").over(w_off),
                              F.lit(0)).alias("__off"))
           .crossJoin(F.broadcast(wtot))
           .withColumn("budget_tokens", F.expr(
               f"((tt div {_TBS_DIV}) * w) div tw")))
    sel = (ranked
           .join(F.broadcast(bud.select("source", "__off",
                                        "budget_tokens")),
                 on="source")
           .filter("cum - __off - n_tokens < budget_tokens"))
    agg = sel.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_selected"),
        F.expr("CAST(SUM(n_tokens) AS BIGINT)")
        .alias("tokens_selected"))
    return (bud.join(agg, on="source", how="left")
            .selectExpr(
                "source", "CAST(w AS BIGINT) AS w",
                "CAST(budget_tokens AS BIGINT) AS budget_tokens",
                "COALESCE(n_selected, 0L) AS n_selected",
                "COALESCE(tokens_selected, 0L) AS tokens_selected",
                "COALESCE(tokens_selected, 0L) < budget_tokens"
                " AS exhausted"))


# ----------------------------------------------------------------------
# Deterministic weighted mixture schedule — the training-order
# interleave a data-mixture config compiles to (oversample
# high-weight sources with low-discrepancy stride scheduling, the
# classic weighted-round-robin). All-integer: weight w_s from the
# source's content hash, stride K_s = 840/w_s (840 = lcm(1..4) scale
# so strides are exact integers), doc key = per-source hash-order
# rank * K_s, global position = the distributed two-pass rank over
# (key, source, doc_id). A real scheduler streams this order out;
# the global total order is exactly what global_rank exists for.
# ----------------------------------------------------------------------

_MIX_SCALE = 840


def _mix_oracle() -> str:
    h40 = _H40_DUCK.format(x="source")
    return f"""
WITH d AS (SELECT doc_id, source FROM documents
           WHERE text IS NOT NULL),
w AS (SELECT doc_id, source,
        1 + ({h40}) % 4 AS w FROM d),
r AS (SELECT doc_id, source, w,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      FROM w),
k AS (SELECT doc_id, source, w, r,
        r * ({_MIX_SCALE} // w) AS stride_key FROM r)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY stride_key, source, doc_id)
            AS BIGINT) AS position,
  doc_id, source, CAST(w AS INT) AS w, CAST(r AS BIGINT) AS r
FROM k
"""


@spec(
    "doc_mixture_schedule",
    _mix_oracle(),
    description="Deterministic weighted mixture schedule: per-source "
                "hash-order rank, integer stride key rank*(840/w), "
                "global training position via the distributed "
                "two-pass rank — the low-discrepancy interleave a "
                "mixture config compiles to, bit-exact in integers",
    tags=("pipeline", "curation"),
)
def q_doc_mixture_schedule(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from xsarsea_spark.operators.rank import global_rank
    from xsarsea_spark.pipeline.text import HASH40_SQL

    h40 = HASH40_SQL.format(x="source")
    d = (load(spark, sf_dir, "documents")
         .filter("text IS NOT NULL")
         .selectExpr("doc_id", "source",
                     f"CAST(1 + ({h40}) % 4 AS INT) AS w"))
    wsrc = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    k = (d.withColumn("r", F.row_number().over(wsrc).cast("long"))
         .withColumn("stride_key",
                     F.expr(f"r * ({_MIX_SCALE} div w)")))
    out = global_rank(
        k, [F.col("stride_key").asc(), F.col("source").asc(),
            F.col("doc_id").asc()], rank_col="position")
    return out.selectExpr("CAST(position AS BIGINT) AS position",
                          "doc_id", "source", "w", "r")


# ----------------------------------------------------------------------
# Generalized suffix array by distributed prefix doubling + LCP walk
# -> per-doc longest duplicated substring (true arbitrary length — the
# capability fixed-n gram dedup cannot provide; Lee et al. 2022 §4).
# All-integer (code points, dense ranks, lengths): the oracle replays
# every doubling round with window DENSE_RANK and matches bit-exactly.
# Superlinear-constant operator -> capped slice (every 7th doc), the
# _SSJ_CAP precedent, in query AND oracle.
# ----------------------------------------------------------------------

# ONE corpus slice for the whole suffix family (longest-dup-span,
# exact cross-doc LCP, source matrix) so all three consumers share a
# single cached rank-table ladder instead of paying two cold builds.
# mod-7 because the provenance matrix needs a slice COPRIME to the
# synthetic 20-source cycle (source = src{doc_id % 20}); a mod-10
# slice would collapse the corpus to two sources.
_SFX_MOD, _SFX_ROUNDS = 7, 7      # 2^7 covers max tokens per doc (100)


def _sfx_lcp_ctes(mod: int = _SFX_MOD) -> list:
    """Shared chained-CTE replay of the suffix machinery up to the
    clamped adjacent-pair LCPs (``lc``): the slice (``sl``, carrying
    source for the provenance roll-up), the prefix-doubling rank
    ladder, the SA order, and the rank-table walk. ``mod`` picks the
    doc_id slice — the provenance matrix uses one COPRIME to the
    synthetic source cycle (source = src{doc_id % 20}), because a
    mod-10 slice would collapse the corpus to two sources."""
    h40 = _H40_DUCK.format(x="l[CAST(p AS INT)]")
    parts = [
        f"sl AS (SELECT doc_id, source, text,"
        f" string_split(text, ' ') AS l,"
        f" len(string_split(text, ' ')) AS ln"
        f" FROM documents WHERE text IS NOT NULL"
        f" AND doc_id % {mod} = 0)",
        f"t0 AS (SELECT doc_id, p, {h40} AS r FROM"
        " (SELECT doc_id, unnest(range(1, ln + 1)) AS p, l"
        " FROM sl))",
    ]
    for k in range(1, _SFX_ROUNDS + 1):
        h = 1 << (k - 1)
        parts.append(
            f"t{k} AS MATERIALIZED (SELECT a.doc_id, a.p, DENSE_RANK() OVER"
            f" (ORDER BY a.r, COALESCE(b.r, 0)) AS r"
            f" FROM t{k - 1} a LEFT JOIN t{k - 1} b"
            f" ON b.doc_id = a.doc_id AND b.p = a.p + {h})")
    parts += [
        f"ord AS MATERIALIZED (SELECT doc_id, p, ROW_NUMBER() OVER"
        f" (ORDER BY r, doc_id, p) AS n FROM t{_SFX_ROUNDS})",
        "w0 AS MATERIALIZED (SELECT a.n, a.doc_id AS da, a.p AS pa,"
        " b.doc_id AS db,"
        " b.p AS pb, CAST(0 AS BIGINT) AS l"
        " FROM ord a JOIN ord b ON b.n = a.n + 1)",
    ]
    j = 0
    for k in range(_SFX_ROUNDS, -1, -1):
        h = 1 << k
        j += 1
        parts.append(
            f"w{j} AS MATERIALIZED (SELECT q.n, q.da, q.pa, q.db, q.pb,"
            f" CASE WHEN ta.r IS NOT NULL AND tb.r IS NOT NULL"
            f" AND ta.r = tb.r THEN q.l + {h} ELSE q.l END AS l"
            f" FROM w{j - 1} q"
            f" LEFT JOIN t{k} ta ON ta.doc_id = q.da"
            f" AND ta.p = q.pa + q.l"
            f" LEFT JOIN t{k} tb ON tb.doc_id = q.db"
            f" AND tb.p = q.pb + q.l)")
    parts.append(
        f"lc AS (SELECT q.n, q.da, q.pa, q.db, q.pb,"
        f" LEAST(q.l, sa.ln - q.pa + 1, sb.ln - q.pb + 1) AS lcp"
        f" FROM w{j} q JOIN sl sa ON sa.doc_id = q.da"
        f" JOIN sl sb ON sb.doc_id = q.db)")
    return parts


def _sfx_oracle() -> str:
    parts = _sfx_lcp_ctes()
    parts += [
        "contrib AS (SELECT da AS doc_id, pa AS pos, lcp FROM lc"
        " UNION ALL SELECT db AS doc_id, pb AS pos, lcp FROM lc)",
        "best AS (SELECT doc_id, pos, lcp, ROW_NUMBER() OVER"
        " (PARTITION BY doc_id ORDER BY lcp DESC, pos ASC) AS rn"
        " FROM contrib)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT b.doc_id, CAST(b.lcp AS BIGINT) AS longest_dup_tokens,
  array_to_string(s.l[CAST(b.pos AS INT) :
                      CAST(b.pos + b.lcp - 1 AS INT)], ' ') AS dup_text
FROM best b JOIN sl s ON s.doc_id = b.doc_id WHERE b.rn = 1""")


@spec(
    "doc_longest_dup_span",
    _sfx_oracle(),
    description="Generalized suffix array by distributed prefix "
                "doubling over token positions (dense rank = distinct "
                "keys -> two-pass global_rank -> join back; no "
                "corpus-wide window) + rank-table LCP walk: per-doc "
                "longest token span occurring anywhere else in the "
                "corpus — all-integer, bit-exact vs a full "
                "chained-CTE replay",
    tags=("pipeline", "dedup", "iterative"),
)
def q_doc_longest_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.suffix import longest_dup_span

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_SFX_MOD} = 0")
    return longest_dup_span(docs, rounds=_SFX_ROUNDS, cached=True)


# ----------------------------------------------------------------------
# Source-pair substring-sharing matrix — the provenance-level signal
# ("which source pairs carry copied content") from the SAME suffix
# machinery: statistics over SA-adjacent suffix pairs whose two
# suffixes come from DIFFERENT documents, keyed by the unordered
# source pair. Any token span shared across documents puts at least
# one cross-document adjacent pair with LCP >= its length inside its
# suffix block (the block is contiguous and mixes the docs), so a
# corpus with cross-source copying cannot hide from this profile;
# the per-pair counts/max/mean are statistics OF the adjacent-pair
# population, the standard suffix-array dedup unit (Lee et al. §4).
# All-integer until the final mean division.
# ----------------------------------------------------------------------

_SXP_MIN = 5    # tokens: adjacency LCP >= this counts as shared
_SXP_MOD = _SFX_MOD    # shared slice -> shared cached ladder


def _sfx_source_oracle() -> str:
    parts = _sfx_lcp_ctes(mod=_SXP_MOD)
    parts += [
        "xd AS (SELECT LEAST(sa.source, sb.source) AS source_a,"
        " GREATEST(sa.source, sb.source) AS source_b, lc.lcp"
        " FROM lc JOIN sl sa ON sa.doc_id = lc.da"
        " JOIN sl sb ON sb.doc_id = lc.db WHERE lc.da != lc.db)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT source_a, source_b,
  CAST(COUNT(*) AS BIGINT) AS n_adj_pairs,
  CAST(SUM(CASE WHEN lcp >= {_SXP_MIN} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_shared_pairs,
  CAST(MAX(lcp) AS BIGINT) AS max_lcp,
  CAST(SUM(lcp) AS BIGINT) AS sum_lcp,
  CAST(SUM(lcp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_lcp
FROM xd GROUP BY source_a, source_b""")


@spec(
    "doc_source_crossdup_matrix",
    _sfx_source_oracle(),
    description="Source-pair substring-sharing matrix: cross-document "
                "SA-adjacent LCP statistics per unordered source pair "
                "from the distributed suffix array — counts, shared "
                "pairs >= 5 tokens, max/sum/mean LCP; the provenance "
                "signal of which source pairs carry copied content, "
                "all-integer until the final mean",
    tags=("pipeline", "dedup", "curation", "iterative"),
)
def q_doc_source_crossdup(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.suffix import (
        adjacent_lcp, sa_adjacent_pairs, suffix_rank_tables_cached)

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_SXP_MOD} = 0")
    lens = docs.selectExpr("doc_id", "size(split(text, ' ')) AS __len")
    tables = suffix_rank_tables_cached(docs, _SFX_ROUNDS)
    pairs = sa_adjacent_pairs(tables[-1])
    lcps = adjacent_lcp(pairs, tables, lens).filter("da != db")
    src = docs.select("doc_id", "source")
    xd = (lcps
          .join(src.selectExpr("doc_id AS da", "source AS __sa"),
                on="da")
          .join(src.selectExpr("doc_id AS db", "source AS __sb"),
                on="db")
          .selectExpr("least(__sa, __sb) AS source_a",
                      "greatest(__sa, __sb) AS source_b", "lcp"))
    return xd.groupBy("source_a", "source_b").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_adj_pairs"),
        F.expr(f"CAST(SUM(CASE WHEN lcp >= {_SXP_MIN} THEN 1 ELSE 0"
               f" END) AS BIGINT)").alias("n_shared_pairs"),
        F.expr("CAST(MAX(lcp) AS BIGINT)").alias("max_lcp"),
        F.expr("CAST(SUM(lcp) AS BIGINT)").alias("sum_lcp"),
        F.expr("CAST(SUM(lcp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")
        .alias("mean_lcp"))


# ----------------------------------------------------------------------
# EXACT per-document cross-document duplication — the block range-min
# upgrade over the SA-adjacent statistic: for EVERY token position,
# the exact longest prefix its suffix shares with a DIFFERENT
# document (nearest foreign suffix per side = run boundary; LCP =
# range-min of adjacent LCPs, computed as two per-run running mins).
# Adjacency alone scores only positions that happen to border a
# foreign suffix in SA order; this scores all of them, giving true
# cross-doc duplication COVERAGE per document. All-integer until the
# final coverage division.
# ----------------------------------------------------------------------


def _sfx_cross_oracle() -> str:
    parts = _sfx_lcp_ctes()
    parts += [
        # entry n picks up its boundary-adjacent pair LCPs: pair
        # n-1 spans (n-1, n) — its da is the PREVIOUS entry's doc —
        # and pair n spans (n, n+1)
        "ent AS (SELECT o.doc_id, o.p, o.n,"
        " lp.lcp AS lcp_prev, lp.da AS prev_doc, lq.lcp AS lcp_next"
        " FROM ord o LEFT JOIN lc lp ON lp.n = o.n - 1"
        " LEFT JOIN lc lq ON lq.n = o.n)",
        "runs AS (SELECT *, SUM(CASE WHEN prev_doc IS NULL"
        " OR prev_doc != doc_id THEN 1 ELSE 0 END)"
        " OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS run_id"
        " FROM ent)",
        "cx AS (SELECT doc_id, p, GREATEST("
        " MIN(COALESCE(lcp_prev, -1)) OVER (PARTITION BY run_id"
        " ORDER BY n ROWS UNBOUNDED PRECEDING),"
        " MIN(COALESCE(lcp_next, -1)) OVER (PARTITION BY run_id"
        " ORDER BY n ROWS BETWEEN CURRENT ROW AND UNBOUNDED"
        " FOLLOWING), 0) AS cross_lcp FROM runs)",
        "agg AS (SELECT doc_id,"
        " CAST(MAX(cross_lcp) AS BIGINT) AS max_cross_tokens,"
        " CAST(COUNT(*) AS BIGINT) AS n_pos,"
        f" CAST(SUM(CASE WHEN cross_lcp >= {_SXP_MIN} THEN 1 ELSE 0"
        " END) AS BIGINT) AS n_covered FROM cx GROUP BY doc_id)",
        "best AS (SELECT c.doc_id, CAST(MIN(c.p) AS BIGINT)"
        " AS best_pos FROM cx c JOIN agg a ON a.doc_id = c.doc_id"
        " AND c.cross_lcp = a.max_cross_tokens GROUP BY c.doc_id)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT a.doc_id, a.max_cross_tokens, b.best_pos, a.n_pos, a.n_covered,
  CAST(a.n_covered AS DOUBLE) / CAST(a.n_pos AS DOUBLE) AS coverage
FROM agg a JOIN best b ON b.doc_id = a.doc_id""")


@spec(
    "doc_crossdup_exact",
    _sfx_cross_oracle(),
    description="Exact per-document cross-document duplication via "
                "block range-min over the suffix-array adjacent-LCP "
                "array: per position the exact longest span shared "
                "with a DIFFERENT document (two per-run running mins "
                "— runs are doc-bounded), rolled up to per-doc max, "
                "argmax position and >= 5-token coverage — the exact "
                "value the SA-adjacency statistic only lower-bounds "
                "per position",
    tags=("pipeline", "dedup", "curation", "iterative"),
)
def q_doc_crossdup_exact(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.suffix import cross_doc_lcp

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_SFX_MOD} = 0")
    # cx feeds the per-doc rollup AND the argmax-position join: the
    # barrier keeps the whole range-min pipeline at one execution
    cx = materialize(cross_doc_lcp(docs, rounds=_SFX_ROUNDS,
                                   cached=True))
    agg = cx.groupBy("doc_id").agg(
        F.expr("CAST(MAX(cross_lcp) AS BIGINT)")
        .alias("max_cross_tokens"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pos"),
        F.expr(f"CAST(SUM(CASE WHEN cross_lcp >= {_SXP_MIN} THEN 1"
               " ELSE 0 END) AS BIGINT)").alias("n_covered"))
    best = (cx.join(agg.selectExpr("doc_id",
                                   "max_cross_tokens AS __mx"),
                    on="doc_id")
            .filter("cross_lcp = __mx").groupBy("doc_id")
            .agg(F.expr("CAST(MIN(pos) AS BIGINT)").alias("best_pos")))
    return (agg.join(best, on="doc_id")
            .selectExpr("doc_id", "max_cross_tokens", "best_pos",
                        "n_pos", "n_covered",
                        "CAST(n_covered AS DOUBLE)"
                        " / CAST(n_pos AS DOUBLE) AS coverage"))


# ----------------------------------------------------------------------
# C4-style line-level dedup: any line occurring >= 3 times across the
# corpus is removed from every document (the boilerplate-removal
# stage — nav bars, footers). Lines are 10-token windows here (the
# corpus has no newlines; a real corpus swaps the splitter). The
# oracle replays the hash count + rebuild and pins per-doc retained
# text by digest.
# ----------------------------------------------------------------------

_LD_W, _LD_MIN = 10, 3

_LINE_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
ln AS (SELECT doc_id, s.j AS line_no, s.line AS line FROM (
  SELECT doc_id, unnest(list_transform(
    range(0, (len(l) - 1) // {_LD_W} + 1),
    j -> struct_pack(j := j, line := array_to_string(
      l[j * {_LD_W} + 1 : j * {_LD_W} + {_LD_W}], ' ')))) AS s
  FROM t)),
h AS (SELECT *, {_H40_DUCK.format(x='line')} AS hh FROM ln),
c AS (SELECT hh, count(*) AS n FROM h GROUP BY hh),
k AS (SELECT h.*, c.n >= {_LD_MIN} AS removed
      FROM h JOIN c ON c.hh = h.hh)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  CAST(SUM(CASE WHEN removed THEN 0
       ELSE len(string_split(line, ' ')) END) AS BIGINT)
    AS retained_tokens,
  md5(array_to_string(list(line ORDER BY line_no)
      FILTER (WHERE NOT removed), chr(30))) AS retained_digest
FROM k GROUP BY doc_id
"""


@spec(
    "doc_line_dedup",
    _LINE_DEDUP_ORACLE,
    description="C4-style line dedup: lines occurring >= 3 times "
                "across the corpus removed from every doc (40-bit "
                "hash shuffle, never line strings); per-doc retained "
                "text pinned by an order-preserving digest",
    tags=("pipeline", "dedup"),
)
def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import line_dedup

    d = line_dedup(load(spark, sf_dir, "documents"),
                   line_words=_LD_W, min_count=_LD_MIN)
    return (
        d.groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_lines"),
            F.expr("CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END)"
                   " AS BIGINT)").alias("n_removed"),
            F.expr("CAST(SUM(CASE WHEN removed THEN 0"
                   " ELSE size(split(line, ' ')) END) AS BIGINT)")
            .alias("retained_tokens"),
            F.expr("md5(array_join(transform(array_sort("
                   "collect_list(CASE WHEN NOT removed THEN"
                   " named_struct('j', line_no, 's', line) END)),"
                   " e -> e.s), char(30)))").alias("retained_digest"),
        )
    )


# ----------------------------------------------------------------------
# Per-source boilerplate report — which sources/domains are dominated
# by repeated lines (nav bars, footers): the line-dedup hash counts
# rolled up per source. The production use: a curation pipeline drops
# or down-weights sources whose boilerplate fraction is pathological
# before paying any per-document quality scoring. Hash-only shuffles
# (the 40-bit line hash, never line strings), one corpus-to-corpus
# equi-join for source attribution, hash aggs only.
# ----------------------------------------------------------------------

_SRC_BOILER_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
ln AS (SELECT doc_id, s.j AS line_no, s.line AS line FROM (
  SELECT doc_id, unnest(list_transform(
    range(0, (len(l) - 1) // {_LD_W} + 1),
    j -> struct_pack(j := j, line := array_to_string(
      l[j * {_LD_W} + 1 : j * {_LD_W} + {_LD_W}], ' ')))) AS s
  FROM t)),
h AS (SELECT *, {_H40_DUCK.format(x='line')} AS hh FROM ln),
c AS (SELECT hh, count(*) AS n FROM h GROUP BY hh),
k AS (SELECT h.*, c.n >= {_LD_MIN} AS removed
      FROM h JOIN c ON c.hh = h.hh),
j AS (SELECT k.*, d.source FROM k
      JOIN documents d ON d.doc_id = k.doc_id)
SELECT source,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boiler_lines,
  CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS boiler_frac,
  CAST(SUM(CASE WHEN removed THEN len(string_split(line, ' '))
       ELSE 0 END) AS BIGINT) AS boiler_tokens
FROM j GROUP BY source
"""


@spec(
    "doc_source_boilerplate",
    _SRC_BOILER_ORACLE,
    description="Per-source boilerplate report: fraction of lines "
                "repeated >= 3 times corpus-wide, rolled up by "
                "source — the drop-pathological-domains curation "
                "signal; hash-only shuffles, hash aggs only",
    tags=("pipeline", "dedup", "text"),
)
def q_doc_source_boilerplate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import line_dedup

    docs = load(spark, sf_dir, "documents")
    d = line_dedup(docs, line_words=_LD_W, min_count=_LD_MIN)
    j = d.join(docs.select("doc_id", "source"), on="doc_id")
    return j.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_lines"),
        F.expr("CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_boiler_lines"),
        F.expr("CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END)"
               " AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")
        .alias("boiler_frac"),
        F.expr("CAST(SUM(CASE WHEN removed THEN size(split(line, ' '))"
               " ELSE 0 END) AS BIGINT)").alias("boiler_tokens"),
    )


# ----------------------------------------------------------------------
# Per-source token-budget cap — the "no domain dominates the mix"
# curation stage (RefinedWeb/FineWeb shape): within each source, docs
# are taken in deterministic hash-priority order until the cumulative
# token count exceeds the budget. The oracle replays the cumulative
# window and pins exact kept-set membership via a doc-id digest.
# ----------------------------------------------------------------------

_SRC_CAP_TOKENS = 600

_SOURCE_CAP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS ntok,
    md5(CAST(doc_id AS VARCHAR)) AS pr
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT *, row_number() OVER
      (PARTITION BY source ORDER BY pr, doc_id) AS rk,
    SUM(ntok) OVER (PARTITION BY source ORDER BY pr, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t),
k AS (SELECT *, (cum <= {_SRC_CAP_TOKENS} OR rk = 1) AS kept FROM c)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(ntok) AS BIGINT) AS tokens_total,
  CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
    AS tokens_kept,
  md5(array_to_string(list(doc_id ORDER BY doc_id)
      FILTER (WHERE kept), ',')) AS kept_ids_digest
FROM k GROUP BY source
"""


@spec(
    "doc_source_cap",
    _SOURCE_CAP_ORACLE,
    description="Per-source token-budget cap (RefinedWeb-style domain "
                "balancing): deterministic hash-priority order, "
                "cumulative token window per source, first doc always "
                "kept — kept-set membership pinned by a doc-id digest",
    tags=("pipeline", "curation"),
)
def q_doc_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.sampling import source_token_cap

    d = source_token_cap(load(spark, sf_dir, "documents"),
                         budget=_SRC_CAP_TOKENS)
    return (
        d.groupBy("source")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END)"
                   " AS BIGINT)").alias("n_kept"),
            F.expr("CAST(SUM(n_tokens) AS BIGINT)")
            .alias("tokens_total"),
            F.expr("CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END)"
                   " AS BIGINT)").alias("tokens_kept"),
            F.expr("md5(array_join(transform(array_sort("
                   "collect_list(CASE WHEN kept THEN doc_id END)),"
                   " x -> CAST(x AS STRING)), ','))")
            .alias("kept_ids_digest"),
        )
    )


# ----------------------------------------------------------------------
# GPT-2-style byte-level BPE: regex pre-tokenization (RE2/Java-shared
# pattern, merges never cross pre-token boundaries) + byte-fallback
# hex-pair symbols + the same merge loop, replayed round-by-round in
# chained DuckDB CTEs — argmaxes included, nothing smuggled across.
# ----------------------------------------------------------------------


def _bpe_bytelevel_ctes() -> list[str]:
    from xsarsea_spark.pipeline.bpe import GPT2_PRETOKEN_PAT
    pat = GPT2_PRETOKEN_PAT.replace("'", "''")
    parts = [
        f"bl_d AS (SELECT doc_id,"
        f" regexp_extract_all(text, '{pat}', 0) AS pts"
        f" FROM documents WHERE text IS NOT NULL)",
        "bl_p AS (SELECT doc_id, s.pt AS pt, s.tok AS tok FROM ("
        "SELECT doc_id, unnest(list_transform(range(1, len(pts) + 1),"
        " i -> struct_pack(pt := i, tok := pts[i]))) AS s FROM bl_d))",
        "t0 AS (SELECT doc_id, pt,"
        " list_transform(range(1, CAST(len(hex(encode(tok))) // 2"
        " AS INT) + 1), i -> substr(hex(encode(tok)), 2 * i - 1, 2))"
        " AS t FROM bl_p)",
    ]
    for r in range(_BPE_MERGES):
        o, kk, rebuild = _bpe_apply_duck("t", "top.lhs", "top.rhs")
        parts.append(
            f"pr{r} AS (SELECT"
            f" unnest(list_transform(range(1, len(t)),"
            f" i -> struct_pack(lhs := t[i], rhs := t[i + 1]))) AS s"
            f" FROM t{r} WHERE len(t) >= 2)")
        parts.append(
            f"top{r} AS (SELECT s.lhs AS lhs, s.rhs AS rhs,"
            f" COUNT(*) AS n FROM pr{r}"
            f" GROUP BY 1, 2 ORDER BY n DESC, lhs, rhs LIMIT 1)")
        parts.append(
            f"a{r} AS (SELECT doc_id, pt, t, {o} AS o"
            f" FROM t{r} LEFT JOIN top{r} top ON TRUE)")
        parts.append(
            f"b{r} AS (SELECT doc_id, pt, t, o, {kk} AS kk FROM a{r})")
        parts.append(
            f"t{r + 1} AS (SELECT doc_id, pt, {rebuild} AS t"
            f" FROM b{r})")
    return parts


def _bpe_bytelevel_oracle() -> str:
    final = f"""
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_pretokens,
  CAST(SUM(list_reduce(list_transform(t,
    x -> len(string_split(x, ' '))), (a, b) -> a + b)) AS BIGINT)
    AS n_bytes,
  CAST(SUM(len(t)) AS BIGINT) AS n_tokens_encoded,
  CAST(SUM(list_reduce(list_transform(t,
    x -> len(string_split(x, ' '))), (a, b) -> a + b)) AS BIGINT)
    / CAST(SUM(len(t)) AS DOUBLE) AS compression,
  md5(array_to_string(list(array_to_string(t, chr(31)) ORDER BY pt),
      chr(30))) AS encoded_md5
FROM t{_BPE_MERGES} GROUP BY doc_id"""
    return "WITH " + ",\n".join(_bpe_bytelevel_ctes()) + final


@spec(
    "doc_bpe_bytelevel",
    _bpe_bytelevel_oracle(),
    description="GPT-2-style byte-level BPE: regex pre-tokenization "
                "(merges never cross pre-token boundaries) + UTF-8 "
                "byte-fallback symbols + the distributed merge loop; "
                "per-doc byte/token counts, compression and encoded "
                "digest — value-exact vs a full chained-CTE replay",
    tags=("pipeline", "text", "iterative"),
)
def q_doc_bpe_bytelevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.bpe import bpe_bytelevel_encode

    return bpe_bytelevel_encode(load(spark, sf_dir, "documents"),
                                n_merges=_BPE_MERGES)


# ----------------------------------------------------------------------
# Curriculum binning: quality-quartile assignment + per-bin token
# budgets (the mixture table a curriculum/annealing schedule consumes).
# Quartiles are EXACT NTILE(4) semantics over (quality DESC, doc_id)
# — deterministic tie-break, so bin membership is engine-identical
# even at equal scores — computed with the distributed two-pass rank
# (operators/rank.py), never a corpus-wide unpartitioned window.
# ----------------------------------------------------------------------

_CURR_QUALITY = """LEAST(GREATEST(
    LEAST(n_tokens / 32e0, 1e0) * 5e-1
    + (n_distinct / CAST(n_tokens AS DOUBLE)) * 4e-1
    + LEAST(swr * 4e0, 1e0) * 1e-1, 0e0), 1e0)"""

_CURRICULUM_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents),
s AS (SELECT doc_id, len(l) AS n_tokens,
        len(list_distinct(l)) AS n_distinct,
        len(list_filter(l, x -> x = 'a' OR x = 'the'))
          / CAST(len(l) AS DOUBLE) AS swr
      FROM t),
q AS (SELECT doc_id, n_tokens, {_CURR_QUALITY} AS quality FROM s),
b AS (SELECT doc_id, n_tokens, quality,
        NTILE(4) OVER (ORDER BY quality DESC, doc_id) AS bin
      FROM q)
SELECT bin, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS token_budget,
  MIN(quality) AS min_quality, MAX(quality) AS max_quality
FROM b GROUP BY bin
"""


@spec(
    "doc_quality_curriculum",
    _CURRICULUM_ORACLE,
    description="Curriculum binning: quality quartiles via one "
                "deterministic ntile window + per-bin token budgets "
                "— the mixture table a training schedule consumes",
    tags=("pipeline", "text", "sampling"),
)
def q_quality_curriculum(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import ntile_distributed
    from xsarsea_spark.pipeline.text import quality_score

    q = quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "quality")
    # exact NTILE(4) via the distributed two-pass rank — a global
    # ntile window would single-task-sort the whole corpus at scale
    b = ntile_distributed(
        q, 4, [F.col("quality").desc(), F.col("doc_id").asc()])
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(SUM(n_tokens) AS BIGINT)")
            .alias("token_budget"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


# ----------------------------------------------------------------------
# N-gram novelty: for each document, the fraction of its 8-gram
# positions whose gram is INTRODUCED by this document (no lower
# doc_id contains it) — the temporal-freshness signal of a corpus
# ingested in id order. Same hash-only wire as crossdup: the min
# introducing doc per 40-bit gram hash, joined back on the hash key.
# ----------------------------------------------------------------------

_NOV_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(l) - {_XD_N} + 2),
      i -> {_H40_DUCK.format(
          x=f"array_to_string(l[i:i + {_XD_N} - 1], ' ')")}))
      AS h
  FROM t WHERE len(l) >= {_XD_N}),
first AS (SELECT h, MIN(doc_id) AS introducer FROM g GROUP BY h)
SELECT doc_id, COUNT(*) AS n_grams,
  CAST(SUM(CASE WHEN introducer = doc_id THEN 1 ELSE 0 END)
       AS BIGINT) AS n_novel,
  CAST(SUM(CASE WHEN introducer = doc_id THEN 1 ELSE 0 END)
       AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM g JOIN first USING (h)
GROUP BY doc_id
"""


@spec(
    "doc_ngram_novelty",
    _NOV_ORACLE,
    description="Per-document n-gram novelty: fraction of 8-gram "
                "positions first introduced by this doc (id-order "
                "freshness signal) — hash-only wire, two shuffles on "
                "the 40-bit gram key",
    tags=("pipeline", "dedup", "text"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import _GRAM_CONCAT, HASH40_SQL

    docs = load(spark, sf_dir, "documents")
    gram = (
        f"transform(sequence(1, size(__toks) - {_XD_N - 1}),"
        f" i -> {HASH40_SQL.format(x=_GRAM_CONCAT.format(n=_XD_N))})"
    )
    grams = (
        docs.withColumn("__toks", F.split(F.col("text"), " "))
        .filter(F.expr(f"size(__toks) >= {_XD_N}"))
        .select("doc_id", F.explode(F.expr(gram)).alias("__h"))
    )
    first = grams.groupBy("__h").agg(
        F.min("doc_id").alias("introducer"))
    return (
        grams.join(first, on="__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.expr("CAST(SUM(CASE WHEN introducer = doc_id THEN 1"
                   " ELSE 0 END) AS BIGINT)").alias("n_novel"),
        )
        .withColumn("novelty",
                    F.expr("n_novel / CAST(n_grams AS DOUBLE)"))
    )


# ----------------------------------------------------------------------
# Maintain a curated z-ordered warehouse table END-TO-END: curate
# (exact dedup + length gate) -> write batch 1 via write_zordered ->
# ingest batch 2 incrementally (anti-join against the MATERIALIZED
# table, then z-clustered append) -> read the table back and profile
# it. The oracle replays the curation + profile on the source alone,
# so the value match certifies the whole write/append/read cycle
# preserved content exactly. The layout property itself (each file a
# tight hyper-rectangle of the key space) is pytest-asserted in
# tests/test_sources.py; sinks.py docstring covers why this is the
# 100-TB maintenance shape (per-ingest OPTIMIZE ZORDER clustering).
# ----------------------------------------------------------------------

_CUR_BITS, _CUR_SHIFT, _CUR_MINCHARS = 13, 10, 50


def _curated_maintain_oracle() -> str:
    from xsarsea_spark.sources.sinks import zorder_sql

    z = zorder_sql(["n_chars", "doc_id"], bits=_CUR_BITS)
    return f"""
WITH curated AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
    FROM documents d
    WHERE text IS NOT NULL AND n_chars >= {_CUR_MINCHARS}) t
  WHERE rn = 1)
SELECT (({z}) >> {_CUR_SHIFT}) AS zbucket,
  COUNT(*) AS n_docs,
  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  COUNT(DISTINCT lang) AS n_langs
FROM curated GROUP BY 1
"""


@spec(
    "curated_table_maintain",
    _curated_maintain_oracle(),
    description="End-to-end curated-table maintenance: exact-dedup "
                "curation, z-ordered parquet write, incremental "
                "anti-join append of the next batch, read-back "
                "profile — value-equal to replaying the curation on "
                "the source, certifying the write/append/read cycle",
    tags=("pipeline", "layout", "sink"),
)
def q_curated_table_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from pyspark.sql.window import Window

    from xsarsea_spark.sources.sinks import write_zordered, zorder_sql

    docs = load(spark, sf_dir, "documents")
    wmd5 = Window.partitionBy(F.expr("md5(text)")).orderBy("doc_id")
    curated = (
        docs.filter(F.expr(f"text IS NOT NULL"
                           f" AND n_chars >= {_CUR_MINCHARS}"))
        .withColumn("__rn", F.row_number().over(wmd5))
        .filter("__rn = 1")
        .select("doc_id", "lang", "n_chars")
    )
    base = scratch_path(spark, "curated", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # fresh maintenance cycle
    zcols = ["n_chars", "doc_id"]
    # batch 1: two thirds of the corpus; batch 2: the full curated set,
    # deduplicated against the MATERIALIZED table by anti-join (the
    # incremental-ingest shape: O(delta) join, not a recompute)
    write_zordered(curated.filter("doc_id % 3 > 0"), base, zcols,
                   bits=_CUR_BITS, n_files=8)
    existing = spark.read.parquet(base).select("doc_id")
    delta = curated.join(existing, on="doc_id", how="left_anti")
    write_zordered(delta, base, zcols, bits=_CUR_BITS, n_files=4,
                   mode="append")
    back = spark.read.parquet(base)
    z = zorder_sql(zcols, bits=_CUR_BITS)
    return (
        back.withColumn("zbucket", F.expr(f"({z}) >> {_CUR_SHIFT}"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# ----------------------------------------------------------------------
# STREAMING ingest into the curated z-ordered table: Structured
# Streaming (availableNow) over the documents source, per-micro-batch
# curation in foreachBatch (length gate + within-batch exact dedup),
# content dedup against the MATERIALIZED table, z-clustered append.
# The cross-batch dedup is the production two-tier shape: a PERSISTED
# bloom sidecar (KB-sized (word, bits) parquet, merged per ingest)
# splits the batch — bloom-NEGATIVE rows are definitely new and skip
# the table scan entirely; only bloom-POSITIVE rows pay the exact
# digest anti-join backstop, so per-ingest cost is O(batch) + O(fp
# rate x table digests) instead of a full table-digest scan per
# batch. Idempotent including the crash window: the sidecar records
# the table file inventory it covers, and a mismatch (crash between
# append and sidecar write) demotes the whole batch to the exact
# anti-join, so bloom-negatives are only ever trusted when the bloom
# provably covers every appended digest. The stream is run TWICE against
# one checkpoint: the second run consumes zero new files (source-side
# exactly-once), and the oracle value-matching a single batch replay
# of the curation proves the double-run added no duplicates.
# ----------------------------------------------------------------------

_ING_BLOOM_BITS, _ING_BLOOM_K = 1 << 17, 5


def _ingest_docs_stream(spark: SparkSession, sf_dir: str, schema,
                        base: str, prep=None,
                        min_chars: int = 0) -> DataFrame:
    """Stream the documents file twice over one checkpoint through the
    exactly-once ingest core into ``{base}/table`` (the second run
    reads no new files: a no-op) and return the table."""
    import os

    from xsarsea_spark.pipeline.ingest import ingest_curated_batch

    table_dir = os.path.join(base, "table")

    def ingest(df: DataFrame, batch_id: int) -> None:
        ingest_curated_batch(
            spark, df, table_dir, os.path.join(base, "bloom.parquet"),
            os.path.join(base, "bloom_sync.txt"),
            min_chars=min_chars, zcols=["n_chars", "doc_id"],
            zbits=_CUR_BITS, m_bits=_ING_BLOOM_BITS,
            k=_ING_BLOOM_K, prep=prep)

    src = _file_stream(spark, sf_dir, "documents", schema)
    ckpt_dir = os.path.join(base, "ckpt")
    run_available_now(src, ingest, ckpt_dir)
    run_available_now(src, ingest, ckpt_dir)   # zero new files: no-op
    return spark.read.parquet(table_dir)


def _ingest_rollup(table: DataFrame, key: str, n_name: str) -> DataFrame:
    """Per-``key`` row count, doc_id range and char total of an
    ingested table."""
    return table.groupBy(key).agg(
        F.count(F.lit(1)).alias(n_name),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sum_chars"))


def _stream_ingest_oracle() -> str:
    return f"""
WITH curated AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
    FROM documents d
    WHERE text IS NOT NULL AND n_chars >= {_CUR_MINCHARS}) t
  WHERE rn = 1)
SELECT lang,
  COUNT(*) AS n_docs,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM curated GROUP BY lang
"""


@spec(
    "stream_curated_ingest",
    _stream_ingest_oracle(),
    description="Structured-Streaming exactly-once ingest into the "
                "curated z-ordered table: foreachBatch curation, "
                "content-digest anti-join (idempotent appends), "
                "double availableNow run over one checkpoint; final "
                "table content value-equal to a batch curation replay",
    tags=("pipeline", "streaming", "sink", "layout"),
)
def q_stream_curated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = scratch_path(spark, "stream_curated", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    back = _ingest_docs_stream(spark, sf_dir, schema, base,
                               min_chars=_CUR_MINCHARS)
    return _ingest_rollup(back, "lang", "n_docs")


# ----------------------------------------------------------------------
# STREAMING URL-dedup ingest — the CCNet/C4 ingest order made
# streaming: URL-level dedup happens AT INGEST, before any content
# hashing. Same exactly-once two-tier core as stream_curated_ingest
# (persisted bloom sidecar + exact anti-join backstop + crash-window
# demotion), but the identity of "duplicate" is the canonical URL
# dup key (pipeline/urls.py) instead of the content digest — http/
# https recrawls, www/port/fragment/tracking-param variants of one
# resource all collapse to a single table row, canonical = lowest
# doc_id. The oracle is the one-shot batch replay of the same
# canonicalization + first-per-key pick.
# ----------------------------------------------------------------------


def _stream_url_oracle() -> str:
    from xsarsea_spark.pipeline.urls import url_cte_chain

    parts, prev = url_cte_chain(
        f"SELECT doc_id, n_chars, {_URL_SYNTH} AS url"
        f" FROM documents")
    parts += [
        # rows with no derivable URL identity are not ingested
        # (NULL-digest drop in the batch kernel); no-op on the clean
        # corpus, stated here so the semantics match by construction
        f"per AS (SELECT doc_id, COALESCE(n_chars, 0) AS n_chars,"
        f" url_norm, domain, md5(dup_key) AS digest FROM {prev}"
        f" WHERE dup_key IS NOT NULL)",
        "kept AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER"
        " (PARTITION BY digest ORDER BY doc_id) AS rn FROM per)"
        " WHERE rn = 1)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT domain, COUNT(*) AS n_urls,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY domain""")


@spec(
    "stream_url_ingest",
    _stream_url_oracle(),
    description="Structured-Streaming exactly-once URL-dedup ingest "
                "(the CCNet/C4 ingest order): per-micro-batch URL "
                "canonicalization, dup-key digest dedup against the "
                "persisted bloom sidecar + exact anti-join backstop, "
                "z-clustered append, double availableNow run over "
                "one checkpoint; final table value-equal to a "
                "one-shot batch replay",
    tags=("pipeline", "streaming", "dedup", "sink"),
)
def q_stream_url_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from xsarsea_spark.pipeline.urls import url_norm_steps

    base = scratch_path(spark, "stream_url", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema

    def url_prep(df: DataFrame) -> DataFrame:
        x = df.selectExpr("doc_id", "n_chars",
                          f"{_URL_SYNTH} AS url")
        for col, expr in url_norm_steps("spark"):
            x = x.withColumn(col, F.expr(expr))
        return x.selectExpr("doc_id",
                            "coalesce(n_chars, 0L) AS n_chars",
                            "url_norm", "domain",
                            "md5(dup_key) AS digest")

    back = _ingest_docs_stream(spark, sf_dir, schema, base, prep=url_prep)
    return _ingest_rollup(back, "domain", "n_urls")


# ----------------------------------------------------------------------
# STREAMING near-dup ingest — the MinHash-LSH twin of
# stream_curated_ingest: per-micro-batch MinHash banding, probe of
# the PERSISTED band table (the only index state), exact Jaccard
# verify of candidates, accept/drop by the one-shot drop-id_b
# precedence, exactly-once via checkpoint + id anti-join backstop,
# self-healing band index on crash (see pipeline/ingest.py). The
# oracle is the full-corpus one-shot near-dedup — value equality
# proves the batched, double-run stream converges to exactly the
# from-scratch answer.
# ----------------------------------------------------------------------


def _stream_neardup_oracle() -> str:
    pairs_sql = _minhash_oracle().strip()
    return f"""
WITH pairs AS ({pairs_sql}),
drops AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
kept AS (SELECT d.* FROM documents d
         LEFT JOIN drops ON drops.doc_id = d.doc_id
         WHERE drops.doc_id IS NULL)
SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
  MAX(doc_id) AS max_doc, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY lang
"""


@spec(
    "stream_neardup_ingest",
    _stream_neardup_oracle(),
    description="Structured-Streaming exactly-once MinHash-LSH "
                "near-dup ingest: persisted band-table index probed "
                "per micro-batch, exact Jaccard verify, self-healing "
                "crash recovery; accepted set value-equal to the "
                "one-shot full-corpus near-dedup",
    tags=("pipeline", "streaming", "dedup", "incremental"),
)
def q_stream_neardup_ingest(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    import os
    import shutil

    from xsarsea_spark.pipeline.ingest import ingest_neardup_batch

    base = scratch_path(spark, "stream_neardup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    seen_dir = os.path.join(base, "seen")
    bands_dir = os.path.join(base, "bands")
    marker_path = os.path.join(base, "bands_sync.txt")
    ckpt_dir = os.path.join(base, "ckpt")

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema

    def ingest(df: DataFrame, batch_id: int) -> None:
        ingest_neardup_batch(
            spark, df.select("doc_id", "lang", "n_chars", "text"),
            seen_dir, bands_dir, marker_path,
            n=_MH_N, k=_MH_K, threshold=_MH_T)

    src = _file_stream(spark, sf_dir, "documents", schema)
    run_available_now(src, ingest, ckpt_dir)
    run_available_now(src, ingest, ckpt_dir)   # zero new files: no-op

    return _ingest_rollup(spark.read.parquet(seen_dir).filter("accepted"),
                          "lang", "n_docs")


# ----------------------------------------------------------------------
# EXACT set-similarity self-join (prefix-filtering / PPJoin family):
# all document pairs with token-set Jaccard >= t, NO approximation —
# the exact counterpart of minhash_lsh_neardup. Scale shape: tokens
# get a global rarity rank (count asc — the standard prefix-filter
# order; vocabulary-sized build like the BM25 df table); each doc
# keeps only its PREFIX (|s| - ceil(t|s|) + 1 rarest tokens), and the
# candidate join is prefix-token equality — the prefix-filter theorem
# guarantees completeness (two sets with Jaccard >= t must share a
# prefix token under any global order), so exact verification runs on
# candidates only, never all pairs. The oracle is the quadratic
# definition itself, so the value match certifies the pruning lost
# nothing. Pruning effectiveness is corpus-dependent: this synthetic
# corpus is extremely homogeneous (9k true pairs at t=0.9 among 500
# docs), so candidates stay dense here; on real web corpora near-dup
# pairs are sparse and the rare-token prefixes cut candidates by
# orders of magnitude — the theorem (and the value check) hold either
# way.
# ----------------------------------------------------------------------

_SSJ_T = 0.9
# The similarity self-joins run on a deterministic 1000-doc slice:
# this synthetic corpus is so homogeneous that the TRUE result is
# quadratic in corpus size (measured 965k pairs at t=0.9 across the
# 5000 sf0.1 docs — any exact algorithm pays output size), so an
# uncapped bench run measures output materialization, not operator
# design. The cap is explicit in query AND oracle (never silent), is
# a no-op at the driver's sf0.01 (500 docs), and the scale story is
# carried by the prefix-filter candidate shape, which is output-bound.
_SSJ_CAP = 1000


def _setsim_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
    AND doc_id < {_SSJ_CAP}),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_filter(a.s, x -> list_contains(b.s, x))) AS n_common,
    len(a.s) AS na, len(b.s) AS nb
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
  CAST(n_common AS DOUBLE)
    / CAST(na + nb - n_common AS DOUBLE) AS jaccard
FROM p
WHERE CAST(n_common AS DOUBLE)
    / CAST(na + nb - n_common AS DOUBLE) >= {_SSJ_T}
"""


@spec(
    "doc_setsim_join",
    _setsim_oracle(),
    description="Exact Jaccard set-similarity self-join via prefix "
                "filtering (rarity-ranked prefix tokens as the only "
                "join key; exact verify on candidates) — value-equal "
                "to the quadratic definition, certifying the pruning "
                "is lossless",
    tags=("pipeline", "dedup", "join"),
)
def q_doc_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _setsim_pairs(spark, sf_dir)


def _rarity_rank(toks: DataFrame) -> DataFrame:
    """Global token rarity rank (document-frequency asc, token asc)
    — the standard prefix-filter order — via the distributed two-pass
    rank: a web-scale vocabulary (10^9 distinct tokens once typos and
    UUIDs are in) must not funnel through one unpartitioned window."""
    from xsarsea_spark.operators.rank import global_rank

    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    return global_rank(
        freq, [F.asc("__df"), F.asc("tok")], rank_col="__rk")


def _setsim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sets = (
        docs.filter(f"text IS NOT NULL AND length(text) > 0"
                    f" AND doc_id < {_SSJ_CAP}")
        .selectExpr("doc_id",
                    "array_distinct(split(text, ' ')) AS s")
        .withColumn("n", F.expr("size(s)"))
    )
    toks = sets.select("doc_id", F.explode("s").alias("tok"))
    rank = _rarity_rank(toks)
    ranked = (
        toks.join(rank.select("tok", "__rk"), on="tok")
        .groupBy("doc_id")
        .agg(F.expr("transform(array_sort(collect_list("
                    "struct(__rk, tok))), e -> e.tok)").alias("__o"))
    )
    prefixes = (
        ranked.join(sets.select("doc_id", "n"), on="doc_id")
        .selectExpr(
            "doc_id", "n",
            f"slice(__o, 1, size(__o) - CAST(ceil({_SSJ_T} *"
            " size(__o)) AS INT) + 1) AS __p")
        .select("doc_id", "n",
                F.posexplode("__p").alias("__pos", "tok"))
    )
    # PPJoin-style exact pruning BEFORE the distinct: both filters
    # are NECESSARY conditions for jaccard >= t, so they only drop
    # pairs the verify stage would discard anyway (the 1e-9 slack
    # over-keeps any float-boundary case; verification is exact).
    # - length: t <= J <= min(na,nb)/max(na,nb), so sizes must be
    #   within a factor of t of each other;
    # - position: a qualifying pair needs overlap
    #   c >= t/(1+t)*(na+nb), and its FIRST prefix match at 0-based
    #   positions (pa, pb) bounds c <= 1 + min(na-pa-1, nb-pb-1) —
    #   a qualifying pair always survives via its first match.
    # Measured at sf0.1: candidate pairs 445k -> a small multiple of
    # the 36k true pairs, and the verify join shrinks to match.
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), on="tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.expr(
            f"CAST(a.n AS DOUBLE) * {_SSJ_T} <= CAST(b.n AS DOUBLE)"
            f" + 1e-9 AND CAST(b.n AS DOUBLE) * {_SSJ_T}"
            " <= CAST(a.n AS DOUBLE) + 1e-9"))
        .filter(F.expr(
            "CAST(1 + least(a.n - a.__pos - 1, b.n - b.__pos - 1)"
            f" AS DOUBLE) + 1e-9 >= {_SSJ_T} / (1e0 + {_SSJ_T})"
            " * CAST(a.n + b.n AS DOUBLE)"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    va = sets.select(F.col("doc_id").alias("id_a"),
                     F.col("s").alias("__sa"), F.col("n").alias("__na"))
    vb = sets.select(F.col("doc_id").alias("id_b"),
                     F.col("s").alias("__sb"), F.col("n").alias("__nb"))
    return (
        cand.join(va, on="id_a").join(vb, on="id_b")
        # array_intersect builds a hash set (O(na+nb)) where the old
        # filter+array_contains scanned __sb per element (O(na*nb));
        # counts are identical because __sa/__sb are array_distinct
        .withColumn("n_common", F.expr(
            "CAST(size(array_intersect(__sa, __sb)) AS BIGINT)"))
        .withColumn("jaccard", F.expr(
            "CAST(n_common AS DOUBLE)"
            " / CAST(__na + __nb - n_common AS DOUBLE)"))
        .filter(F.col("jaccard") >= _SSJ_T)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# ----------------------------------------------------------------------
# k-core decomposition of the exact-similarity graph: iterative
# peeling (drop nodes of degree < K among the survivors, repeat) for
# a FIXED number of rounds — the graph_pagerank precedent: both
# engines unroll the same R rounds, so the oracle is a chained-CTE
# replay with identical integer semantics, no convergence ambiguity.
# R is chosen so peeling has converged on this corpus
# (pytest-asserted: round R == round R-1); the Spark side materializes
# the alive set per round (node-id list, bounded) so round r+1's
# degree join doesn't replay round r's lineage. Surfaces cohesive
# duplicate COMMUNITIES (k-core survivors) vs the pairwise/triangle
# views of the same graph.
# ----------------------------------------------------------------------

_KCORE_K, _KCORE_R = 30, 6


def _kcore_oracle() -> str:
    edges = f"""
toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
    AND doc_id < {_SSJ_CAP}),
pq AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib,
    len(list_filter(a.s, x -> list_contains(b.s, x))) AS c,
    len(a.s) AS na, len(b.s) AS nb
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id),
ed AS (
  SELECT ia AS src, ib AS dst FROM pq
  WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {_SSJ_T}
  UNION ALL
  SELECT ib AS src, ia AS dst FROM pq
  WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {_SSJ_T}),
a0 AS (SELECT DISTINCT src FROM ed)"""
    rounds = []
    prev = "a0"
    for r in range(1, _KCORE_R + 1):
        rounds.append(
            f"d{r} AS (SELECT e.src, COUNT(*) AS n FROM ed e"
            f" JOIN {prev} x ON e.src = x.src"
            f" JOIN {prev} y ON e.dst = y.src GROUP BY e.src),\n"
            f"a{r} AS (SELECT src FROM d{r} WHERE n >= {_KCORE_K})")
        prev = f"a{r}"
    return (
        "WITH " + edges + ",\n" + ",\n".join(rounds) + f"""
SELECT e.src AS doc_id, COUNT(*) AS core_degree
FROM ed e JOIN {prev} x ON e.src = x.src
          JOIN {prev} y ON e.dst = y.src
GROUP BY e.src
"""
    )


@spec(
    "dup_graph_kcore",
    _kcore_oracle(),
    description=f"k-core (k={_KCORE_K}) of the exact Jaccard "
                "similarity graph by fixed-round peeling — cohesive "
                "duplicate communities; integer-exact chained-CTE "
                "oracle replays the identical rounds",
    tags=("pipeline", "dedup", "graph"),
)
def q_dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _setsim_pairs(spark, sf_dir).select("id_a", "id_b")
    edges = materialize(
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .unionAll(pairs.selectExpr("id_b AS src", "id_a AS dst"))
    )
    alive = edges.select("src").distinct()
    # the alive set is node-id-sized (bounded by the capped slice, and
    # only ever shrinking) — broadcast it so each peel round is two
    # broadcast hash joins over the checkpointed edge blocks instead
    # of re-shuffling the edge table into a sort-merge join per round
    for _ in range(_KCORE_R):
        deg = (
            edges.join(F.broadcast(alive.withColumnRenamed(
                "src", "__x")), edges.src == F.col("__x"))
            .drop("__x")
            .join(F.broadcast(alive.withColumnRenamed("src", "__y")),
                  F.col("dst") == F.col("__y"))
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        alive = materialize(
            deg.filter(F.col("__n") >= _KCORE_K).select("src"))
    return (
        edges.join(F.broadcast(alive.withColumnRenamed("src", "__x")),
                   edges.src == F.col("__x"))
        .drop("__x")
        .join(F.broadcast(alive.withColumnRenamed("src", "__y")),
              F.col("dst") == F.col("__y"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .selectExpr("src AS doc_id",
                    "CAST(core_degree AS BIGINT) AS core_degree")
    )


# ----------------------------------------------------------------------
# Curation funnel report: how many documents (and tokens) survive
# each cumulative curation stage — raw -> exact dedup -> MinHash-LSH
# near-dedup -> quality gate -> Gopher gate. The one-stop attrition
# view every corpus-curation run ships with; each stage reuses the
# exact stage semantics (and oracle fragments) of
# pipeline_curate_end2end, so the counts are value-exact, and the
# whole report is one plan (the stage frames share lineage, no
# materialization barriers).
# ----------------------------------------------------------------------


def _curation_report_oracle() -> str:
    return f"""
WITH exact_keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
      ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
near_pairs AS ({_minhash_oracle()}),
near_drop AS (SELECT DISTINCT id_b AS doc_id FROM near_pairs),
qual AS ({_lang_oracle()}),
gq AS ({_GOPHER_ORACLE}),
s1 AS (SELECT d.* FROM documents d
       JOIN exact_keep ek ON ek.doc_id = d.doc_id),
s2 AS (SELECT s1.* FROM s1
       LEFT JOIN near_drop nd ON nd.doc_id = s1.doc_id
       WHERE nd.doc_id IS NULL),
s3 AS (SELECT s2.* FROM s2 JOIN qual q ON q.doc_id = s2.doc_id
       WHERE q.quality >= {_E2E_QMIN}),
s4 AS (SELECT s3.* FROM s3 JOIN gq ON gq.doc_id = s3.doc_id
       WHERE gq.gopher_keep)
SELECT * FROM (
  SELECT 0 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN text IS NULL THEN 0
         ELSE len(string_split(text, ' ')) END) AS BIGINT) AS n_tokens
  FROM documents
  UNION ALL
  SELECT 1, 'exact_dedup', COUNT(*),
    CAST(SUM(CASE WHEN text IS NULL THEN 0
         ELSE len(string_split(text, ' ')) END) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'near_dedup', COUNT(*),
    CAST(SUM(CASE WHEN text IS NULL THEN 0
         ELSE len(string_split(text, ' ')) END) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'quality_gate', COUNT(*),
    CAST(SUM(CASE WHEN text IS NULL THEN 0
         ELSE len(string_split(text, ' ')) END) AS BIGINT) FROM s3
  UNION ALL
  SELECT 4, 'gopher_gate', COUNT(*),
    CAST(SUM(CASE WHEN text IS NULL THEN 0
         ELSE len(string_split(text, ' ')) END) AS BIGINT) FROM s4)
"""


@spec(
    "pipeline_curation_report",
    _curation_report_oracle(),
    description="Stage-attrition report of the curation funnel (raw "
                "-> exact dedup -> near-dedup -> quality -> Gopher): "
                "docs + tokens surviving each cumulative stage, "
                "value-exact against the stage definitions",
    tags=("pipeline", "dedup", "text", "quality"),
)
def q_pipeline_curation_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.pipeline.dedup import minhash_lsh_dedup
    from xsarsea_spark.pipeline.text import (gopher_quality, language_id,
                                             quality_score)

    docs = load(spark, sf_dir, "documents")
    # ONE PASS over cumulative per-doc survival flags instead of a
    # union of five stage aggregations: the chained stage frames
    # (s1 ⊃ s2 ⊃ s3 ⊃ s4) re-executed their shared lineage per
    # union branch — the executed plan carried 32 documents scans
    # (the MinHash-LSH chain ran 3x, the md5 window 4x). The flags
    # reproduce the joins exactly: left_anti == left join + NULL
    # check, inner join + filter == left join + null-safe predicate
    # (a doc absent from the quality/gopher frame fails the stage in
    # both formulations). Counts are COUNT(CASE ...) so an empty
    # stage yields 0/NULL exactly like the oracle's scalar
    # aggregates; per-row token counts are unchanged integers.
    wmd5 = Window.partitionBy(F.expr("md5(text)")).orderBy("doc_id")
    near_drop = (minhash_lsh_dedup(docs, n=_MH_N, k=_MH_K,
                                   threshold=_MH_T)
                 .select(F.col("id_b").alias("doc_id")).distinct())
    qual = quality_score(language_id(docs)).select(
        "doc_id", F.col("quality").alias("__q"))
    gq = gopher_quality(docs).select("doc_id", "gopher_keep")
    flags = (
        docs.select("doc_id", "text")
        .withColumn("__rn", F.row_number().over(wmd5))
        .join(near_drop.withColumn("__nd", F.lit(1)),
              on="doc_id", how="left")
        .join(qual, on="doc_id", how="left")
        .join(gq, on="doc_id", how="left")
        .selectExpr(
            "text",
            "__rn = 1 AS f1",
            "__rn = 1 AND __nd IS NULL AS f2",
            "__rn = 1 AND __nd IS NULL AND (__q IS NOT NULL AND"
            f" __q >= {_E2E_QMIN}) AS f3",
            "__rn = 1 AND __nd IS NULL AND (__q IS NOT NULL AND"
            f" __q >= {_E2E_QMIN}) AND (gopher_keep IS NOT NULL"
            " AND gopher_keep) AS f4")
    )
    # null-safe everywhere: Spark's legacy sizeOfNull makes
    # size(split(NULL)) = -1, which a plain SUM would count while
    # the DuckDB oracle's SUM skips NULLs — a NULL-text doc
    # surviving a stage would silently desync engine vs oracle
    tok = ("CASE WHEN text IS NULL THEN 0"
           " ELSE size(split(text, ' ')) END")
    exprs = []
    for i, f in enumerate(("true", "f1", "f2", "f3", "f4")):
        exprs.append(F.expr(
            f"COUNT(CASE WHEN {f} THEN 1 END)").alias(f"n{i}"))
        exprs.append(F.expr(
            f"CAST(SUM(CASE WHEN {f} THEN {tok} END) AS BIGINT)"
        ).alias(f"t{i}"))
    names = ("raw", "exact_dedup", "near_dedup", "quality_gate",
             "gopher_gate")
    stack = ", ".join(
        f"CAST({i} AS INT), '{names[i]}', n{i}, t{i}"
        for i in range(5))
    return flags.agg(*exprs).selectExpr(
        f"stack(5, {stack})"
        " AS (stage, stage_name, n_docs, n_tokens)")


# ----------------------------------------------------------------------
# Containment self-join: pairs where the SMALLER token set is mostly
# inside the larger one (|A n B| / min(|A|,|B|) >= t) — catches
# partial copies / quote-expansions that symmetric Jaccard misses
# (a 50-token excerpt inside a 500-token doc has Jaccard ~0.1 but
# containment 1.0). Candidate generation differs from the symmetric
# case: if the smaller set A satisfies containment t, B must hold
# all but |A| - ceil(t|A|) of A's tokens, so A's rarity-ordered
# prefix of length |A| - ceil(t|A|) + 1 must intersect B's FULL
# token set — prefix-to-prefix (the Jaccard shape) is INCOMPLETE
# here; it missed 2756 true pairs when first tried, caught by the
# quadratic oracle. So the join is prefix-side x full-token-side,
# exact verify on candidates, quadratic oracle on the capped slice.
# ----------------------------------------------------------------------

_CONT_T = 0.9


def _containment_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
    AND doc_id < {_SSJ_CAP}),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_filter(a.s, x -> list_contains(b.s, x))) AS n_common,
    len(a.s) AS na, len(b.s) AS nb
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
  CAST(n_common AS DOUBLE)
    / CAST(LEAST(na, nb) AS DOUBLE) AS containment
FROM p
WHERE CAST(n_common AS DOUBLE)
    / CAST(LEAST(na, nb) AS DOUBLE) >= {_CONT_T}
"""


@spec(
    "doc_containment_join",
    _containment_oracle(),
    description="Exact containment self-join (|A n B| / min set "
                "size): partial-copy detection symmetric Jaccard "
                "misses, prefix-filter candidates + exact verify, "
                "value-equal to the quadratic definition",
    tags=("pipeline", "dedup", "join"),
)
def q_doc_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sets = (
        docs.filter(f"text IS NOT NULL AND length(text) > 0"
                    f" AND doc_id < {_SSJ_CAP}")
        .selectExpr("doc_id", "array_distinct(split(text, ' ')) AS s")
        .withColumn("n", F.expr("size(s)"))
    )
    toks = sets.select("doc_id", F.explode("s").alias("tok"))
    rank = _rarity_rank(toks)
    ranked = (
        toks.join(rank.select("tok", "__rk"), on="tok")
        .groupBy("doc_id")
        .agg(F.expr("transform(array_sort(collect_list("
                    "struct(__rk, tok))), e -> e.tok)").alias("__o"))
    )
    prefixes = (
        ranked.selectExpr(
            "doc_id",
            f"slice(__o, 1, size(__o) - CAST(ceil({_CONT_T} *"
            " size(__o)) AS INT) + 1) AS __p")
        .select("doc_id", F.explode("__p").alias("tok"))
    )
    # prefix(possibly-smaller side) x FULL token set of the other
    # side; either doc may be the smaller one, so the asymmetric
    # join runs once and pairs are normalized to (min, max)
    cand = (
        prefixes.alias("a")
        .join(toks.alias("b"), on="tok")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"))
        .distinct()
    )
    va = sets.select(F.col("doc_id").alias("id_a"),
                     F.col("s").alias("__sa"), F.col("n").alias("__na"))
    vb = sets.select(F.col("doc_id").alias("id_b"),
                     F.col("s").alias("__sb"), F.col("n").alias("__nb"))
    return (
        cand.join(va, on="id_a").join(vb, on="id_b")
        # hash-set intersection, not the O(na*nb) per-pair scan; same
        # count on array_distinct inputs (see _setsim_pairs)
        .withColumn("n_common", F.expr(
            "CAST(size(array_intersect(__sa, __sb)) AS BIGINT)"))
        .withColumn("containment", F.expr(
            "CAST(n_common AS DOUBLE)"
            " / CAST(LEAST(__na, __nb) AS DOUBLE)"))
        .filter(F.col("containment") >= _CONT_T)
        .select("id_a", "id_b", "n_common", "containment")
    )


# ----------------------------------------------------------------------
# Binary (1-bit sign) quantization eval — the extreme point of the
# quantized-retrieval family next to PQ/IVF-PQ: pack each vector's
# sign bitmap into dim/32 BIGINT words, rank by xor+popcount Hamming
# distance (ties -> lowest id), and measure recall@k against the
# exact cosine ground truth. Everything is integer (comparisons,
# shifts, popcounts), so codes, rankings AND recall values are
# bit-identical cross-engine. At 100 TB the packed-code scan is 32x
# smaller than the float vectors and the per-pair cost is two
# xor+popcount ops — the memory-bound rerank-candidate generator
# production binary-embedding serving uses.
# ----------------------------------------------------------------------


def _binary_quant_oracle() -> str:
    def word(off: int) -> str:
        return (f"list_reduce(list_transform(range(0, 32),"
                f" b -> CASE WHEN embedding[{off} + b + 1] > 0"
                f" THEN (1::BIGINT << CAST(b AS INT))"
                f" ELSE 0::BIGINT END), (a, x) -> a + x)")

    nw = _CND_DIM // 32
    words = ", ".join(f"{word(w * 32)} AS w{w}" for w in range(nw))
    ham = " + ".join(
        f"CAST(bit_count(xor(q.q{w}, c.w{w})) AS BIGINT)"
        for w in range(nw))
    qsel = ", ".join(f"w{w} AS q{w}" for w in range(nw))
    return f"""
WITH ex AS ({_KNN_ORACLE}),
c AS (SELECT vec_id, {words} FROM embeddings),
q AS (SELECT vec_id AS query_id, {qsel} FROM c
      WHERE vec_id < {_KNN_NQ}),
s AS (SELECT q.query_id, c.vec_id AS neighbor_id, {ham} AS hamming
      FROM q JOIN c ON c.vec_id <> q.query_id),
bt AS (SELECT query_id, neighbor_id FROM (
         SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY hamming ASC, neighbor_id ASC) AS rank
         FROM s)
       WHERE rank <= {_KNN_K}),
m AS (SELECT ex.query_id, COUNT(*) AS n_matched
      FROM ex JOIN bt ON bt.query_id = ex.query_id
                     AND bt.neighbor_id = ex.neighbor_id
      GROUP BY ex.query_id),
nq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex
       GROUP BY query_id)
SELECT nq.query_id, CAST(nq.n_exact AS BIGINT) AS n_exact,
  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
  coalesce(m.n_matched, 0) / CAST(nq.n_exact AS DOUBLE) AS recall
FROM nq LEFT JOIN m ON m.query_id = nq.query_id
"""


@spec(
    "embedding_binary_quant_recall",
    _binary_quant_oracle(),
    description="Recall@k of 1-bit sign-quantized Hamming retrieval "
                "(dim/32 packed BIGINT words, xor+popcount ranking) "
                "vs exact cosine ground truth — all-integer codes and "
                "rankings, recall values bit-exact cross-engine",
    tags=("pipeline", "similarity", "eval"),
)
def q_embedding_binary_quant(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import (cosine_topk,
                                                   hamming_topk)

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NQ)
    ex = cosine_topk(queries, emb, k=_KNN_K) \
        .select("query_id", "neighbor_id")
    bt = hamming_topk(queries, emb, k=_KNN_K, dim=_CND_DIM) \
        .select("query_id", "neighbor_id")
    m = (ex.join(bt, on=["query_id", "neighbor_id"])
         .groupBy("query_id")
         .agg(F.count(F.lit(1)).alias("n_matched")))
    nq = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        nq.join(m, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("CAST(coalesce(n_matched, 0) AS BIGINT)")
            .alias("n_matched"),
            F.expr("coalesce(n_matched, 0)"
                   " / CAST(n_exact AS DOUBLE)").alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# Int8 scalar quantization (SQ8) eval — the 4x tier of the
# quantization ladder (float32 -> SQ8 -> PQ -> 1-bit). Distinct from
# embedding_int8_quant (per-VECTOR max-abs storage quantization,
# reconstruction-error report): this is the RETRIEVAL eval —
# per-dimension
# min/max learned from the corpus in one map-side-combined agg (a
# bounded 2 x dim summary, broadcast once), codes are HALF_UP-rounded
# 0..255 levels via the exact floor(y + 0.5) construction (identical
# IEEE op order in both engines — CAST double->int truncation
# semantics differ cross-engine, floor does not), ranking is exact
# integer squared-L2 over codes (order-independent BIGINT sums), and
# recall@k is measured against the exact cosine ground truth.
# ----------------------------------------------------------------------


def _sq8_oracle() -> str:
    d = _CND_DIM
    code = (f"list_transform(range(1, {d + 1}), d ->"
            f" CASE WHEN mm.mx[d] > mm.mn[d]"
            f" THEN CAST(FLOOR((CAST(embedding[d] AS DOUBLE)"
            f" - mm.mn[d]) * (255.0 / (mm.mx[d] - mm.mn[d]))"
            f" + 0.5) AS INT) ELSE 0 END)")
    dist = (f"list_reduce(list_transform(range(1, {d + 1}),"
            f" i -> CAST((q.code[i] - c.code[i])"
            f" * (q.code[i] - c.code[i]) AS BIGINT)),"
            f" (a, x) -> a + x)")
    return f"""
WITH ex AS ({_KNN_ORACLE}),
mm AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx
       FROM (SELECT d, CAST(MIN(embedding[d]) AS DOUBLE) AS mn,
                    CAST(MAX(embedding[d]) AS DOUBLE) AS mx
             FROM embeddings, (SELECT unnest(range(1, {d + 1})) AS d)
             GROUP BY d)),
c AS (SELECT vec_id, {code} AS code FROM embeddings, mm),
q AS (SELECT vec_id AS query_id, code FROM c
      WHERE vec_id < {_KNN_NQ}),
s AS (SELECT q.query_id, c.vec_id AS neighbor_id, {dist} AS d2
      FROM q JOIN c ON c.vec_id <> q.query_id),
st AS (SELECT query_id, neighbor_id FROM (
         SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY d2 ASC, neighbor_id ASC) AS rank
         FROM s)
       WHERE rank <= {_KNN_K}),
m AS (SELECT ex.query_id, COUNT(*) AS n_matched
      FROM ex JOIN st ON st.query_id = ex.query_id
                     AND st.neighbor_id = ex.neighbor_id
      GROUP BY ex.query_id),
nq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex
       GROUP BY query_id)
SELECT nq.query_id, CAST(nq.n_exact AS BIGINT) AS n_exact,
  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
  coalesce(m.n_matched, 0) / CAST(nq.n_exact AS DOUBLE) AS recall
FROM nq LEFT JOIN m ON m.query_id = nq.query_id
"""


@spec(
    "embedding_sq8_recall",
    _sq8_oracle(),
    description="Recall@k of int8 scalar-quantized retrieval: per-dim "
                "min/max levels, HALF_UP floor(y+0.5) codes, exact "
                "integer squared-L2 ranking vs exact cosine ground "
                "truth — codes, rankings and recall all value-exact",
    tags=("pipeline", "similarity", "eval"),
)
def q_embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import cosine_topk
    from pyspark.sql.window import Window

    d = _CND_DIM
    emb = load(spark, sf_dir, "embeddings")
    mm = emb.agg(
        F.array(*[
            F.expr(f"CAST(MIN(element_at(embedding, {i})) AS DOUBLE)")
            for i in range(1, d + 1)]).alias("__mn"),
        F.array(*[
            F.expr(f"CAST(MAX(element_at(embedding, {i})) AS DOUBLE)")
            for i in range(1, d + 1)]).alias("__mx"),
    )
    code = (f"transform(sequence(1, {d}), d ->"
            f" CASE WHEN element_at(__mx, d) > element_at(__mn, d)"
            f" THEN CAST(FLOOR((CAST(element_at(embedding, d)"
            f" AS DOUBLE) - element_at(__mn, d)) * (CAST(255.0 AS"
            f" DOUBLE) / (element_at(__mx, d) - element_at(__mn, d)))"
            f" + 0.5D) AS INT) ELSE 0 END)")
    c = (emb.crossJoin(F.broadcast(mm))
         .select("vec_id", F.expr(code).alias("code")))
    q = c.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("__qc"))
    dist = ("aggregate(zip_with(__qc, code, (a, b) ->"
            " CAST((a - b) * (a - b) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)")
    scored = (
        c.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(q),
              F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", F.expr(dist))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc())
    st = (scored.withColumn("rank", F.row_number().over(w))
          .filter(F.col("rank") <= _KNN_K)
          .select("query_id", "neighbor_id"))
    ex = cosine_topk(emb.filter(F.col("vec_id") < _KNN_NQ), emb,
                     k=_KNN_K).select("query_id", "neighbor_id")
    m = (ex.join(st, on=["query_id", "neighbor_id"])
         .groupBy("query_id")
         .agg(F.count(F.lit(1)).alias("n_matched")))
    nq = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        nq.join(m, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("CAST(coalesce(n_matched, 0) AS BIGINT)")
            .alias("n_matched"),
            F.expr("coalesce(n_matched, 0)"
                   " / CAST(n_exact AS DOUBLE)").alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# Matryoshka truncation eval: how much exact top-k retrieval quality
# survives when vectors are truncated to their leading dims (the MRL
# deployment question — serve 16 of 64 dims at 4x less memory/IO).
# Both rankings are exact brute-force cosine (the embedding_knn
# kernel), the truncated one over slice(embedding, 1, 16); per query
# the recall of truncated-vs-full neighbor sets is computed in-plan
# and the oracle replays BOTH rankings, so the recall numbers are
# value-exact (ann_recall precedent).
# ----------------------------------------------------------------------

_MAT_DIM = 16


def _matryoshka_oracle() -> str:
    def ranking(vec: str, alias: str) -> str:
        return f"""
{alias}_e AS (
  SELECT vec_id, {vec} AS v,
    sqrt(list_reduce(list_transform(range(1, len({vec}) + 1),
      i -> CAST({vec}[i] AS DOUBLE) * CAST({vec}[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
{alias}_q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
      FROM {alias}_e WHERE vec_id < {_KNN_NQ}),
{alias}_s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.query_id ORDER BY
      list_reduce(list_transform(range(1, len(q.qv) + 1),
        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.v[i] AS DOUBLE)),
        (a, b) -> a + b) / (q.qn * e.nrm) DESC,
      e.vec_id ASC) AS rank
  FROM {alias}_q q JOIN {alias}_e e ON e.vec_id <> q.query_id),
{alias}_t AS (SELECT query_id, neighbor_id FROM {alias}_s
              WHERE rank <= {_KNN_K})"""

    return f"""
WITH {ranking("embedding", "f")},
{ranking(f"embedding[1:{_MAT_DIM}]", "m")},
mt AS (
  SELECT f.query_id, COUNT(*) AS n_matched
  FROM f_t f JOIN m_t m ON m.query_id = f.query_id
         AND m.neighbor_id = f.neighbor_id
  GROUP BY f.query_id),
nq AS (SELECT query_id, COUNT(*) AS n_exact FROM f_t GROUP BY query_id)
SELECT nq.query_id, CAST(nq.n_exact AS BIGINT) AS n_exact,
  CAST(coalesce(mt.n_matched, 0) AS BIGINT) AS n_matched,
  coalesce(mt.n_matched, 0) / CAST(nq.n_exact AS DOUBLE) AS recall
FROM nq LEFT JOIN mt ON mt.query_id = nq.query_id
"""


@spec(
    "embedding_matryoshka_recall",
    _matryoshka_oracle(),
    description=f"Recall@k of {_MAT_DIM}-of-{_CND_DIM}-dim truncated "
                "cosine retrieval vs full-dim ground truth (the MRL "
                "serve-fewer-dims tradeoff), both exact rankings "
                "replayed by the oracle — recall values themselves "
                "value-exact",
    tags=("pipeline", "similarity", "eval"),
)
def q_embedding_matryoshka(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    tr = emb.selectExpr(
        "vec_id", f"slice(embedding, 1, {_MAT_DIM}) AS embedding")
    full_t = cosine_topk(emb.filter(F.col("vec_id") < _KNN_NQ), emb,
                         k=_KNN_K).select("query_id", "neighbor_id")
    mat_t = cosine_topk(tr.filter(F.col("vec_id") < _KNN_NQ), tr,
                        k=_KNN_K).select("query_id", "neighbor_id")
    m = (full_t.join(mat_t, on=["query_id", "neighbor_id"])
         .groupBy("query_id")
         .agg(F.count(F.lit(1)).alias("n_matched")))
    nq = full_t.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        nq.join(m, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("CAST(coalesce(n_matched, 0) AS BIGINT)")
            .alias("n_matched"),
            F.expr("coalesce(n_matched, 0)"
                   " / CAST(n_exact AS DOUBLE)").alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# SoftDeDup-style duplication-aware sampling weights (Xia et al. 2024,
# "SoftDeDup" — reweight instead of remove): per document, the
# fraction of its DISTINCT word 3-gram shingles that occur in more
# than one document ("commonness"), mapped to a sampling weight
# 1 / (1 + 4 * dup_frac) — a heavily duplicated doc keeps ~1/5 the
# sampling mass of a fully novel one instead of being dropped. Two
# shuffles at any scale: shingle-keyed doc-frequency agg, then the
# shingle-keyed join back and a doc_id rollup. Counts are integers;
# the weight arithmetic (divide, multiply, add) is single-op IEEE,
# so weights are value-exact cross-engine. Docs under 3 tokens have
# no shingles and drop out — same end-exclusive range semantics in
# both engines (cf. pipeline.dedup.shingle).
# ----------------------------------------------------------------------

_SOFT_LAMBDA = "4.0e0"

_SOFT_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
      range(len(l) - 2),
      i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3])) AS shingle
  FROM t WHERE len(l) >= 3),
df AS (
  SELECT shingle, COUNT(*) AS ndocs FROM sh GROUP BY shingle),
d AS (
  SELECT sh.doc_id, COUNT(*) AS n_shingles,
    COUNT(CASE WHEN df.ndocs > 1 THEN 1 END) AS n_dup
  FROM sh JOIN df ON df.shingle = sh.shingle
  GROUP BY sh.doc_id)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(n_dup AS BIGINT) AS n_dup,
  n_dup / CAST(n_shingles AS DOUBLE) AS dup_frac,
  1e0 / (1e0 + {_SOFT_LAMBDA}
         * (n_dup / CAST(n_shingles AS DOUBLE))) AS weight
FROM d
"""


@spec(
    "doc_soft_dedup",
    _SOFT_DEDUP_ORACLE,
    description="SoftDeDup duplication-aware sampling weights: "
                "per-doc fraction of distinct 3-gram shingles seen "
                "in >1 document, mapped to 1/(1+4*frac) sampling "
                "mass — reweight-not-remove dedup, two bounded "
                "shuffles, weights value-exact cross-engine",
    tags=("pipeline", "dedup", "sampling"),
)
def q_doc_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.dedup import shingle

    docs = load(spark, sf_dir, "documents")
    sh = shingle(docs, n=3)
    df = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__ndocs"))
    d = (sh.join(df, on="shingle")
         .groupBy("doc_id")
         .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shingles"),
              F.expr("CAST(COUNT(CASE WHEN __ndocs > 1 THEN 1 END)"
                     " AS BIGINT)").alias("n_dup")))
    return d.selectExpr(
        "doc_id", "n_shingles", "n_dup",
        "n_dup / CAST(n_shingles AS DOUBLE) AS dup_frac",
        f"1e0 / (1e0 + {_SOFT_LAMBDA}"
        f" * (n_dup / CAST(n_shingles AS DOUBLE))) AS weight")


# ----------------------------------------------------------------------
# Johnson-Lindenstrauss signed random projection recall — the
# dimensionality-reduction point of the retrieval-compression ladder
# (PCA keeps learned axes, Matryoshka keeps prefix axes; JL keeps
# RANDOM +-1 combinations, data-independent and train-free). The
# 16 x 64 sign matrix is derived from a fixed integer LCG and baked
# into both engines' expressions as literals; each projection and
# each squared-L2 distance is a LEFT-ASSOCIATIVE chain of IEEE
# single ops evaluated in the same order on both sides, so projected
# values, rankings AND recall@k are value-exact cross-engine. Spark
# broadcasts the 20-query projection block; per-query candidate
# ranking reuses the bounded row_number shape of cosine_topk.
# ----------------------------------------------------------------------

_RP_DIM = 16


def _rp_sign(i: int, j: int) -> int:
    """Deterministic +-1 from a fixed integer hash (no RNG state)."""
    return 1 if ((i * 73 + j * 1009) * 2654435761) % (1 << 32) \
        < (1 << 31) else -1


def _rp_proj_exprs(elem: str) -> list[str]:
    """One left-assoc +- chain per projected dim; ``elem`` formats the
    1-based component access for the target engine."""
    out = []
    for j in range(_RP_DIM):
        parts = []
        for i in range(1, _CND_DIM + 1):
            term = f"CAST({elem.format(i=i)} AS DOUBLE)"
            if not parts:
                parts.append(f"(- {term})" if _rp_sign(i, j) < 0
                             else term)
            else:
                parts.append(f"{'-' if _rp_sign(i, j) < 0 else '+'}"
                             f" {term}")
        out.append("(" + " ".join(parts) + ")")
    return out


def _rp_oracle() -> str:
    projs = _rp_proj_exprs("embedding[{i}]")
    psel = ", ".join(f"{p} AS p{j}" for j, p in enumerate(projs))
    qsel = ", ".join(f"p{j} AS q{j}" for j in range(_RP_DIM))
    d2 = " + ".join(f"(q.q{j} - c.p{j}) * (q.q{j} - c.p{j})"
                    for j in range(_RP_DIM))
    return f"""
WITH ex AS ({_KNN_ORACLE}),
c AS (SELECT vec_id, {psel} FROM embeddings),
q AS (SELECT vec_id AS query_id, {qsel} FROM c
      WHERE vec_id < {_KNN_NQ}),
s AS (SELECT q.query_id, c.vec_id AS neighbor_id, {d2} AS d2
      FROM q JOIN c ON c.vec_id <> q.query_id),
rt AS (SELECT query_id, neighbor_id FROM (
         SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY d2 ASC, neighbor_id ASC) AS rank
         FROM s)
       WHERE rank <= {_KNN_K}),
m AS (SELECT ex.query_id, COUNT(*) AS n_matched
      FROM ex JOIN rt ON rt.query_id = ex.query_id
                     AND rt.neighbor_id = ex.neighbor_id
      GROUP BY ex.query_id),
nq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex
       GROUP BY query_id)
SELECT nq.query_id, CAST(nq.n_exact AS BIGINT) AS n_exact,
  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
  coalesce(m.n_matched, 0) / CAST(nq.n_exact AS DOUBLE) AS recall
FROM nq LEFT JOIN m ON m.query_id = nq.query_id
"""


@spec(
    "embedding_rp_recall",
    _rp_oracle(),
    description="Recall@k of Johnson-Lindenstrauss signed random "
                "projection (64 -> 16 dims, fixed literal +-1 "
                "matrix, left-assoc IEEE chains) vs exact cosine "
                "ground truth — projections, rankings and recall "
                "value-exact cross-engine",
    tags=("pipeline", "similarity", "eval"),
)
def q_embedding_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.pipeline.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    projs = _rp_proj_exprs("element_at(embedding, {i})")
    c = emb.selectExpr(
        "vec_id", *[f"{p} AS p{j}" for j, p in enumerate(projs)])
    q = (c.filter(F.col("vec_id") < _KNN_NQ)
         .selectExpr("vec_id AS query_id",
                     *[f"p{j} AS q{j}" for j in range(_RP_DIM)]))
    d2 = " + ".join(f"(q{j} - p{j}) * (q{j} - p{j})"
                    for j in range(_RP_DIM))
    scored = (c.withColumnRenamed("vec_id", "neighbor_id")
              .join(F.broadcast(q),
                    F.col("query_id") != F.col("neighbor_id"))
              .selectExpr("query_id", "neighbor_id", f"{d2} AS d2"))
    win = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc())
    rt = (scored.withColumn("rank", F.row_number().over(win))
          .filter(F.col("rank") <= _KNN_K)
          .select("query_id", "neighbor_id"))
    # materialized: ex is bounded (nq * k rows) but its lineage is
    # the corpus-scale exact-cosine pass, and BOTH output branches
    # (n_matched join and the n_exact rollup) consume it —
    # unmaterialized, the scoring scan executes twice.
    ex = materialize(
        cosine_topk(emb.filter(F.col("vec_id") < _KNN_NQ), emb,
                    k=_KNN_K).select("query_id", "neighbor_id"))
    m = (ex.join(rt, on=["query_id", "neighbor_id"])
         .groupBy("query_id")
         .agg(F.count(F.lit(1)).alias("n_matched")))
    nq = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        nq.join(m, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.expr("CAST(coalesce(n_matched, 0) AS BIGINT)")
            .alias("n_matched"),
            F.expr("coalesce(n_matched, 0)"
                   " / CAST(n_exact AS DOUBLE)").alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# Contrastive hard-negative mining: for each query vector, the top-k
# most-similar CORPUS vectors with a DIFFERENT label — the standard
# negative-selection step for training retrieval/embedding models
# (harder negatives = higher gradient signal than random ones). The
# exact-cosine machinery of embedding_knn with the label-inequality
# predicate pushed into the broadcast join; cosines are sequential
# JVM folds, so rankings and values are exact cross-engine.
# ----------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv,
             nrm AS qn
      FROM e WHERE vec_id < {_KNN_NQ}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
    list_reduce(list_transform(range(1, len(q.qv) + 1),
      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (q.qn * e.nrm) AS cosine
  FROM q JOIN e ON e.label <> q.qlabel)
SELECT query_id, rank, neighbor_id, CAST(label AS INT) AS label,
  cosine
FROM (
  SELECT query_id, neighbor_id, label, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {_KNN_K}
"""


@spec(
    "embedding_hard_negatives",
    _HARDNEG_ORACLE,
    description="Contrastive hard-negative mining: exact top-k "
                "cosine neighbors restricted to a DIFFERENT label "
                "than the query — label inequality pushed into the "
                "broadcast join, rankings value-exact cross-engine",
    tags=("pipeline", "similarity", "training"),
)
def q_embedding_hard_negatives(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.pipeline.similarity import with_norm

    emb = load(spark, sf_dir, "embeddings")
    e = with_norm(emb, "embedding")
    q = (e.filter(F.col("vec_id") < _KNN_NQ)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("label").alias("__ql"),
                 F.col("embedding").alias("__qv"),
                 F.col("__norm").alias("__qn")))
    dot = ("aggregate(zip_with(__qv, embedding,"
           " (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),"
           " 0d, (acc, x) -> acc + x)")
    scored = (e.join(F.broadcast(q), F.col("label") != F.col("__ql"))
              .withColumn("cosine",
                          F.expr(f"({dot})"
                                 " / nullif(__qn * __norm, 0e0)")))
    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= _KNN_K)
            .selectExpr("query_id", "rank",
                        "vec_id AS neighbor_id",
                        "CAST(label AS INT) AS label", "cosine"))


# ----------------------------------------------------------------------
# Leakage-free grouped train/val/test split: every document's
# registrable domain (full PSL matching, same operator doc_psl_domain
# exercises) is hashed ONCE to a split — 80/10/10 by md5-derived
# bucket — so near-duplicates sharing a site can never straddle the
# train/eval boundary (the contamination mode document-level random
# splits are known for). The per-split profile carries an honestly
# computed n_leaky_domains column (domains observed in >1 split),
# which the grouped construction forces to 0. Split assignment is a
# broadcast-joined domain table; no shuffle beyond the rollups.
# ----------------------------------------------------------------------


def _domain_split_oracle() -> str:
    from xsarsea_spark.pipeline.psl import (PSL_SNAPSHOT,
                                            parse_psl_rules,
                                            psl_oracle_ctes)

    rows = parse_psl_rules(PSL_SNAPSHOT.splitlines())
    parts, prev = psl_oracle_ctes(
        f"SELECT doc_id, n_chars, {_PSL_HOST} AS host FROM documents",
        rows)
    h40 = _H40_DUCK.format(x="domain")
    return ("WITH " + ",\n".join(parts) + f""",
d AS (
  SELECT doc_id, n_chars,
    coalesce(psl_domain, '<public-suffix>') AS domain
  FROM {prev}),
s AS (
  SELECT *, CASE {h40} % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val'
            ELSE 'train' END AS split
  FROM d),
leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky FROM (
    SELECT domain FROM s GROUP BY domain
    HAVING COUNT(DISTINCT split) > 1))
SELECT split, COUNT(*) AS n_docs,
  CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  leak.n_leaky AS n_leaky_domains
FROM s, leak GROUP BY split, leak.n_leaky""")


@spec(
    "doc_domain_split",
    _domain_split_oracle(),
    description="Leakage-free grouped train/val/test split: the "
                "registrable domain (full PSL matching) hashes once "
                "to an 80/10/10 split so same-site near-duplicates "
                "never straddle train/eval; per-split profile plus "
                "an honestly computed leaky-domain count (0 by "
                "construction)",
    tags=("pipeline", "sampling", "training"),
)
def q_doc_domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.psl import (PSL_SNAPSHOT, psl_rules,
                                            with_psl_domain)

    rules_df, rows = psl_rules(spark, PSL_SNAPSHOT.splitlines())
    df = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars", f"{_PSL_HOST} AS host")
    d = with_psl_domain(df, "host", rules_df, rows).selectExpr(
        "doc_id", "n_chars",
        "coalesce(psl_domain, '<public-suffix>') AS domain")
    h40 = _H40_SPARK.format(x="domain")
    s = d.selectExpr(
        "doc_id", "n_chars", "domain",
        f"CASE {h40} % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val'"
        " ELSE 'train' END AS split")
    leak = (s.groupBy("domain")
            .agg(F.countDistinct("split").alias("__ns"))
            .filter("__ns > 1")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)")
                 .alias("n_leaky_domains")))
    prof = s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(COUNT(DISTINCT domain) AS BIGINT)")
        .alias("n_domains"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"))
    return prof.join(F.broadcast(leak)).select(
        "split", "n_docs", "n_domains", "sum_chars", "min_doc",
        "max_doc", "n_leaky_domains")


# ----------------------------------------------------------------------
# robots.txt compliance filter (RFC 9309) — the crawl-pipeline step
# between URL discovery and fetch/keep. Same spec-as-data design as
# the PSL operator: per-domain robots.txt BODIES are parsed once
# into a rules frame (pipeline/robots.py — grouping, * wildcards,
# $ anchors, longest-match precedence with Allow on ties, exact
# agent group overriding *), and the verdict is one domain-keyed
# equi-join + LIKE + integer-MAX precedence — no UDF. The synthetic
# bodies give md5-even domains a 'mybot' group (so the eval agent's
# exact group SHADOWS the * rules there — /admin/ flips allowed)
# and every domain a * group exercising wildcard + anchor rules.
# The driver-side parse is a distinct-sources collect: domains are
# registry-cardinality (the ntile_grouped/broadcast contract), and
# fetching one robots.txt per domain is exactly what a crawler does.
# ----------------------------------------------------------------------

_RB_DOMAIN = "concat(coalesce(source, ''), '.example')"
_RB_PATH = (
    "concat('/',"
    " CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'private'"
    " WHEN 1 THEN 'public' WHEN 2 THEN 'admin' ELSE 'blog' END,"
    " '/page', doc_id % 20,"
    " CASE WHEN doc_id % 5 = 0 THEN '.html' ELSE '' END)"
)
_RB_MYBOT = ("User-agent: mybot\nDisallow: /private/\n"
             "Allow: /private/page1*\nDisallow: /blog/page1$\n")
_RB_STAR = ("User-agent: *\nDisallow: /admin/\n"
            "Disallow: /*.html$\nAllow: /blog/\n")

# the winning-rule predicate: ESCAPE matches the Spark operator's
# backslash-escaped patterns (DuckDB's LIKE has NO default escape
# character, so without the clause a rule containing '_'/'%'/'\\'
# would silently diverge cross-engine)
_RB_WIN = (r"MAX(CASE WHEN u.path LIKE r.pattern ESCAPE '\'"
           " THEN r.spec * 2 + r.is_allow END)")


def _robots_ctes() -> str:
    """The shared doms/pd/mr/sr/rules CTE prefix both robots oracles
    consume — ONE definition so the batch filter and the streaming
    ingest can never disagree about rule compilation or group
    selection."""
    from xsarsea_spark.pipeline.robots import (parse_robots_txt,
                                               robots_like_pattern,
                                               rule_specificity)

    def values(body: str) -> str:
        return ", ".join(
            f"({is_allow}, '{robots_like_pattern(rule)}',"
            f" {rule_specificity(rule)})"
            for _a, is_allow, rule in parse_robots_txt(body))

    h40 = _H40_DUCK.format(x="domain")
    return f"""doms AS (
  SELECT DISTINCT {_RB_DOMAIN} AS domain FROM documents),
pd AS (SELECT domain, ({h40}) % 2 = 0 AS has_mybot FROM doms),
mr AS (SELECT * FROM (VALUES {values(_RB_MYBOT)})
       AS t(is_allow, pattern, spec)),
sr AS (SELECT * FROM (VALUES {values(_RB_STAR)})
       AS t(is_allow, pattern, spec)),
rules AS (
  SELECT domain, is_allow, pattern, spec FROM pd, mr WHERE has_mybot
  UNION ALL
  SELECT domain, is_allow, pattern, spec FROM pd, sr
  WHERE NOT has_mybot)"""


def _robots_bodies(domains: list) -> list:
    """Shared driver-side body synthesis (md5-even domains get the
    exact 'mybot' group) — one definition for both Spark queries,
    matching the oracle's md5 parity test."""
    import hashlib

    out = []
    for d in sorted(domains):
        even = int(hashlib.md5(d.encode()).hexdigest()[:10],
                   16) % 2 == 0
        out.append((d, (_RB_MYBOT if even else "") + _RB_STAR))
    return out


def _robots_oracle() -> str:
    return f"""
WITH {_robots_ctes()},
urls AS (
  SELECT doc_id, {_RB_DOMAIN} AS domain, {_RB_PATH} AS path
  FROM documents),
j AS (
  SELECT u.doc_id, u.domain,
    {_RB_WIN} AS win
  FROM urls u LEFT JOIN rules r ON r.domain = u.domain
  GROUP BY u.doc_id, u.domain),
v AS (SELECT doc_id, domain,
        (win IS NULL OR win % 2 = 1) AS allowed FROM j)
SELECT domain, COUNT(*) AS n_urls,
  CAST(COUNT(CASE WHEN allowed THEN 1 END) AS BIGINT) AS n_allowed,
  CAST(COUNT(CASE WHEN NOT allowed THEN 1 END) AS BIGINT)
    AS n_blocked,
  MIN(CASE WHEN NOT allowed THEN doc_id END) AS min_blocked
FROM v GROUP BY domain
"""


@spec(
    "doc_robots_filter",
    _robots_oracle(),
    description="RFC 9309 robots.txt compliance filter: per-domain "
                "robots bodies parsed to a rules frame (grouping, * "
                "wildcards, $ anchors, longest-match with Allow on "
                "ties, exact agent group shadowing *), verdict via "
                "one domain equi-join + LIKE + integer-MAX "
                "precedence — no UDF; per-domain allow/block rollup",
    tags=("pipeline", "text", "sampling"),
)
def q_doc_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.robots import (robots_rules_df,
                                               with_robots_verdict)

    docs = load(spark, sf_dir, "documents")
    urls = docs.selectExpr("doc_id", f"{_RB_DOMAIN} AS domain",
                           f"{_RB_PATH} AS path")
    # one robots.txt body per domain — domains are source-cardinality
    # (bounded, the broadcast contract)
    domains = [r.domain for r in urls.select("domain").distinct()
               .collect()]
    rules = robots_rules_df(spark, _robots_bodies(domains))
    v = with_robots_verdict(urls, rules, "mybot")
    return v.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.expr("CAST(COUNT(CASE WHEN allowed THEN 1 END) AS BIGINT)")
        .alias("n_allowed"),
        F.expr("CAST(COUNT(CASE WHEN NOT allowed THEN 1 END)"
               " AS BIGINT)").alias("n_blocked"),
        F.expr("MIN(CASE WHEN NOT allowed THEN doc_id END)")
        .alias("min_blocked"))


# ----------------------------------------------------------------------
# STREAMING robots-gated ingest — the crawl-frontier production
# order: the per-domain robots rules are compiled ONCE before the
# stream starts (the offline-artifact shape stream_dsir_ingest
# uses), every micro-batch is verdicted (RFC 9309 precedence) and
# only allowed URLs proceed into the exactly-once URL-dedup core
# (persisted bloom sidecar + exact anti-join backstop). Double
# availableNow run over one checkpoint; final table value-equal to
# the one-shot batch replay the oracle runs.
# ----------------------------------------------------------------------


def _stream_robots_oracle() -> str:
    return f"""
WITH {_robots_ctes()},
urls AS (
  SELECT doc_id, COALESCE(n_chars, 0) AS n_chars,
    {_RB_DOMAIN} AS domain, {_RB_PATH} AS path
  FROM documents),
j AS (
  SELECT u.doc_id, u.n_chars, u.domain, u.path,
    {_RB_WIN} AS win
  FROM urls u LEFT JOIN rules r ON r.domain = u.domain
  GROUP BY u.doc_id, u.n_chars, u.domain, u.path),
allowed AS (
  SELECT doc_id, n_chars, domain, path,
    md5(domain || path) AS digest
  FROM j WHERE win IS NULL OR win % 2 = 1),
kept AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY digest ORDER BY doc_id) AS rn FROM allowed)
  WHERE rn = 1)
SELECT domain, COUNT(*) AS n_urls,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY domain
"""


@spec(
    "stream_robots_ingest",
    _stream_robots_oracle(),
    description="Structured-Streaming robots-gated ingest: RFC 9309 "
                "rules compiled offline once, every micro-batch "
                "verdicted (exact agent group, longest-match, Allow "
                "ties) before the exactly-once URL-dedup core "
                "(bloom sidecar + anti-join backstop); double "
                "availableNow run value-equal to the batch replay",
    tags=("pipeline", "streaming", "dedup", "sink"),
)
def q_stream_robots_ingest(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    import shutil

    from xsarsea_spark.pipeline.robots import (robots_rules_df,
                                               with_robots_verdict)

    base = scratch_path(spark, "stream_robots", sf_dir)
    shutil.rmtree(base, ignore_errors=True)

    # offline artifact: rules compiled once from the historical
    # corpus (domains are source-cardinality; one robots.txt per
    # domain is exactly what a polite crawler has already fetched)
    docs = load(spark, sf_dir, "documents")
    domains = [r.domain for r in
               docs.selectExpr(f"{_RB_DOMAIN} AS domain")
               .distinct().collect()]
    rules = robots_rules_df(spark, _robots_bodies(domains))

    def robots_prep(df: DataFrame) -> DataFrame:
        urls = df.selectExpr(
            "doc_id", "COALESCE(n_chars, 0L) AS n_chars",
            f"{_RB_DOMAIN} AS domain", f"{_RB_PATH} AS path")
        v = with_robots_verdict(urls, rules, "mybot")
        return (v.filter("allowed").drop("allowed")
                .withColumn("digest",
                            F.expr("md5(concat(domain, path))")))

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    back = _ingest_docs_stream(spark, sf_dir, schema, base,
                               prep=robots_prep)
    return _ingest_rollup(back, "domain", "n_urls")


# ----------------------------------------------------------------------
# Politeness-fair crawl-frontier schedule — the fetch ordering a
# crawler runs AFTER robots filtering and URL dedup: one URL per
# domain per round (round-robin across domains), so no host is
# hammered while the frontier drains. Both ranks ride the two-pass
# distributed rank: the in-domain slot is global_rank over (domain,
# priority, path) minus each domain's broadcast first-rank offset
# (domains are source-cardinality — the broadcast contract), and the
# global fetch order is a second global_rank over (slot, domain,
# path). NO per-domain or corpus-wide single-partition sort exists
# in the plan at any frontier size (plan-asserted); the oracle
# replays both as native ROW_NUMBER windows.
# ----------------------------------------------------------------------

_FRONTIER_ORACLE = f"""
WITH u AS (
  SELECT {_RB_DOMAIN} AS domain, {_RB_PATH} AS path,
    MIN(doc_id) AS priority
  FROM documents GROUP BY 1, 2),
s AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
      ORDER BY priority, path) AS slot
  FROM u)
SELECT domain, path, priority, CAST(slot AS BIGINT) AS slot,
  CAST(ROW_NUMBER() OVER (ORDER BY slot, domain, path) AS BIGINT)
    AS fetch_order
FROM s
"""


@spec(
    "doc_crawl_frontier",
    _FRONTIER_ORACLE,
    description="Politeness-fair crawl-frontier schedule: per-domain "
                "slot + round-robin global fetch order, both via the "
                "two-pass distributed rank (no per-domain or "
                "corpus-wide single-partition sort at any size)",
    tags=("pipeline", "sampling", "rank"),
)
def q_doc_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    docs = load(spark, sf_dir, "documents")
    u = (docs.selectExpr(f"{_RB_DOMAIN} AS domain",
                         f"{_RB_PATH} AS path", "doc_id")
         .groupBy("domain", "path")
         .agg(F.min("doc_id").alias("priority")))
    ranked = global_rank(
        u, [F.col("domain").asc(), F.col("priority").asc(),
            F.col("path").asc()], rank_col="__gr")
    first = ranked.groupBy("domain").agg(
        F.min("__gr").alias("__first"))
    s = (ranked.join(F.broadcast(first), on="domain")
         .selectExpr("domain", "path", "priority",
                     "CAST(__gr - __first + 1 AS BIGINT) AS slot"))
    out = global_rank(
        s, [F.col("slot").asc(), F.col("domain").asc(),
            F.col("path").asc()], rank_col="__fo")
    return out.selectExpr("domain", "path", "priority", "slot",
                          "CAST(__fo AS BIGINT) AS fetch_order")


# ----------------------------------------------------------------------
# In-context-pretraining ordering (Shi et al. 2023): the greedy
# nearest-neighbor chain that lays related docs adjacently so packed
# sequences hold coherent context — the modern alternative to
# packing docs in arrival order. Chains are bucket-local (hash
# buckets, the sequential greedy's parallelism unit); the distance
# key is the per-term floor-truncated integer sum, so the argmin and
# the whole chain replicate bit-exactly. The oracle replays the
# greedy with a recursive CTE whose state carries the remaining
# vector set and the chain built so far.
# ----------------------------------------------------------------------

_ICP_NB = 8


def _icp_oracle() -> str:
    d = _CND_DIM
    d2 = (f"list_reduce(list_transform(range(1, {d + 1}),"
          f" i -> CAST(FLOOR((r.emb[i] - cur_emb[i])"
          f" * (r.emb[i] - cur_emb[i]) * 1e9) AS BIGINT)),"
          f" (x, y) -> x + y)")
    return f"""
WITH RECURSIVE
it AS (SELECT vec_id % {_ICP_NB} AS bucket, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       FROM embeddings),
seed AS (SELECT bucket, MIN(vec_id) AS v0 FROM it GROUP BY bucket),
st AS (
  SELECT i.bucket, 1 AS pos, i.vec_id AS cur_id, i.emb AS cur_emb,
    list_filter(list_sort(list({{'vec_id': i2.vec_id,
        'emb': i2.emb}})), s -> s.vec_id <> i.vec_id) AS remaining,
    [{{'pos': CAST(1 AS BIGINT), 'vec_id': i.vec_id,
      'd2': CAST(-1 AS BIGINT)}}] AS chain
  FROM it i JOIN seed s ON s.bucket = i.bucket AND i.vec_id = s.v0
  JOIN it i2 ON i2.bucket = i.bucket
  GROUP BY i.bucket, i.vec_id, i.emb
  UNION ALL
  SELECT p.bucket, p.pos + 1,
    nxt.vec_id, nxt.emb,
    list_filter(p.remaining, r -> r.vec_id <> nxt.vec_id),
    list_append(p.chain, {{'pos': CAST(p.pos + 1 AS BIGINT),
                          'vec_id': nxt.vec_id, 'd2': nxt.d2}})
  FROM (
    SELECT *, list_sort(list_transform(remaining, r ->
      {{'d2': {d2}, 'vec_id': r.vec_id, 'emb': r.emb}}))[1] AS nxt
    FROM st WHERE len(remaining) > 0) p
),
fin AS (SELECT bucket, unnest(chain, recursive := false) AS c
        FROM st WHERE len(remaining) = 0)
SELECT bucket, CAST(c.pos AS BIGINT) AS chain_pos, c.vec_id,
  c.d2 AS d2_prev
FROM fin"""


@spec(
    "embedding_icp_order",
    _icp_oracle(),
    description="In-context-pretraining ordering (greedy nearest-"
                "neighbor chain per hash bucket, Shi et al. 2023): "
                "related docs laid adjacently for coherent packed "
                "contexts; exact integer distance keys make every "
                "hop bit-replicable vs the recursive-CTE replay",
    tags=("pipeline", "similarity", "iterative"),
)
def q_embedding_icp_order(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import icp_order

    emb = load(spark, sf_dir, "embeddings").select("vec_id",
                                                   "embedding")
    return icp_order(emb, n_buckets=_ICP_NB)


# ----------------------------------------------------------------------
# ICP packing — the point of the ordering: concat-then-chunk packing
# laid out along the ICP chain (bucket-major, then chain position),
# so each training sequence holds consecutive chain hops = related
# documents. Reuses the lengths-core packer over a composed layout
# id; the oracle replays the chain (recursive CTE) then the exact
# window cumsum. Docs without text drop out of the layout on both
# engines identically.
# ----------------------------------------------------------------------


def _icp_pack_oracle_full() -> str:
    L = _PACK_LEN
    return f"""
WITH RECURSIVE
ord0 AS MATERIALIZED ({_icp_oracle().strip()}),
j AS (SELECT o.bucket, o.chain_pos, d.doc_id,
        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n,
        o.bucket * 4294967296 + o.chain_pos AS lid
      FROM ord0 o JOIN documents d ON d.doc_id = o.vec_id
      WHERE d.text IS NOT NULL),
c AS (SELECT *, SUM(n) OVER (ORDER BY lid
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
        AS cb FROM j),
sp AS (SELECT *, unnest(range(0, 8)) AS k FROM c),
s AS (SELECT bucket, chain_pos, doc_id,
        CAST(cb // {L} + k AS BIGINT) AS seq_id,
        CAST(GREATEST(cb, (cb // {L} + k) * {L}) - cb AS BIGINT)
          AS doc_offset,
        CAST(GREATEST(cb, (cb // {L} + k) * {L})
          - (cb // {L} + k) * {L} AS BIGINT) AS seq_offset,
        CAST(LEAST(cb + n, (cb // {L} + k + 1) * {L})
          - GREATEST(cb, (cb // {L} + k) * {L}) AS BIGINT)
          AS span_len
      FROM sp WHERE (cb // {L} + k) * {L} < cb + n)
SELECT * FROM s"""


@spec(
    "doc_icp_pack",
    _icp_pack_oracle_full(),
    description="Packing along the in-context-pretraining chain: "
                "concat-then-chunk layout ordered by (bucket, chain "
                "position), so each sequence holds consecutive "
                "nearest-neighbor hops — the exact spans per "
                "(document, sequence) intersection, value-exact vs "
                "the chain replay + window cumsum",
    tags=("pipeline", "packing", "similarity"),
)
def q_doc_icp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.packing import \
        pack_sequences_from_lengths
    from xsarsea_spark.pipeline.similarity import icp_order

    emb = load(spark, sf_dir, "embeddings").select("vec_id",
                                                   "embedding")
    order = icp_order(emb, n_buckets=_ICP_NB)
    docs = load(spark, sf_dir, "documents") \
        .filter("text IS NOT NULL") \
        .selectExpr("doc_id",
                    "CAST(size(split(text, ' ')) AS BIGINT) AS n")
    lay = (order.join(docs,
                      on=order.vec_id == docs.doc_id)
           .selectExpr("bucket", "chain_pos", "doc_id", "n",
                       # 2^32 shift: lid is the unique total-order
                       # key pack_sequences_from_lengths ranks on; a
                       # 1e6 shift collides once a bucket chain
                       # exceeds 1e6 positions and silently corrupts
                       # the layout. chain_pos < 2^32 is asserted by
                       # construction (per-bucket row count).
                       "bucket * 4294967296 + chain_pos AS lid"))
    packed = pack_sequences_from_lengths(
        lay.select("lid", "n"), seq_len=_PACK_LEN,
        id_col="lid", len_col="n")
    return (packed.join(lay.select("lid", "bucket", "chain_pos",
                                   "doc_id"), on="lid")
            .selectExpr("bucket", "chain_pos", "doc_id",
                        "CAST(seq_id AS BIGINT) AS seq_id",
                        "CAST(doc_offset AS BIGINT) AS doc_offset",
                        "CAST(seq_offset AS BIGINT) AS seq_offset",
                        "CAST(span_len AS BIGINT) AS span_len"))


# ----------------------------------------------------------------------
# ICP coherence eval — the number that justifies the reorder: mean
# adjacent-hop distance under the ICP chain vs the naive vec_id
# layout, per layout (2 rows). The baseline needs NO window at all:
# bucket members are one residue class (vec_id ≡ b mod NB), so the
# vec_id-order successor is exactly vec_id + NB — one equi-join.
# Distances are the same floor-truncated integer keys as the chain,
# so both sides are exact; the means are single exact divisions.
# ----------------------------------------------------------------------


def _icp_coherence_oracle() -> str:
    d = _CND_DIM
    d2 = (f"list_reduce(list_transform(range(1, {d + 1}),"
          f" i -> CAST(FLOOR((a.emb[i] - b.emb[i])"
          f" * (a.emb[i] - b.emb[i]) * 1e9) AS BIGINT)),"
          f" (x, y) -> x + y)")
    return f"""
WITH RECURSIVE
ord0 AS MATERIALIZED ({_icp_oracle().strip()}),
it AS (SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       FROM embeddings),
icp AS (SELECT 'icp_chain' AS layout,
    CAST(COUNT(*) AS BIGINT) AS n_hops,
    SUM(d2_prev) / CAST(COUNT(*) AS DOUBLE) AS mean_d2
  FROM ord0 WHERE chain_pos >= 2),
base AS (SELECT 'vec_id_order' AS layout,
    CAST(COUNT(*) AS BIGINT) AS n_hops,
    SUM({d2}) / CAST(COUNT(*) AS DOUBLE) AS mean_d2
  FROM it a JOIN it b ON b.vec_id = a.vec_id + {_ICP_NB})
SELECT * FROM icp UNION ALL SELECT * FROM base"""


@spec(
    "embedding_icp_coherence",
    _icp_coherence_oracle(),
    description="ICP coherence eval: mean adjacent-hop distance "
                "under the greedy chain vs the naive vec_id layout "
                "— the baseline successor is one residue-class "
                "equi-join (vec_id + NB), no window; exact integer "
                "distance keys, one exact division per row",
    tags=("pipeline", "similarity"),
)
def q_embedding_icp_coherence(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import icp_order

    d = _CND_DIM
    emb = load(spark, sf_dir, "embeddings").select("vec_id",
                                                   "embedding")
    chain = icp_order(emb, n_buckets=_ICP_NB)
    icp = (chain.filter("chain_pos >= 2")
           .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_hops"),
                F.expr("SUM(d2_prev) / CAST(COUNT(*) AS DOUBLE)")
                .alias("mean_d2"))
           .selectExpr("'icp_chain' AS layout", "n_hops", "mean_d2"))
    a = emb.selectExpr("vec_id", "embedding AS ea")
    b = emb.selectExpr(f"vec_id - {_ICP_NB} AS vec_id",
                       "embedding AS eb")
    d2 = (f"aggregate(zip_with(ea, eb,"
          f" (x, y) -> CAST(FLOOR((CAST(x AS DOUBLE)"
          f" - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE)"
          f" - CAST(y AS DOUBLE)) * 1e9) AS BIGINT)),"
          f" 0L, (s, v) -> s + v)")
    base = (a.join(b, on="vec_id")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_hops"),
                 F.expr(f"SUM({d2}) / CAST(COUNT(*) AS DOUBLE)")
                 .alias("mean_d2"))
            .selectExpr("'vec_id_order' AS layout", "n_hops",
                        "mean_d2"))
    return icp.unionByName(base)


# ----------------------------------------------------------------------
# Maximum-inner-product search (MIPS) via the augmented-vector
# reduction (Bachrach et al. 2014): append sqrt(M^2 - ||c||^2) to
# every corpus vector (M = max corpus norm, a 1-row broadcast) and 0
# to queries; then squared L2 over the augmented space is
# ||q||^2 + M^2 - 2<q,c>, so NEAREST-neighbor machinery answers the
# MAX-DOT-PRODUCT query — the recommendation-retrieval reduction
# that lets one ANN index serve both metrics. Executed here exactly:
# the augmented distance is a fixed-order fold (sqrt is IEEE-exact,
# so the augmentation introduces no engine divergence), ranked
# ascending with id tie-breaks; the reported score is the DIRECT dot
# product of each chosen neighbor, making the reduction's
# correctness visible in the output (rank order must be descending
# in dot).
# ----------------------------------------------------------------------


def _mips_oracle() -> str:
    d = _CND_DIM
    nrm2 = (f"list_reduce(list_transform(range(1, {d + 1}),"
            f" i -> CAST(embedding[i] AS DOUBLE)"
            f" * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b)")
    dot = (f"list_reduce(list_transform(range(1, {d + 1}),"
           f" i -> CAST(q.qv[i] AS DOUBLE)"
           f" * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)")
    return f"""
WITH e AS (SELECT vec_id, embedding, {nrm2} AS n2 FROM embeddings),
m AS (SELECT MAX(n2) AS m2 FROM e),
c AS (SELECT vec_id, embedding, n2, sqrt(m.m2 - n2) AS aug
      FROM e, m),
q AS (SELECT vec_id AS query_id, embedding AS qv, n2 AS qn2
      FROM e WHERE vec_id < {_KNN_NQ}),
s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
    ({dot}) AS dot,
    q.qn2 - 2 * ({dot}) + c.n2 + c.aug * c.aug AS aug_d2
  FROM q JOIN c ON c.vec_id <> q.query_id)
SELECT query_id, rank, neighbor_id, dot FROM (
  SELECT query_id, neighbor_id, dot,
    row_number() OVER (PARTITION BY query_id
      ORDER BY aug_d2 ASC, neighbor_id ASC) AS rank
  FROM s)
WHERE rank <= {_KNN_K}
"""


@spec(
    "embedding_mips_topk",
    _mips_oracle(),
    description="Maximum-inner-product top-k via the augmented-"
                "vector reduction (append sqrt(M^2-||c||^2); L2 "
                "order becomes dot order): nearest-neighbor "
                "machinery answers the recommendation-style max-dot "
                "query; reported scores are the direct dot products "
                "of the chosen neighbors",
    tags=("pipeline", "similarity"),
)
def q_embedding_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _CND_DIM
    emb = load(spark, sf_dir, "embeddings")
    nrm2 = (f"aggregate(transform(sequence(1, {d}),"
            f" i -> CAST(element_at(embedding, i) AS DOUBLE)"
            f" * CAST(element_at(embedding, i) AS DOUBLE)),"
            f" 0d, (a, b) -> a + b)")
    e = emb.selectExpr("vec_id", "embedding", f"{nrm2} AS n2")
    m = e.agg(F.expr("MAX(n2)").alias("m2"))
    c = (e.join(F.broadcast(m))
         .selectExpr("vec_id", "embedding", "n2",
                     "sqrt(m2 - n2) AS aug"))
    q = (e.filter(F.col("vec_id") < _KNN_NQ)
         .selectExpr("vec_id AS query_id", "embedding AS qv",
                     "n2 AS qn2"))
    dot = (f"aggregate(zip_with(qv, embedding,"
           f" (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),"
           f" 0d, (acc, x) -> acc + x)")
    s = (c.withColumnRenamed("vec_id", "neighbor_id")
         .join(F.broadcast(q),
               F.col("query_id") != F.col("neighbor_id"))
         .selectExpr("query_id", "neighbor_id", f"({dot}) AS dot",
                     f"qn2 - 2 * ({dot}) + n2 + aug * aug"
                     " AS aug_d2"))
    # Scale funnel: the scored stream is corpus x NQ rows; shuffling
    # all of them into NQ window partitions is the one skewed-funnel
    # pattern this file bans. Instead run a per-partition partial
    # top-k (Arrow-batched, NO shuffle — it sits in the same stage
    # as the broadcast join) that keeps a running best-k per query
    # across the partition's batches, emitting <= partitions*NQ*k
    # survivors; the global window then orders a bounded input. Any
    # global top-k row is by definition in its partition's per-query
    # top-k, so the funnel is lossless and the answer bit-identical
    # (ties broken on neighbor_id in both passes).
    k = _KNN_K

    def _partial_topk(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cur = pdf if best is None else pd.concat(
                [best, pdf], ignore_index=True)
            best = (cur.sort_values(["aug_d2", "neighbor_id"],
                                    kind="mergesort")
                    .groupby("query_id", sort=False).head(k))
        if best is not None:
            yield best

    survivors = s.mapInPandas(_partial_topk, schema=s.schema)
    win = Window.partitionBy("query_id").orderBy(
        F.col("aug_d2").asc(), F.col("neighbor_id").asc())
    return (survivors.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= _KNN_K)
            .select("query_id", "rank", "neighbor_id", "dot"))


# ----------------------------------------------------------------------
# CDX-style SURT index — the lookup structure web archives build
# over WARC captures: each canonicalized URL keyed by its SURT form
# (Sort-friendly URI Reordering Transform: host labels reversed and
# comma-joined, then ')' and the path/query), totally ordered so
# prefix scans answer "every capture under this host/domain". Rides
# the existing URL canonicalization chain; the global index order is
# the two-pass distributed rank (no corpus-wide single-partition
# sort), replayed by the oracle as a native ROW_NUMBER.
# ----------------------------------------------------------------------


def _surt_expr(dialect: str) -> str:
    if dialect == "spark":
        rev = "array_join(reverse(split(u_hostd, '\\\\.')), ',')"
    else:
        rev = ("array_to_string(list_reverse("
               "string_split(u_hostd, '.')), ',')")
    return (f"concat({rev}, ')', u_path,"
            f" CASE WHEN u_params = '' THEN ''"
            f" ELSE concat('?', u_params) END)")


def _cdx_oracle() -> str:
    from xsarsea_spark.pipeline.urls import url_cte_chain

    parts, prev = url_cte_chain(
        f"SELECT doc_id, {_URL_SYNTH} AS url FROM documents")
    parts.append(
        f"sx AS (SELECT doc_id, {_surt_expr('duck')} AS surt,"
        f" md5(dup_key) AS digest FROM {prev})")
    return ("WITH " + ",\n".join(parts) + """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY surt, doc_id) AS BIGINT)
    AS surt_rank,
  surt, doc_id, digest
FROM sx""")


@spec(
    "doc_cdx_surt_index",
    _cdx_oracle(),
    description="CDX-style SURT index over canonicalized URLs "
                "(host labels reversed for prefix-scan lookup, "
                "total order via the two-pass distributed rank — "
                "no corpus-wide single-partition sort)",
    tags=("pipeline", "dedup", "rank"),
)
def q_doc_cdx_surt_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank
    from xsarsea_spark.pipeline.urls import url_norm_steps

    docs = load(spark, sf_dir, "documents")
    x = docs.selectExpr("doc_id", f"{_URL_SYNTH} AS url")
    for col, expr in url_norm_steps("spark"):
        x = x.withColumn(col, F.expr(expr))
    sx = x.selectExpr("doc_id", f"{_surt_expr('spark')} AS surt",
                      "md5(dup_key) AS digest")
    ranked = global_rank(
        sx, [F.col("surt").asc(), F.col("doc_id").asc()],
        rank_col="__sr")
    return ranked.selectExpr("CAST(__sr AS BIGINT) AS surt_rank",
                             "surt", "doc_id", "digest")


# ----------------------------------------------------------------------
# End-to-end CRAWL curation funnel — the round's crawl components
# composed in production order, one count per stage: discovered
# URLs -> RFC 9309 robots-allowed -> unique after URL dedup
# (first-capture canonical) -> passing the exact-integer quality
# battery. The same shape pipeline_curate_end2end gives the text
# side; here it certifies that robots verdicts, URL identity and
# the quality gate COMPOSE without re-deriving each other's inputs.
# Every stage is a filter/distinct over the previous one, so the
# funnel counts are monotone by construction — the oracle replays
# all four stages in one CTE chain.
# ----------------------------------------------------------------------


def _crawl_funnel_oracle() -> str:
    bad = _DQB_BAD.format(nt="len(string_split(text, ' '))")
    return f"""
WITH {_robots_ctes()},
urls AS (
  SELECT doc_id, text, COALESCE(n_chars, 0) AS n_chars,
    {_RB_DOMAIN} AS domain, {_RB_PATH} AS path
  FROM documents),
j AS (
  SELECT u.doc_id, u.text, u.n_chars, u.domain, u.path,
    {_RB_WIN} AS win
  FROM urls u LEFT JOIN rules r ON r.domain = u.domain
  GROUP BY u.doc_id, u.text, u.n_chars, u.domain, u.path),
allowed AS (
  SELECT *, md5(domain || path) AS digest FROM j
  WHERE win IS NULL OR win % 2 = 1),
kept AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY digest ORDER BY doc_id) AS rn FROM allowed)
  WHERE rn = 1),
q AS (SELECT * FROM kept
      WHERE text IS NOT NULL AND ({bad}) = 0)
SELECT stage, n_rows FROM (
  SELECT 1 AS ord, 'discovered' AS stage,
    (SELECT COUNT(*) FROM urls) AS n_rows
  UNION ALL SELECT 2, 'robots_allowed',
    (SELECT COUNT(*) FROM allowed)
  UNION ALL SELECT 3, 'url_unique', (SELECT COUNT(*) FROM kept)
  UNION ALL SELECT 4, 'quality_pass', (SELECT COUNT(*) FROM q))
"""


@spec(
    "pipeline_crawl_funnel",
    _crawl_funnel_oracle(),
    description="End-to-end crawl curation funnel: discovered -> "
                "RFC 9309 robots-allowed -> URL-dedup unique -> "
                "quality-gate pass, one exact count per stage — the "
                "crawl components composed in production order",
    tags=("pipeline", "dedup", "sampling"),
)
def q_pipeline_crawl_funnel(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.pipeline.robots import (robots_rules_df,
                                               with_robots_verdict)

    docs = load(spark, sf_dir, "documents")
    urls = docs.selectExpr(
        "doc_id", "text", "COALESCE(n_chars, 0L) AS n_chars",
        f"{_RB_DOMAIN} AS domain", f"{_RB_PATH} AS path")
    domains = [r.domain for r in urls.select("domain").distinct()
               .collect()]
    rules = robots_rules_df(spark, _robots_bodies(domains))
    allowed = (with_robots_verdict(urls, rules, "mybot")
               .filter("allowed")
               .withColumn("digest",
                           F.expr("md5(concat(domain, path))")))
    w = Window.partitionBy("digest").orderBy("doc_id")
    kept = (allowed.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1"))
    bad = _DQB_BAD.format(nt="size(split(text, ' '))")
    q = kept.filter(f"text IS NOT NULL AND ({bad}) = 0")
    counts = [("discovered", urls), ("robots_allowed", allowed),
              ("url_unique", kept), ("quality_pass", q)]
    out = None
    for stage, frame in counts:
        c = frame.agg(F.count(F.lit(1)).alias("n_rows")) \
            .selectExpr(f"'{stage}' AS stage", "n_rows")
        out = c if out is None else out.unionByName(c)
    return out


# ----------------------------------------------------------------------
# Farthest-point-sampling coreset (k-center / diversity selection) —
# the greedy 2-approximation every coreset/active-learning stack
# uses to pick a maximally-spread sample: seed with vec_id 0, then
# repeatedly take the vector whose MINIMUM squared L2 distance to
# the already-selected set is LARGEST (ties -> lowest id). The
# Spark side runs k-1 bounded rounds — selected vectors are a k-row
# driver list broadcast into a LEAST-of-folds projection, the
# argmax is a TakeOrdered limit 1 — so per-round cost is one corpus
# scan and the driver state is k vectors, never the corpus. The
# oracle UNROLLS the same greedy exactly (k literal CTE stages);
# distances are fixed-order folds, so selections, distances and
# ranks are value-exact cross-engine.
# ----------------------------------------------------------------------

_FPS_K = 5


def _fps_dist_duck(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(range(1, {_CND_DIM + 1}),"
            f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))),"
            f" (x, y) -> x + y)")


def _fps_oracle() -> str:
    parts = [
        # seed = MIN vec_id (never assumes a literal id exists)
        "s1 AS (SELECT 1 AS sel_rank,"
        " (SELECT MIN(vec_id) FROM embeddings) AS vec_id,"
        " CAST(NULL AS DOUBLE) AS d_min)",
        "v1 AS (SELECT e.embedding FROM embeddings e, s1"
        " WHERE e.vec_id = s1.vec_id LIMIT 1)",
        f"d1 AS (SELECT e.vec_id,"
        f" {_fps_dist_duck('e.embedding', 'v1.embedding')} AS dm"
        f" FROM embeddings e, v1, s1 WHERE e.vec_id <> s1.vec_id)",
    ]
    prev_d = "d1"
    sels = ["s1"]
    for i in range(2, _FPS_K + 1):
        parts.append(
            f"s{i} AS (SELECT {i} AS sel_rank, vec_id, dm AS d_min"
            f" FROM {prev_d} ORDER BY dm DESC, vec_id LIMIT 1)")
        sels.append(f"s{i}")
        if i < _FPS_K:
            parts.append(
                f"v{i} AS (SELECT e.embedding FROM embeddings e,"
                f" s{i} WHERE e.vec_id = s{i}.vec_id)")
            parts.append(
                f"d{i} AS (SELECT d.vec_id, LEAST(d.dm,"
                f" {_fps_dist_duck('e.embedding', f'v{i}.embedding')}"
                f") AS dm"
                f" FROM {prev_d} d JOIN embeddings e"
                f" ON e.vec_id = d.vec_id, v{i}"
                f" WHERE d.vec_id NOT IN"
                f" (SELECT vec_id FROM s{i}))")
            prev_d = f"d{i}"
    union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in sels)
    return "WITH " + ",\n".join(parts) + f"\n{union}"


@spec(
    "embedding_fps_coreset",
    _fps_oracle(),
    description="Farthest-point-sampling coreset (k-center greedy "
                "2-approx diversity selection): k-1 bounded rounds, "
                "each one corpus scan + a TakeOrdered argmax with a "
                "k-row broadcast selected set — selections and "
                "distances value-exact vs the oracle's unrolled "
                "greedy",
    tags=("pipeline", "sampling", "similarity"),
)
def q_embedding_fps_coreset(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    d = _CND_DIM
    emb = load(spark, sf_dir, "embeddings").select("vec_id",
                                                   "embedding")
    seed_id = emb.agg(F.min("vec_id")).collect()[0][0]
    schema = "sel_rank int, vec_id bigint, d_min double"
    if seed_id is None:
        # empty corpus: mirror the oracle's s1 row (NULL seed)
        return spark.createDataFrame([(1, None, None)], schema)
    first = emb.filter(F.col("vec_id") == seed_id).limit(1) \
        .collect()[0]
    selected = [(1, int(seed_id), None, list(first.embedding))]

    def dist_to(vec: list) -> str:
        lit = "array(" + ", ".join(f"CAST({float(x)!r}D AS DOUBLE)"
                                   for x in vec) + ")"
        return (f"aggregate(zip_with(embedding, {lit},"
                f" (a, b) -> (CAST(a AS DOUBLE) - b)"
                f" * (CAST(a AS DOUBLE) - b)),"
                f" 0d, (acc, x) -> acc + x)")

    # Incremental d_min: carry the running min-distance as a
    # PERSISTED column and fold in ONE new distance per round
    # (O(d) expression, one scan) instead of rebuilding least()
    # over all i selected vectors (O(k*d) expression growth).
    # min over a set is fold-order-free for doubles, so the
    # selections and distances are value-identical to the oracle's
    # unrolled greedy; memory is one (vec_id, embedding, dm) corpus
    # copy, unpersisted as each round's successor materializes.
    state = (emb.filter(F.col("vec_id") != int(seed_id))
             .selectExpr("vec_id", "embedding",
                         f"{dist_to(selected[0][3])} AS dm"))
    prev = None
    for i in range(2, _FPS_K + 1):
        st = state.persist()
        rows = (st.orderBy(F.col("dm").desc(), F.col("vec_id").asc())
                .limit(1).collect())
        if prev is not None:
            prev.unpersist()
        prev = st
        if not rows:
            # fewer than k vectors: degrade to a partial selection,
            # exactly like the oracle's empty d{i}/s{i} stages
            break
        cand = rows[0]
        selected.append((i, int(cand.vec_id), float(cand.dm),
                         list(cand.embedding)))
        state = (st.filter(F.col("vec_id") != int(cand.vec_id))
                 .selectExpr(
                     "vec_id", "embedding",
                     f"LEAST(dm, {dist_to(list(cand.embedding))})"
                     " AS dm"))
    if prev is not None:
        prev.unpersist()
    # built from driver-side rows (the selections were collected),
    # so the result carries no lineage on the unpersisted state
    return spark.createDataFrame(
        [(r, v, dm) for r, v, dm, _vec in selected], schema)


# ----------------------------------------------------------------------
# Zipf coverage curve — the corpus statistic behind every "top-k
# tokens cover X% of the corpus" claim (and the sanity check before
# vocabulary truncation): cumulative token-mass share of the k most
# frequent unigrams at k = 1, 10, 100, 1000. The cumulative sum
# rides global_rank's distributed running-sum support (per-partition
# totals + broadcast offsets — the only running-sum machinery in the
# repo, never a corpus-wide window), counts are integers, and the
# share is one exact-inputs division. Ranks past the vocabulary
# size simply have no row — identical on both engines.
# ----------------------------------------------------------------------

_ZIPF_KS = (1, 10, 100, 1000)

_ZIPF_ORACLE = f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  WHERE text IS NOT NULL),
c AS (SELECT tok, COUNT(*) AS c FROM t WHERE tok <> ''
      GROUP BY tok),
tot AS (SELECT SUM(c) AS n FROM c),
r AS (
  SELECT tok, c,
    ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS k,
    SUM(c) OVER (ORDER BY c DESC, tok
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM c)
SELECT r.k AS top_k, CAST(r.cum AS BIGINT) AS cum_tokens,
  CAST(tot.n AS BIGINT) AS total_tokens,
  r.cum / CAST(tot.n AS DOUBLE) AS coverage
FROM r, tot WHERE r.k IN {_ZIPF_KS}
"""


@spec(
    "doc_zipf_coverage",
    _ZIPF_ORACLE,
    description="Zipf coverage curve: cumulative token-mass share "
                "of the top-k unigrams at k=1/10/100/1000 — the "
                "running sum rides the two-pass distributed rank "
                "(never a corpus-wide window); exact integer "
                "counts, one division",
    tags=("pipeline", "text", "statistics", "rank"),
)
def q_doc_zipf_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    docs = load(spark, sf_dir, "documents")
    c = (docs.filter("text IS NOT NULL")
         .selectExpr("explode(split(text, ' ')) AS tok")
         .filter("tok <> ''")
         .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    tot = c.agg(F.expr("SUM(c)").alias("__n"))
    r = global_rank(c, [F.col("c").desc(), F.col("tok").asc()],
                    rank_col="__k", running_sums={"__cum": "c"})
    return (r.filter(F.col("__k").isin(list(_ZIPF_KS)))
            .join(F.broadcast(tot))
            .selectExpr("__k AS top_k",
                        "CAST(__cum AS BIGINT) AS cum_tokens",
                        "CAST(__n AS BIGINT) AS total_tokens",
                        "__cum / CAST(__n AS DOUBLE) AS coverage"))


# ----------------------------------------------------------------------
# Good-Turing vocabulary statistics (Gale & Sampson 1995, the
# simple-GT regime) — the unseen-mass estimate an LM-data pipeline
# reads before trusting a vocabulary: per language, the token count,
# vocabulary size, the frequency-of-frequency counts N1..N3, the
# Good-Turing unseen-probability mass P0 = N1/N and the smoothed
# count for singletons r*(1) = 2*N2/N1. One (lang, word) hash agg
# over the corpus, then a language-sized rollup — all integers and
# two exact-inputs divisions, windowless.
# ----------------------------------------------------------------------

_GT_ORACLE = """
WITH wf AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND lang IS NOT NULL) t
  WHERE w <> '' GROUP BY 1, 2)
SELECT lang,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS vocab,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
  CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(SUM(c) AS DOUBLE) AS p_unseen,
  CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0 THEN
    CAST(2 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
      / CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
  END AS gt_r1_star
FROM wf GROUP BY lang"""


@spec(
    "doc_good_turing",
    _GT_ORACLE,
    description="Good-Turing vocabulary report per language: token "
                "count, vocabulary, frequency-of-frequency N1-N3, "
                "unseen mass P0 = N1/N and the smoothed singleton "
                "count 2*N2/N1 — one (lang, word) hash agg, exact "
                "integers, windowless",
    tags=("pipeline", "text", "lm"),
)
def q_doc_good_turing(spark: SparkSession,
                      sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    wf = (docs.filter("text IS NOT NULL AND lang IS NOT NULL")
          .selectExpr("lang", "explode(split(text, ' ')) AS w")
          .filter("w <> ''")
          .groupBy("lang", "w")
          .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("c")))
    n1 = "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
    n2 = "SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)"
    return (wf.groupBy("lang").agg(
        F.expr("CAST(SUM(c) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("vocab"),
        F.expr(f"CAST({n1} AS BIGINT)").alias("n1"),
        F.expr(f"CAST({n2} AS BIGINT)").alias("n2"),
        F.expr("CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n3"),
        F.expr(f"CAST({n1} AS DOUBLE) / CAST(SUM(c) AS DOUBLE)")
        .alias("p_unseen"),
        F.expr(f"CASE WHEN {n1} > 0 THEN CAST(2 * {n2} AS DOUBLE)"
               f" / CAST({n1} AS DOUBLE) END").alias("gt_r1_star")))


# ----------------------------------------------------------------------
# Character-trigram entropy per language — the signal the n-gram
# language-ID family ranks on, reported as a corpus statistic: the
# Shannon entropy of each language's character-trigram distribution
# (raw text, all positions). H = ln(N) - (sum c*ln(c)) / N needs
# only per-trigram counts: ONE all-JVM substring-explode scan and a
# (lang, trigram) hash agg; the c*ln(c) terms are QTRUNC'd onto the
# 1e-9 grid before the exact DECIMAL sum (c*ln(c) stays far inside
# the 2^53 grid bound at any graded scale), and ln(N) sits behind
# its own barrier. Windowless.
# ----------------------------------------------------------------------


def _cte_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    term = QTRUNC("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))", 9)
    lnn = QTRUNC("ln(CAST(SUM(c) AS DOUBLE))", 12)
    return f"""
WITH tri AS (
  SELECT lang, substr(text, i, 3) AS tg FROM (
    SELECT lang, text FROM documents
    WHERE text IS NOT NULL AND lang IS NOT NULL
      AND length(text) >= 3) t,
    unnest(range(1, length(text) - 1)) AS u(i)),
tc AS (SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS c
       FROM tri GROUP BY 1, 2)
SELECT lang,
  CAST(SUM(c) AS BIGINT) AS n_trigrams,
  CAST(COUNT(*) AS BIGINT) AS distinct_trigrams,
  {lnn} - {DSUM(term, 12)} / CAST(SUM(c) AS DOUBLE)
    AS entropy_nats,
  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
FROM tc GROUP BY lang"""


@spec(
    "doc_char_trigram_entropy",
    _cte_oracle(),
    description="Per-language character-trigram Shannon entropy "
                "(the n-gram language-ID signal as a corpus "
                "statistic): one all-JVM substring-explode scan, "
                "one hash agg, on-grid c*ln(c) DECIMAL sum — plus "
                "the top-trigram share",
    tags=("pipeline", "text", "lm"),
)
def q_doc_char_trigram_entropy(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.suite.base import DSUM

    term = QTRUNC("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))", 9)
    lnn = QTRUNC("ln(CAST(SUM(c) AS DOUBLE))", 12)
    docs = load(spark, sf_dir, "documents")
    tri = (docs.filter("text IS NOT NULL AND lang IS NOT NULL"
                       " AND length(text) >= 3")
           .selectExpr(
               "lang",
               "explode(transform(sequence(1, length(text) - 2),"
               " i -> substring(text, i, 3))) AS tg"))
    tc = (tri.groupBy("lang", "tg")
          .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("c")))
    return (tc.groupBy("lang").agg(
        F.expr("CAST(SUM(c) AS BIGINT)").alias("n_trigrams"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("distinct_trigrams"),
        F.expr(f"{lnn} - {DSUM(term, 12)}"
               " / CAST(SUM(c) AS DOUBLE)").alias("entropy_nats"),
        F.expr("CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)")
        .alias("top_share")))


# ----------------------------------------------------------------------
# Per-source duplication profile — the triage report run before
# choosing dedup effort per ingest source: exact content identity
# (md5), per source the doc count, distinct-content count, the
# duplicate surplus and its rate, plus how many of the source's
# contents also appear in ANOTHER source (cross-source leakage).
# Two hash aggs on the digest; the cross-source flag is a bounded
# per-digest distinct count — no pairwise stage.
# ----------------------------------------------------------------------

_DUP_RATE_ORACLE = """
WITH d AS (
  SELECT coalesce(source, '') AS source, md5(text) AS digest
  FROM documents WHERE text IS NOT NULL),
x AS (
  SELECT digest, COUNT(DISTINCT source) AS nsrc FROM d GROUP BY 1),
g AS (
  SELECT d.source, d.digest, COUNT(*) AS c,
    MAX(x.nsrc) AS nsrc
  FROM d JOIN x ON x.digest = d.digest
  GROUP BY d.source, d.digest)
SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
  COUNT(*) AS n_unique,
  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_surplus,
  (SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE) AS dup_rate,
  CAST(COUNT(CASE WHEN nsrc > 1 THEN 1 END) AS BIGINT)
    AS n_cross_source
FROM g GROUP BY source
"""


@spec(
    "doc_dedup_rate_by_source",
    _DUP_RATE_ORACLE,
    description="Per-source duplication triage: exact-content doc/"
                "unique counts, duplicate surplus and rate, and the "
                "cross-source-leakage count — two digest hash aggs, "
                "no pairwise stage",
    tags=("pipeline", "dedup", "statistics"),
)
def q_doc_dedup_rate_by_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    d = (load(spark, sf_dir, "documents")
         .filter("text IS NOT NULL")
         .selectExpr("coalesce(source, '') AS source",
                     "md5(text) AS digest"))
    x = d.groupBy("digest").agg(
        F.expr("COUNT(DISTINCT source)").alias("__nsrc"))
    g = (d.join(x, on="digest")
         .groupBy("source", "digest")
         .agg(F.count(F.lit(1)).alias("c"),
              F.max("__nsrc").alias("__ns")))
    return g.groupBy("source").agg(
        F.expr("CAST(SUM(c) AS BIGINT)").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.expr("CAST(SUM(c) - COUNT(*) AS BIGINT)")
        .alias("n_dup_surplus"),
        F.expr("(SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE)")
        .alias("dup_rate"),
        F.expr("CAST(COUNT(CASE WHEN __ns > 1 THEN 1 END)"
               " AS BIGINT)").alias("n_cross_source"))


# ----------------------------------------------------------------------
# Heaps' law vocabulary growth — the companion of the Zipf curve:
# distinct-vocabulary size after each decile of the corpus (docs in
# doc_id order), the curve that predicts how vocabulary scales with
# corpus size (and when a tokenizer's vocab budget saturates).
# Cumulative DISTINCT is relational poison; the first-occurrence
# trick makes it two hash aggs: vocab(k) = tokens whose FIRST
# document rank is <= k. Document ranks ride the two-pass rank;
# the 10 decile cutoffs are a broadcast frame met with a <=
# predicate (10x fan-out, broadcast NLJ class).
# ----------------------------------------------------------------------

_HEAPS_ORACLE = """
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL),
ft AS (SELECT tok, MIN(doc_id) AS fdoc FROM dt
       WHERE tok <> '' GROUP BY tok),
dr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
       FROM (SELECT DISTINCT doc_id FROM documents
             WHERE text IS NOT NULL)),
fr AS (SELECT ft.tok, dr.rk AS frk FROM ft
       JOIN dr ON dr.doc_id = ft.fdoc),
tot AS (SELECT COUNT(*) AS d FROM dr),
ks AS (SELECT i AS decile,
         CAST(CEIL(tot.d * i / 10.0) AS BIGINT) AS k
       FROM (SELECT unnest(range(1, 11)) AS i), tot)
SELECT ks.decile AS decile, ks.k AS n_docs_prefix,
  CAST(COUNT(CASE WHEN fr.frk <= ks.k THEN 1 END) AS BIGINT)
    AS vocab_size
FROM ks, fr GROUP BY ks.decile, ks.k
"""


@spec(
    "doc_heaps_vocab_growth",
    _HEAPS_ORACLE,
    description="Heaps' law vocabulary growth: distinct-vocab size "
                "after each corpus decile via the first-occurrence "
                "trick (vocab(k) = tokens whose first doc rank <= "
                "k) — two hash aggs + the two-pass doc rank, never "
                "a cumulative-distinct window",
    tags=("pipeline", "text", "statistics", "rank"),
)
def q_doc_heaps_vocab_growth(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.operators.rank import global_rank

    docs = load(spark, sf_dir, "documents").filter("text IS NOT NULL")
    dt = (docs.selectExpr("doc_id",
                          "explode(split(text, ' ')) AS tok")
          .filter("tok <> ''").distinct())
    ft = dt.groupBy("tok").agg(F.min("doc_id").alias("fdoc"))
    dr = global_rank(docs.select("doc_id").distinct(),
                     [F.col("doc_id").asc()], rank_col="rk")
    fr = ft.join(dr.withColumnRenamed("doc_id", "fdoc"), on="fdoc") \
        .select("tok", F.col("rk").alias("frk"))
    tot = dr.agg(F.count(F.lit(1)).alias("d"))
    ks = (spark.range(1, 11).selectExpr("id AS decile")
          .join(F.broadcast(tot))
          .selectExpr("decile",
                      "CAST(CEIL(d * decile / 10.0) AS BIGINT)"
                      " AS k"))
    return (fr.join(F.broadcast(ks))
            .groupBy("decile", "k")
            .agg(F.expr("CAST(COUNT(CASE WHEN frk <= k"
                        " THEN 1 END) AS BIGINT)")
                 .alias("vocab_size"))
            .withColumnRenamed("k", "n_docs_prefix"))


# ----------------------------------------------------------------------
# Language-ID confusion matrix — the evaluation rollup for the
# marker-based classifier: per (labeled, predicted) pair the doc
# count, plus each cell's share of its labeled row (the per-class
# recall when labeled = predicted). Uses the ONE shared language
# predictor (_lang_pred_duck / pipeline.text.language_id), so this
# eval can never drift from the classifier it scores. Two hash
# aggs; output cardinality = |langs|^2.
# ----------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    scores_csv, case = _lang_pred_duck()
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l
           FROM documents
           WHERE text IS NOT NULL AND lang IS NOT NULL
             AND len(string_split(text, ' ')) > 0),
s AS (SELECT doc_id, lang, {scores_csv} FROM t),
p AS (SELECT lang, {case} AS pred_lang FROM s),
c AS (SELECT lang, pred_lang, COUNT(*) AS n_docs
      FROM p GROUP BY lang, pred_lang),
r AS (SELECT lang, SUM(n_docs) AS row_n FROM c GROUP BY lang)
SELECT c.lang, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
  c.n_docs / CAST(r.row_n AS DOUBLE) AS row_share
FROM c JOIN r ON r.lang = c.lang
"""


@spec(
    "doc_lang_confusion",
    _lang_confusion_oracle(),
    description="Language-ID confusion matrix: (labeled, predicted) "
                "doc counts + per-labeled-row shares, built on the "
                "ONE shared language predictor so the eval can "
                "never drift from the classifier it scores; two "
                "hash aggs",
    tags=("pipeline", "text", "eval"),
)
def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.text import language_id

    docs = (load(spark, sf_dir, "documents")
            .filter("text IS NOT NULL AND lang IS NOT NULL"
                    " AND size(split(text, ' ')) > 0"))
    p = language_id(docs).select("lang", "pred_lang")
    c = p.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"))
    r = c.groupBy("lang").agg(F.sum("n_docs").alias("__rn"))
    return (c.join(r, on="lang")
            .selectExpr("lang", "pred_lang",
                        "CAST(n_docs AS BIGINT) AS n_docs",
                        "n_docs / CAST(__rn AS DOUBLE)"
                        " AS row_share"))


# ----------------------------------------------------------------------
# Infini-gram n-gram count / continuation lookup (Liu et al. 2024) —
# the eval-side counterpart of substring dedup: corpus counts,
# document frequencies and next-token statistics for a bounded query
# set of n-grams (here self-derived: the top grams per length, so
# the query is self-contained and deterministic). ONE all-JVM
# inline(flatten(transform(...))) scan yields (doc, n, gram, next)
# occurrence rows for every n at once; the query grams prune the
# continuation pass via a broadcast semi-join inside the scan stage;
# everything downstream is integer hash aggregation — no float
# hazard anywhere. See pipeline/ngram_index.py for the scale
# argument (and for when the suffix array is the better index).
# ----------------------------------------------------------------------

_IG_NS = (1, 2, 3, 5)
_IG_TOPK = 3


def _ig_occ_duck(ns: tuple[int, ...]) -> str:
    nlist = "[" + ", ".join(str(n) for n in ns) + "]"
    return f"""
tk AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL),
occ AS (
  SELECT doc_id, CAST(nn AS BIGINT) AS n,
    array_to_string(list_slice(l, i, i + nn - 1), ' ') AS gram,
    CASE WHEN i + nn <= len(l) THEN l[i + nn] END AS cont
  FROM tk, unnest({nlist}) AS t1(nn),
       unnest(range(1, len(l) - nn + 2)) AS t2(i)),
stats AS MATERIALIZED (
  SELECT n, gram, COUNT(*) AS cnt,
    COUNT(DISTINCT doc_id) AS doc_freq
  FROM occ GROUP BY 1, 2)"""


def _ig_counts_oracle() -> str:
    tops = " UNION ALL ".join(
        f"(SELECT * FROM stats WHERE n = {nn}"
        f" ORDER BY cnt DESC, gram LIMIT {_IG_TOPK})"
        for nn in _IG_NS)
    return f"""
WITH {_ig_occ_duck(_IG_NS).strip()},
q AS MATERIALIZED ({tops}),
cs AS (SELECT o.n, o.gram, o.cont, COUNT(*) AS c
       FROM occ o JOIN q USING (n, gram)
       WHERE o.cont IS NOT NULL GROUP BY 1, 2, 3),
ca AS (SELECT n, gram, COUNT(*) AS cont_distinct,
         MIN({{'k': -c, 'v': cont}}) AS m
       FROM cs GROUP BY 1, 2)
SELECT q.n, q.gram, q.cnt, q.doc_freq,
  CAST(COALESCE(ca.cont_distinct, 0) AS BIGINT) AS cont_distinct,
  (ca.m).v AS top_cont,
  CAST(COALESCE(-(ca.m).k, 0) AS BIGINT) AS top_cont_cnt
FROM q LEFT JOIN ca USING (n, gram)"""


@spec(
    "doc_infinigram_counts",
    _ig_counts_oracle(),
    description="Infini-gram count lookup: occurrence count, doc "
                "frequency, distinct-continuation count and top "
                "continuation for the top grams per length — one "
                "all-JVM position-slice scan, broadcast query "
                "pruning, pure integer aggregation",
    tags=("pipeline", "text", "ngram"),
)
def q_doc_infinigram_counts(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import ngram_occurrences

    docs = load(spark, sf_dir, "documents")
    # pass 1: plain per-gram counts ONLY — no countDistinct. The old
    # combined agg planned count + COUNT(DISTINCT doc_id) through
    # Spark's expand rewrite (rows doubled pre-shuffle, exchange
    # keyed (n, gram, doc_id)); the counts alone combine map-side to
    # distinct grams per partition and decide the top-k selection
    cnts = materialize(
        ngram_occurrences(docs, _IG_NS)
        .groupBy("n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt")), eager=False)
    qs = None
    for nn in _IG_NS:
        top = (cnts.filter(F.col("n") == nn)
               .orderBy(F.col("cnt").desc(), F.col("gram").asc())
               .limit(_IG_TOPK))
        qs = top if qs is None else qs.unionAll(top)
    queries = materialize(qs, eager=False)
    # pass 2: ONE re-scan with the query-gram filter pushed INSIDE
    # the position generator (round 15, guide §2.3) — the bounded
    # top-k set (|ns| x TOPK rows by construction, the
    # doc_classifier_perlang literal-CASE precedent) is collected and
    # baked in as a literal n -> array(grams) map, so positions that
    # do not form a query gram never leave the generator and the
    # broadcast join disappears; the hit stream feeds BOTH the exact
    # doc-frequency and the continuation stats. Interleaved A/B at
    # sf0.1: 4.92 -> 4.31 s median, and the join-era 4L-row struct
    # stream is gone at every scale.
    qrows = queries.select("n", "gram").collect()
    by_n: dict[int, list[str]] = {}
    for r in qrows:
        by_n.setdefault(int(r["n"]), []).append(r["gram"])

    def _lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    if not by_n:   # empty corpus -> no query grams; 0-row hits with
        # the generator's schema (the old join shape, trivially empty)
        by_n = {1: [""]}
    entries = ", ".join(
        f"{nn}L, array({', '.join(_lit(g) for g in gs)})"
        for nn, gs in sorted(by_n.items()))
    ns_arr = "array(" + ", ".join(str(nn) for nn in sorted(by_n)) + ")"
    hits = materialize(
        docs.filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "split(text, ' ') AS __tk")
        .selectExpr(
            "doc_id",
            f"""inline(filter(flatten(transform({ns_arr}, nn ->
              transform(
                slice(sequence(1, size(__tk)), 1,
                      greatest(size(__tk) - nn + 1, 0)),
                i -> CASE WHEN array_contains(
                       element_at(map({entries}), nn),
                       array_join(slice(__tk, i, nn), ' '))
                  THEN struct(
                    CAST(nn AS BIGINT) AS n,
                    array_join(slice(__tk, i, nn), ' ') AS gram,
                    CASE WHEN i + nn <= size(__tk)
                         THEN element_at(__tk, i + nn) END
                      AS cont) END))),
              x -> x IS NOT NULL))"""), eager=False)
    dfq = hits.groupBy("n", "gram").agg(
        F.countDistinct("doc_id").alias("doc_freq"))
    ch = (hits.filter(F.col("cont").isNotNull())
          .groupBy("n", "gram", "cont")
          .agg(F.count(F.lit(1)).alias("__c")))
    cont = (ch.groupBy("n", "gram")
            .agg(F.count(F.lit(1)).alias("cont_distinct"),
                 F.min(F.struct((-F.col("__c")).alias("k"),
                                F.col("cont").alias("v")))
                 .alias("__m"))
            .selectExpr("n", "gram", "cont_distinct",
                        "__m.v AS top_cont",
                        "CAST(-__m.k AS BIGINT) AS top_cont_cnt"))
    return (queries.join(dfq, on=["n", "gram"], how="left")
            .join(cont, on=["n", "gram"], how="left")
            .selectExpr(
                "n", "gram", "cnt", "doc_freq",
                "CAST(COALESCE(cont_distinct, 0) AS BIGINT)"
                " AS cont_distinct",
                "top_cont",
                "CAST(COALESCE(top_cont_cnt, 0) AS BIGINT)"
                " AS top_cont_cnt"))


# ----------------------------------------------------------------------
# Infini-gram backoff (the "∞-gram" rule): for each query context,
# the LONGEST suffix that occurs anywhere in the corpus and its
# count. Contexts are self-derived: the top-2 4-grams (match at full
# length) plus the top-2 3-grams prefixed with an out-of-vocabulary
# token (forcing one backoff hop). The suffix explode is bounded by
# the context length; the probe is a broadcast join against the
# gram-stats table; the winner per context is a struct-order min.
# ----------------------------------------------------------------------

_IGB_NS = (1, 2, 3, 4)


def _ig_backoff_oracle() -> str:
    return f"""
WITH {_ig_occ_duck(_IGB_NS).strip()},
q4 AS (SELECT gram FROM stats WHERE n = 4
       ORDER BY cnt DESC, gram LIMIT 2),
q3 AS (SELECT gram FROM stats WHERE n = 3
       ORDER BY cnt DESC, gram LIMIT 2),
ctx AS (SELECT 'p4:' || gram AS ctx_id, gram AS ctx FROM q4
        UNION ALL
        SELECT 'bk:' || gram AS ctx_id, 'zzz ' || gram AS ctx
        FROM q3),
sfx AS (SELECT ctx_id, ctx, CAST(k AS BIGINT) AS n,
          array_to_string(list_slice(string_split(ctx, ' '),
            len(string_split(ctx, ' ')) - k + 1,
            len(string_split(ctx, ' '))), ' ') AS gram
        FROM ctx,
          unnest(range(1, len(string_split(ctx, ' ')) + 1)) AS t(k)),
hit AS (SELECT s.ctx_id, s.ctx,
          MIN({{'k': -s.n, 'g': s.gram, 'c': st.cnt}}) AS m
        FROM sfx s JOIN stats st ON st.n = s.n AND st.gram = s.gram
        GROUP BY 1, 2)
SELECT ctx_id, ctx, CAST(-(m).k AS BIGINT) AS matched_n,
  (m).g AS suffix, CAST((m).c AS BIGINT) AS cnt
FROM hit"""


@spec(
    "doc_infinigram_backoff",
    _ig_backoff_oracle(),
    description="Infini-gram backoff: longest corpus-occurring "
                "suffix per query context (top 4-grams verbatim + "
                "OOV-prefixed 3-grams forcing a backoff hop) — "
                "bounded suffix explode, broadcast probe of the "
                "gram-stats table, struct-order argmax",
    tags=("pipeline", "text", "ngram"),
)
def q_doc_infinigram_backoff(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import (
        backoff_longest_suffix, ngram_occurrences)

    docs = load(spark, sf_dir, "documents")
    # counts only: neither the top-gram contexts nor the backoff walk
    # reads doc_freq, so the old ngram_stats COUNT(DISTINCT doc_id)
    # (expand rewrite + (n, gram, doc_id)-keyed exchange) was pure
    # waste — the plain count agg combines map-side to distinct grams
    stats = materialize(
        ngram_occurrences(docs, _IGB_NS)
        .groupBy("n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt")))
    q4 = (stats.filter(F.col("n") == 4)
          .orderBy(F.col("cnt").desc(), F.col("gram").asc())
          .limit(2)
          .selectExpr("'p4:' || gram AS ctx_id", "gram AS ctx"))
    q3 = (stats.filter(F.col("n") == 3)
          .orderBy(F.col("cnt").desc(), F.col("gram").asc())
          .limit(2)
          .selectExpr("'bk:' || gram AS ctx_id",
                      "'zzz ' || gram AS ctx"))
    ctx = materialize(q4.unionAll(q3))
    return backoff_longest_suffix(ctx, stats)


# ----------------------------------------------------------------------
# Infini-gram backoff over the PERSISTED suffix-array index — the
# build-once / probe-many plan ngram_index.py's own docstring names
# as the right index for unbounded-length or interactive query sets
# (Liu 2024). The ladder + pair-table artifact is shared with the
# whole suffix family (same mod-7 slice, same cached build); the
# probe is a query-sized rank-ladder walk (O(query * log n) lookups)
# plus one broadcast semi-join count per window level — no per-query
# corpus rescan. The oracle is the POSITION-SLICE path — a
# completely different algorithm — so the SA probe's counts are
# graded against an independent derivation, not a replay of its own
# ladder. Contexts are self-derived at index-lookup cost (no gram
# scan): the first-6-token prefixes of the two smallest-id eligible
# docs (verbatim, matched at n=6) and the first-5-token prefixes of
# the two largest-id docs OOV-prefixed (forcing one backoff hop) —
# exercising window levels 0-2.
# ----------------------------------------------------------------------

_IGS_MOD = _SFX_MOD   # shared slice -> shared cached index
_IGS_MAXN = 6      # longest context in tokens


def _igs_oracle() -> str:
    nlist = "[" + ", ".join(str(n) for n in range(1, _IGS_MAXN + 1)) \
        + "]"
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL
       AND doc_id % {_IGS_MOD} = 0),
occ AS (
  SELECT doc_id, CAST(nn AS BIGINT) AS n,
    array_to_string(list_slice(l, i, i + nn - 1), ' ') AS gram
  FROM tk, unnest({nlist}) AS t1(nn),
       unnest(range(1, len(l) - nn + 2)) AS t2(i)),
stats AS MATERIALIZED (
  SELECT n, gram, COUNT(*) AS cnt FROM occ GROUP BY 1, 2),
el AS (SELECT doc_id, l FROM tk WHERE len(l) >= {_IGS_MAXN}),
c1 AS (SELECT 'p6:' || CAST(doc_id AS VARCHAR) AS ctx_id,
         array_to_string(l[1 : {_IGS_MAXN}], ' ') AS ctx
       FROM el ORDER BY doc_id LIMIT 2),
c2 AS (SELECT 'bk:' || CAST(doc_id AS VARCHAR) AS ctx_id,
         'zzz ' || array_to_string(l[1 : {_IGS_MAXN - 1}], ' ')
           AS ctx
       FROM el ORDER BY doc_id DESC LIMIT 2),
ctx AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
sfx AS (SELECT ctx_id, ctx, CAST(k AS BIGINT) AS n,
          array_to_string(list_slice(string_split(ctx, ' '),
            len(string_split(ctx, ' ')) - k + 1,
            len(string_split(ctx, ' '))), ' ') AS gram
        FROM ctx,
          unnest(range(1, len(string_split(ctx, ' ')) + 1)) AS t(k)),
hit AS (SELECT s.ctx_id, s.ctx,
          MIN({{'k': -s.n, 'g': s.gram, 'c': st.cnt}}) AS m
        FROM sfx s JOIN stats st ON st.n = s.n AND st.gram = s.gram
        GROUP BY 1, 2)
SELECT ctx_id, ctx, CAST(-(m).k AS BIGINT) AS matched_n,
  (m).g AS suffix, CAST((m).c AS BIGINT) AS cnt
FROM hit"""


# ----------------------------------------------------------------------
# Infini-gram count lookup over the same persisted suffix-array
# index — the PRIMARY infini-gram operation (Liu 2024 serve count
# queries first; backoff composes them): exact occurrence counts
# for a bounded self-derived gram set (prefixes of lengths 1/2/3/4/6
# of the three smallest-id eligible docs, plus an OOV-prefixed gram
# per doc that must count ZERO — exercising the absent-gram path via
# the LEFT join). Same artifact, same O(query * log n) probe; the
# oracle is again the independent position-slice derivation.
# ----------------------------------------------------------------------

_IGC_NS = (1, 2, 3, 4, 6)


def _igc_oracle() -> str:
    nlist = "[" + ", ".join(str(n) for n in _IGC_NS) + "]"
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL
       AND doc_id % {_IGS_MOD} = 0),
occ AS (
  SELECT doc_id, CAST(nn AS BIGINT) AS n,
    array_to_string(list_slice(l, i, i + nn - 1), ' ') AS gram
  FROM tk, unnest({nlist}) AS t1(nn),
       unnest(range(1, len(l) - nn + 2)) AS t2(i)),
stats AS MATERIALIZED (
  SELECT n, gram, COUNT(*) AS cnt FROM occ GROUP BY 1, 2),
base AS (SELECT doc_id, l FROM tk
         WHERE len(l) >= {_IGS_MAXN} ORDER BY doc_id LIMIT 3),
q AS (
  SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(nn AS VARCHAR)
    AS q_id, CAST(nn AS BIGINT) AS n,
    array_to_string(l[1 : CAST(nn AS INT)], ' ') AS gram
  FROM base, unnest({nlist}) AS t(nn)
  UNION ALL
  SELECT 'oov:' || CAST(doc_id AS VARCHAR), CAST(3 AS BIGINT),
    'zzz ' || array_to_string(l[1 : 2], ' ')
  FROM base)
SELECT q.q_id, q.n, q.gram,
  CAST(COALESCE(st.cnt, 0) AS BIGINT) AS cnt
FROM q LEFT JOIN stats st ON st.n = q.n AND st.gram = q.gram"""


@spec(
    "doc_infinigram_sa_counts",
    _igc_oracle(),
    description="Infini-gram count lookup from the persisted "
                "suffix-array artifact: exact occurrence counts for "
                "a bounded gram set (doc prefixes of five lengths + "
                "OOV-prefixed zero-count grams) by the "
                "overlapping-window rank probe — graded against the "
                "independent position-slice oracle",
    tags=("pipeline", "text", "ngram", "iterative"),
)
def q_doc_infinigram_sa_counts(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import sa_gram_counts
    from xsarsea_spark.pipeline.suffix import (
        suffix_probe_index_cached)

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_IGS_MOD} = 0")
    base = materialize(
        docs.selectExpr("doc_id", "split(text, ' ') AS l")
        .filter(f"size(l) >= {_IGS_MAXN}")
        .orderBy(F.col("doc_id").asc()).limit(3))
    nlist = "array(" + ", ".join(str(n) for n in _IGC_NS) + ")"
    qmain = base.selectExpr(
        "doc_id",
        f"""inline(transform({nlist}, nn -> struct(
          CAST(nn AS BIGINT) AS n,
          slice(l, 1, nn) AS toks)))""").selectExpr(
        "CAST(doc_id AS STRING) || ':' || CAST(n AS STRING)"
        " AS q_id", "n", "toks")
    qoov = base.selectExpr(
        "'oov:' || CAST(doc_id AS STRING) AS q_id",
        "CAST(3 AS BIGINT) AS n",
        "concat(array('zzz'), slice(l, 1, 2)) AS toks")
    q = materialize(
        qmain.unionByName(qoov)
        .withColumn("gram", F.expr("array_join(toks, ' ')")))
    tables, pairs = suffix_probe_index_cached(
        docs, _SFX_ROUNDS, max_level=_IGS_MAXN.bit_length() - 1)
    cnts = sa_gram_counts(q.selectExpr("q_id AS gid", "toks"),
                          tables, pairs, _IGS_MAXN)
    return (q.join(cnts, q["q_id"] == F.col("gid"), "left")
            .selectExpr("q_id", "n", "gram",
                        "CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt"))


@spec(
    "doc_infinigram_sa_backoff",
    _igs_oracle(),
    description="Infini-gram backoff answered from the persisted "
                "suffix-array artifact (ladder + pair-table rank "
                "lookups, shared with the suffix-dedup family): "
                "query rank ladder by O(query * log n) pair-table "
                "probes, occurrence counts by the overlapping-"
                "window rank match, longest-suffix winner per "
                "context — graded against an independent position-"
                "slice oracle, not a ladder replay",
    tags=("pipeline", "text", "ngram", "iterative"),
)
def q_doc_infinigram_sa_backoff(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import (
        sa_backoff_longest_suffix)
    from xsarsea_spark.pipeline.suffix import (
        suffix_probe_index_cached)

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_IGS_MOD} = 0")
    el = (docs.selectExpr("doc_id", "split(text, ' ') AS l")
          .filter(f"size(l) >= {_IGS_MAXN}"))
    c1 = (el.orderBy(F.col("doc_id").asc()).limit(2)
          .selectExpr("'p6:' || CAST(doc_id AS STRING) AS ctx_id",
                      f"array_join(slice(l, 1, {_IGS_MAXN}), ' ')"
                      " AS ctx"))
    c2 = (el.orderBy(F.col("doc_id").desc()).limit(2)
          .selectExpr("'bk:' || CAST(doc_id AS STRING) AS ctx_id",
                      "'zzz ' || array_join("
                      f"slice(l, 1, {_IGS_MAXN - 1}), ' ') AS ctx"))
    ctx = materialize(c1.unionAll(c2))
    tables, pairs = suffix_probe_index_cached(
        docs, _SFX_ROUNDS, max_level=_IGS_MAXN.bit_length() - 1)
    return sa_backoff_longest_suffix(ctx, tables, pairs, _IGS_MAXN)


# ----------------------------------------------------------------------
# Infini-gram next-token CONTINUATION distribution over the same
# persisted suffix-array index — the remaining Liu 2024 primary
# operation next to count lookup: given a context, the distribution
# over tokens observed immediately after its corpus occurrences.
# Each occurrence position from the rank probe is extended by one
# token via a (doc, p + k) join into the level-0 ladder (whose rank
# IS the 40-bit token hash), named through the vocabulary table
# (token hash -> token; the artifact's companion vocabulary at
# production scale, derived here with one vocabulary-scale
# distinct). Doc-end occurrences have no level-0 row at p + k and
# drop out — "no continuation". Query grams are the length-2/3
# prefixes of the three smallest-id eligible docs plus an
# OOV-prefixed gram per doc (zero path). The oracle is the
# independent position-slice derivation, not a ladder replay.
# ----------------------------------------------------------------------

_IGT_NS = (2, 3)


def _igt_oracle() -> str:
    nlist = "[" + ", ".join(str(n) for n in _IGT_NS) + "]"
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL
       AND doc_id % {_IGS_MOD} = 0),
occ AS (
  SELECT doc_id, CAST(nn AS BIGINT) AS n,
    array_to_string(list_slice(l, i, i + nn - 1), ' ') AS gram,
    CASE WHEN i + nn <= len(l) THEN l[i + nn] END AS cont
  FROM tk, unnest({nlist}) AS t1(nn),
       unnest(range(1, len(l) - nn + 2)) AS t2(i)),
stats AS MATERIALIZED (
  SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM occ GROUP BY 1, 2),
cs AS (SELECT n, gram, cont, COUNT(*) AS c FROM occ
       WHERE cont IS NOT NULL GROUP BY 1, 2, 3),
ca AS (SELECT n, gram, CAST(SUM(c) AS BIGINT) AS cont_total,
         CAST(COUNT(*) AS BIGINT) AS cont_distinct,
         MIN({{'k': -c, 'v': cont}}) AS m
       FROM cs GROUP BY 1, 2),
base AS (SELECT doc_id, l FROM tk
         WHERE len(l) >= {_IGS_MAXN} ORDER BY doc_id LIMIT 3),
q AS (
  SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(nn AS VARCHAR)
    AS q_id, CAST(nn AS BIGINT) AS n,
    array_to_string(l[1 : CAST(nn AS INT)], ' ') AS gram
  FROM base, unnest({nlist}) AS t(nn)
  UNION ALL
  SELECT 'oov:' || CAST(doc_id AS VARCHAR), CAST(2 AS BIGINT),
    'zzz ' || l[1]
  FROM base)
SELECT q.q_id, q.n, q.gram,
  CAST(COALESCE(st.cnt, 0) AS BIGINT) AS cnt,
  CAST(COALESCE(ca.cont_total, 0) AS BIGINT) AS cont_total,
  CAST(COALESCE(ca.cont_distinct, 0) AS BIGINT) AS cont_distinct,
  (ca.m).v AS top_cont,
  CAST(COALESCE(-(ca.m).k, 0) AS BIGINT) AS top_cont_cnt
FROM q LEFT JOIN stats st ON st.n = q.n AND st.gram = q.gram
LEFT JOIN ca ON ca.n = q.n AND ca.gram = q.gram"""


@spec(
    "doc_infinigram_sa_continuation",
    _igt_oracle(),
    description="Infini-gram next-token continuation distribution "
                "from the persisted suffix-array artifact: "
                "occurrence positions by the rank probe, extended "
                "one token via the level-0 ladder join and named "
                "through the vocabulary table — total/distinct "
                "continuations and the struct-order top next token, "
                "graded against the independent position-slice "
                "oracle",
    tags=("pipeline", "text", "ngram", "iterative"),
)
def q_doc_infinigram_sa_continuation(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import (
        sa_continuation, sa_gram_counts, sa_occurrence_positions)
    from xsarsea_spark.pipeline.suffix import (
        suffix_probe_index_cached)
    from xsarsea_spark.pipeline.text import HASH40_SQL

    maxn = max(_IGT_NS)
    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_IGS_MOD} = 0")
    base = materialize(
        docs.selectExpr("doc_id", "split(text, ' ') AS l")
        .filter(f"size(l) >= {_IGS_MAXN}")
        .orderBy(F.col("doc_id").asc()).limit(3))
    nlist = "array(" + ", ".join(str(n) for n in _IGT_NS) + ")"
    qmain = base.selectExpr(
        "doc_id",
        f"""inline(transform({nlist}, nn -> struct(
          CAST(nn AS BIGINT) AS n,
          slice(l, 1, nn) AS toks)))""").selectExpr(
        "CAST(doc_id AS STRING) || ':' || CAST(n AS STRING)"
        " AS q_id", "n", "toks")
    qoov = base.selectExpr(
        "'oov:' || CAST(doc_id AS STRING) AS q_id",
        "CAST(2 AS BIGINT) AS n",
        "concat(array('zzz'), slice(l, 1, 1)) AS toks")
    q = materialize(
        qmain.unionByName(qoov)
        .withColumn("gram", F.expr("array_join(toks, ' ')")))
    tables, pairs = suffix_probe_index_cached(
        docs, _SFX_ROUNDS, max_level=maxn.bit_length() - 1)
    gs = q.selectExpr("q_id AS gid", "toks")
    # ONE probe pass shared by the count and the continuation
    # consumers (each would otherwise re-run the ladder probe),
    # bounded by the query grams' occurrence counts. Lazy
    # checkpoint: both consumers reference the same RDD, so the
    # probe's stages run once inside the main action instead of in
    # an extra serialized job wave.
    occ = materialize(
        sa_occurrence_positions(gs, tables, pairs, maxn),
        eager=False)
    cnts = sa_gram_counts(gs, tables, pairs, maxn, occ=occ)
    # the artifact's companion vocabulary: token hash -> token — the
    # RAW exploded stream; sa_continuation rank-prunes it with a
    # broadcast semi-join, so no corpus-wide distinct is paid here
    vocab = (docs.selectExpr("explode(split(text, ' ')) AS w")
             .selectExpr("w", HASH40_SQL.format(x="w") + " AS r"))
    cont = sa_continuation(gs, tables, pairs, maxn, vocab, occ=occ)
    return (q.join(cnts.withColumnRenamed("gid", "q_id"),
                   on="q_id", how="left")
            .join(cont.withColumnRenamed("gid", "q_id"),
                  on="q_id", how="left")
            .selectExpr(
                "q_id", "n", "gram",
                "CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt",
                "CAST(COALESCE(cont_total, 0) AS BIGINT)"
                " AS cont_total",
                "CAST(COALESCE(cont_distinct, 0) AS BIGINT)"
                " AS cont_distinct",
                "top_cont",
                "CAST(COALESCE(top_cont_cnt, 0) AS BIGINT)"
                " AS top_cont_cnt"))


# ----------------------------------------------------------------------
# Benchmark decontamination via the suffix-array probe index — the
# scan-free spelling of the contamination check: membership of every
# benchmark n-gram in the training corpus as O(query * log n) rank
# probes against the SAME persisted artifact the suffix family
# shares, instead of a per-run corpus gram scan. The training corpus
# is the artifact's mod-slice; benchmark docs are the mod-97
# convention docs OUTSIDE it (disjoint by construction). The oracle
# IS the scan path (position-slice gram stats joined to the
# benchmark set), so the probe's answers are graded against the
# scan-based derivation — same answer, no corpus rescan at query
# time. Per benchmark doc: gram membership counts, total corpus
# occurrences, and the contamination rate.
# ----------------------------------------------------------------------


def _dsp_oracle() -> str:
    n = _CONTAM_N
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL
       AND doc_id % {_SFX_MOD} = 0),
occ AS (
  SELECT array_to_string(list_slice(l, i, i + {n} - 1), ' ')
    AS gram
  FROM tk, unnest(range(1, len(l) - {n} + 2)) AS t(i)),
stats AS MATERIALIZED (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM occ GROUP BY 1),
bd AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL
       AND doc_id % 97 = 0 AND doc_id % {_SFX_MOD} <> 0),
bg AS (SELECT DISTINCT doc_id,
         array_to_string(list_slice(l, i, i + {n} - 1), ' ')
           AS gram
       FROM bd, unnest(range(1, len(l) - {n} + 2)) AS t(i)
       WHERE len(l) >= {n}),
j AS (SELECT bg.doc_id, st.cnt
      FROM bg LEFT JOIN stats st USING (gram))
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(COUNT(cnt) AS BIGINT) AS n_contaminated,
  CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS corpus_occurrences,
  CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS max_gram_count,
  CAST(COUNT(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
    AS contamination_rate
FROM j GROUP BY doc_id"""


@spec(
    "doc_decontam_sa_probe",
    _dsp_oracle(),
    description="Benchmark decontamination via the persisted "
                "suffix-array probe index: every benchmark n-gram's "
                "training-corpus membership as O(query * log n) "
                "rank probes (no corpus rescan at query time), "
                "per-doc contamination stats — graded against the "
                "scan-path oracle",
    tags=("pipeline", "dedup", "text", "ngram", "iterative"),
)
def q_doc_decontam_sa_probe(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import sa_gram_counts
    from xsarsea_spark.pipeline.suffix import (
        suffix_probe_index_cached)

    n = _CONTAM_N
    corpus = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_SFX_MOD} = 0")
    bench = (load(spark, sf_dir, "documents")
             .filter("text IS NOT NULL AND doc_id % 97 = 0"
                     f" AND doc_id % {_SFX_MOD} <> 0")
             .selectExpr("doc_id", "split(text, ' ') AS l")
             # size guard: sequence() counts DOWN for sub-n docs
             # (the dedup.shingle hazard class); the oracle's
             # end-exclusive range() drops the same docs
             .filter(f"size(l) >= {n}"))
    bg = materialize(
        bench.select(
            "doc_id",
            F.explode(F.expr(
                f"transform(sequence(1, size(l) - {n - 1}),"
                f" i -> slice(l, i, {n}))")).alias("toks"))
        .distinct()
        .withColumn("gram", F.expr("array_join(toks, ' ')")))
    # the bounded probe set: DISTINCT grams across benchmark docs
    gs = (bg.select("gram", "toks").distinct()
          .selectExpr("gram AS gid", "toks"))
    tables, pairs = suffix_probe_index_cached(
        corpus, _SFX_ROUNDS, max_level=n.bit_length() - 1)
    cnts = sa_gram_counts(gs, tables, pairs, n)
    hit = bg.join(cnts.withColumnRenamed("gid", "gram"),
                  on="gram", how="left")
    return hit.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_grams"),
        F.expr("CAST(COUNT(cnt) AS BIGINT)").alias("n_contaminated"),
        F.expr("CAST(COALESCE(SUM(cnt), 0) AS BIGINT)")
        .alias("corpus_occurrences"),
        F.expr("CAST(COALESCE(MAX(cnt), 0) AS BIGINT)")
        .alias("max_gram_count"),
        F.expr("CAST(COUNT(cnt) AS DOUBLE)"
               " / CAST(COUNT(*) AS DOUBLE)")
        .alias("contamination_rate"))


# ----------------------------------------------------------------------
# The ∞-gram LM estimate over the persisted suffix-array index —
# Liu 2024's headline composition: per context, back off to the
# longest corpus-occurring suffix, then report THAT suffix's
# next-token continuation distribution; p_top = top_cont_cnt /
# cont_total is the ∞-gram probability of the most likely next
# token. One sa_gram_counts pass over the bounded suffix explode
# picks the winner, one sa_continuation pass over the winner grams
# attaches the distribution — both O(query * log n) probes, no
# corpus rescan. Same contexts as the backoff query (verbatim
# prefixes + OOV-prefixed forcing a hop); the oracle is the
# independent position-slice derivation; p_top is a single division
# of two BIGINTs behind a NULLIF guard, identical in both engines.
# ----------------------------------------------------------------------


def _iglm_oracle() -> str:
    nlist = "[" + ", ".join(str(n) for n in range(1, _IGS_MAXN + 1)) \
        + "]"
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l
       FROM documents WHERE text IS NOT NULL
       AND doc_id % {_IGS_MOD} = 0),
occ AS (
  SELECT doc_id, CAST(nn AS BIGINT) AS n,
    array_to_string(list_slice(l, i, i + nn - 1), ' ') AS gram,
    CASE WHEN i + nn <= len(l) THEN l[i + nn] END AS cont
  FROM tk, unnest({nlist}) AS t1(nn),
       unnest(range(1, len(l) - nn + 2)) AS t2(i)),
stats AS MATERIALIZED (
  SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM occ GROUP BY 1, 2),
cs AS (SELECT n, gram, cont, COUNT(*) AS c FROM occ
       WHERE cont IS NOT NULL GROUP BY 1, 2, 3),
ca AS (SELECT n, gram, CAST(SUM(c) AS BIGINT) AS cont_total,
         CAST(COUNT(*) AS BIGINT) AS cont_distinct,
         MIN({{'k': -c, 'v': cont}}) AS m
       FROM cs GROUP BY 1, 2),
el AS (SELECT doc_id, l FROM tk WHERE len(l) >= {_IGS_MAXN}),
c1 AS (SELECT 'p6:' || CAST(doc_id AS VARCHAR) AS ctx_id,
         array_to_string(l[1 : {_IGS_MAXN}], ' ') AS ctx
       FROM el ORDER BY doc_id LIMIT 2),
c2 AS (SELECT 'bk:' || CAST(doc_id AS VARCHAR) AS ctx_id,
         'zzz ' || array_to_string(l[1 : {_IGS_MAXN - 1}], ' ')
           AS ctx
       FROM el ORDER BY doc_id DESC LIMIT 2),
ctx AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
sfx AS (SELECT ctx_id, ctx, CAST(k AS BIGINT) AS n,
          array_to_string(list_slice(string_split(ctx, ' '),
            len(string_split(ctx, ' ')) - k + 1,
            len(string_split(ctx, ' '))), ' ') AS gram
        FROM ctx,
          unnest(range(1, len(string_split(ctx, ' ')) + 1)) AS t(k)),
hit AS (SELECT s.ctx_id, s.ctx,
          MIN({{'k': -s.n, 'g': s.gram, 'c': st.cnt}}) AS m
        FROM sfx s JOIN stats st ON st.n = s.n AND st.gram = s.gram
        GROUP BY 1, 2),
win AS (SELECT ctx_id, ctx, CAST(-(m).k AS BIGINT) AS matched_n,
          (m).g AS suffix, CAST((m).c AS BIGINT) AS cnt
        FROM hit)
SELECT w.ctx_id, w.ctx, w.matched_n, w.suffix, w.cnt,
  CAST(COALESCE(ca.cont_total, 0) AS BIGINT) AS cont_total,
  CAST(COALESCE(ca.cont_distinct, 0) AS BIGINT) AS cont_distinct,
  (ca.m).v AS top_cont,
  CAST(COALESCE(-(ca.m).k, 0) AS BIGINT) AS top_cont_cnt,
  CAST(COALESCE(-(ca.m).k, 0) AS DOUBLE)
    / CAST(NULLIF(COALESCE(ca.cont_total, 0), 0) AS DOUBLE)
    AS p_top
FROM win w LEFT JOIN ca
  ON ca.n = w.matched_n AND ca.gram = w.suffix"""


@spec(
    "doc_infinigram_sa_lm",
    _iglm_oracle(),
    description="The ∞-gram LM estimate from the persisted "
                "suffix-array artifact: longest-suffix backoff then "
                "the winner's next-token continuation distribution "
                "— p_top is the ∞-gram probability of the most "
                "likely next token; two O(query * log n) probe "
                "passes, graded against the independent "
                "position-slice oracle",
    tags=("pipeline", "text", "ngram", "lm", "iterative"),
)
def q_doc_infinigram_sa_lm(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.ngram_index import sa_infinigram_lm
    from xsarsea_spark.pipeline.suffix import (
        suffix_probe_index_cached)
    from xsarsea_spark.pipeline.text import HASH40_SQL

    docs = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_IGS_MOD} = 0")
    el = (docs.selectExpr("doc_id", "split(text, ' ') AS l")
          .filter(f"size(l) >= {_IGS_MAXN}"))
    c1 = (el.orderBy(F.col("doc_id").asc()).limit(2)
          .selectExpr("'p6:' || CAST(doc_id AS STRING) AS ctx_id",
                      f"array_join(slice(l, 1, {_IGS_MAXN}), ' ')"
                      " AS ctx"))
    c2 = (el.orderBy(F.col("doc_id").desc()).limit(2)
          .selectExpr("'bk:' || CAST(doc_id AS STRING) AS ctx_id",
                      "'zzz ' || array_join("
                      f"slice(l, 1, {_IGS_MAXN - 1}), ' ') AS ctx"))
    ctx = materialize(c1.unionAll(c2))
    tables, pairs = suffix_probe_index_cached(
        docs, _SFX_ROUNDS, max_level=_IGS_MAXN.bit_length() - 1)
    # the RAW exploded token stream — sa_continuation rank-prunes it
    # with a broadcast semi-join, so no corpus-wide distinct is paid
    vocab = (docs.selectExpr("explode(split(text, ' ')) AS w")
             .selectExpr("w", HASH40_SQL.format(x="w") + " AS r"))
    return sa_infinigram_lm(ctx, tables, pairs, _IGS_MAXN, vocab)


# ----------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test between the two largest
# sources' document-length (n_chars) distributions — the
# distribution-shape drift gate next to doc_length_psi: D is the
# max ECDF gap, computed exactly from one (source, n_chars) hash
# agg + cumulative sums over the BOUNDED distinct-length frame (the
# theil_sen class: global windows only over value-domain rows,
# never the corpus). D itself is pure arithmetic on exact BIGINT
# counts (two divisions, one subtraction, ABS — bit-identical cross
# engine, no QTRUNC needed); the asymptotic p-value truncates the
# Kolmogorov series at 100 terms with each exp() behind a QTRUNC
# barrier and an exact DECIMAL sum. The argmax length is the
# struct-order min of (-d, value).
# ----------------------------------------------------------------------

_KS_TERMS = 100


def _ks_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM

    term = QTRUNC(
        "exp(CAST(-2.0 AS DOUBLE) * CAST(k * k AS DOUBLE)"
        " * lam.l * lam.l)", 12)
    return f"""
WITH t AS (SELECT source, n_chars FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
tc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
       FROM t GROUP BY source),
top2 AS (SELECT source, c,
           ROW_NUMBER() OVER (ORDER BY c DESC, source ASC) AS rn
         FROM tc QUALIFY rn <= 2),
lab AS (SELECT t.n_chars AS v,
          CAST(SUM(CASE WHEN p.rn = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c1,
          CAST(SUM(CASE WHEN p.rn = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS c2
        FROM t JOIN top2 p ON p.source = t.source
        GROUP BY t.n_chars),
nn AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
              CAST(SUM(c2) AS BIGINT) AS n2 FROM lab),
cum AS (SELECT v,
          SUM(c1) OVER (ORDER BY v) AS a,
          SUM(c2) OVER (ORDER BY v) AS b
        FROM lab),
dv AS (SELECT v,
         ABS(CAST(a AS DOUBLE) / CAST(nn.n1 AS DOUBLE)
           - CAST(b AS DOUBLE) / CAST(nn.n2 AS DOUBLE)) AS d
       FROM cum, nn),
dm AS (SELECT MAX(d) AS d_stat,
         MIN({{'k': -d, 'v': v}}) AS m
       FROM dv),
lam AS (SELECT (sqrt(ne.e) + 1.2e-1 + 1.1e-1 / sqrt(ne.e))
           * dm.d_stat AS l
        FROM dm, (SELECT CAST(nn.n1 * nn.n2 AS DOUBLE)
                    / CAST(nn.n1 + nn.n2 AS DOUBLE) AS e
                  FROM nn) ne),
ser AS (SELECT {DSUM(f"CASE WHEN k % 2 = 1 THEN {term}"
                     f" ELSE -({term}) END", 14)} AS s
        FROM unnest(range(1, {_KS_TERMS + 1})) AS tk(k), lam),
sa AS (SELECT source FROM top2 WHERE rn = 1),
sb AS (SELECT source FROM top2 WHERE rn = 2)
SELECT sa.source AS source_a, sb.source AS source_b,
  nn.n1 AS n_a, nn.n2 AS n_b,
  dm.d_stat,
  CAST((dm.m).v AS BIGINT) AS d_at_chars,
  LEAST(CAST(1.0 AS DOUBLE),
        GREATEST(CAST(0.0 AS DOUBLE),
                 CAST(2.0 AS DOUBLE) * ser.s)) AS p_value
FROM sa, sb, nn, dm, ser"""


@spec(
    "doc_source_ks_test",
    _ks_oracle(),
    description="Two-sample Kolmogorov-Smirnov test between the "
                "two largest sources' document-length "
                "distributions: exact ECDF gap from one hash agg + "
                "cumulative sums over the bounded distinct-length "
                "frame, struct-order argmax length, 100-term "
                "Kolmogorov series behind QTRUNC barriers",
    tags=("pipeline", "quality", "stats"),
)
def q_doc_source_ks_test(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from xsarsea_spark.suite.base import DSUM

    docs = load(spark, sf_dir, "documents").filter(
        "source IS NOT NULL AND n_chars IS NOT NULL")
    tc = docs.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("c"))
    from pyspark.sql.window import Window
    # materialized: top2 (2 rows) feeds the lab join AND the sa/sb
    # output branches, lab (bounded distinct-length rows) feeds nn +
    # the ECDF walk + every broadcast replay below — unmaterialized,
    # each of the final crossJoin branches re-executes the corpus
    # scan + hash agg (executed plan: 28 documents scans).
    top2 = materialize(
        tc.withColumn(
            "rn", F.row_number().over(
                Window.orderBy(F.col("c").desc(),
                               F.col("source").asc())))
        .filter("rn <= 2"))
    lab = materialize(
        docs.join(F.broadcast(top2.select("source", "rn")),
                  on="source")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.expr("CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0"
                    " END) AS BIGINT)").alias("c1"),
             F.expr("CAST(SUM(CASE WHEN rn = 2 THEN 1 ELSE 0"
                    " END) AS BIGINT)").alias("c2")))
    nn = lab.agg(F.expr("CAST(SUM(c1) AS BIGINT)").alias("n1"),
                 F.expr("CAST(SUM(c2) AS BIGINT)").alias("n2"))
    # cumulative ECDFs over the BOUNDED distinct-length frame
    cum = lab.selectExpr(
        "v",
        "SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS a",
        "SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS b")
    dv = (cum.crossJoin(F.broadcast(nn))
          .selectExpr("v",
                      "ABS(CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE)"
                      " - CAST(b AS DOUBLE) / CAST(n2 AS DOUBLE))"
                      " AS d"))
    dm = dv.agg(F.expr("MAX(d)").alias("d_stat"),
                F.min(F.struct((-F.col("d")).alias("k"),
                               F.col("v").alias("v"))).alias("m"))
    lam = (dm.crossJoin(F.broadcast(nn))
           .selectExpr(
               "d_stat", "m",
               "(sqrt(CAST(n1 * n2 AS DOUBLE)"
               " / CAST(n1 + n2 AS DOUBLE)) + 1.2e-1"
               " + 1.1e-1 / sqrt(CAST(n1 * n2 AS DOUBLE)"
               " / CAST(n1 + n2 AS DOUBLE))) * d_stat AS l"))
    term = QTRUNC(
        "exp(CAST(-2.0 AS DOUBLE) * CAST(k * k AS DOUBLE)"
        " * l * l)", 12)
    ser = (lam.selectExpr(
        "l", f"explode(sequence(1, {_KS_TERMS})) AS k")
        .agg(F.expr(DSUM(f"CASE WHEN k % 2 = 1 THEN {term}"
                         f" ELSE -({term}) END", 14)).alias("s")))
    sa = top2.filter("rn = 1").selectExpr("source AS source_a")
    sb = top2.filter("rn = 2").selectExpr("source AS source_b")
    return (sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dm))
            .crossJoin(F.broadcast(ser))
            .selectExpr(
                "source_a", "source_b",
                "n1 AS n_a", "n2 AS n_b", "d_stat",
                "CAST(m.v AS BIGINT) AS d_at_chars",
                "LEAST(CAST(1.0 AS DOUBLE),"
                " GREATEST(CAST(0.0 AS DOUBLE),"
                " CAST(2.0 AS DOUBLE) * s)) AS p_value"))


# ----------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) between the same two sources —
# the rank-based location test next to KS's shape test, from the
# SAME (value, count) aggregate: midranks come from the cumulative
# count over the bounded distinct-length frame (midrank = count
# strictly below + (ties + 1)/2 — an exact .5-grid rational), the
# rank sum is an exact DECIMAL sum of count * midrank, the tie
# correction is an integer sum of ct^3 - ct, and z applies the
# 0.5 continuity correction toward the mean. The only libm is one
# IEEE-exact sqrt; sigma = 0 (all values tied) yields NULL z via
# NULLIF in both engines.
# ----------------------------------------------------------------------


def _mwu_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM

    return f"""
WITH t AS (SELECT source, n_chars FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
tc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
       FROM t GROUP BY source),
top2 AS (SELECT source, c,
           ROW_NUMBER() OVER (ORDER BY c DESC, source ASC) AS rn
         FROM tc QUALIFY rn <= 2),
lab AS (SELECT t.n_chars AS v,
          CAST(SUM(CASE WHEN p.rn = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c1,
          CAST(SUM(CASE WHEN p.rn = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS c2
        FROM t JOIN top2 p ON p.source = t.source
        GROUP BY t.n_chars),
nn AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
              CAST(SUM(c2) AS BIGINT) AS n2 FROM lab),
mr AS (SELECT v, c1, c2, c1 + c2 AS ct,
         SUM(c1 + c2) OVER (ORDER BY v) - (c1 + c2) AS below
       FROM lab),
rs AS (SELECT
         {DSUM("CAST(c1 AS DOUBLE) * (CAST(below AS DOUBLE)"
               " + (CAST(ct AS DOUBLE) + 1e0) / 2e0)", 1)} AS r1,
         CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie3
       FROM mr),
st AS (SELECT nn.n1, nn.n2, rs.r1, rs.tie3,
         rs.r1 - CAST(nn.n1 * (nn.n1 + 1) AS DOUBLE) / 2e0 AS u1,
         CAST(nn.n1 * nn.n2 AS DOUBLE) / 2e0 AS mu,
         sqrt(CAST(nn.n1 * nn.n2 AS DOUBLE) / 12e0
           * (CAST(nn.n1 + nn.n2 + 1 AS DOUBLE)
              - CAST(rs.tie3 AS DOUBLE)
                / (CAST(nn.n1 + nn.n2 AS DOUBLE)
                   * CAST(nn.n1 + nn.n2 - 1 AS DOUBLE)))) AS sg
       FROM nn, rs),
sa AS (SELECT source FROM top2 WHERE rn = 1),
sb AS (SELECT source FROM top2 WHERE rn = 2)
SELECT sa.source AS source_a, sb.source AS source_b,
  st.n1 AS n_a, st.n2 AS n_b,
  CAST(st.r1 * 2e0 AS BIGINT) AS rank_sum_x2,
  st.u1 AS u_stat, st.mu AS mu_u, st.tie3 AS tie_term,
  st.sg AS sigma_u,
  (st.u1 - st.mu
   - CASE WHEN st.u1 > st.mu THEN 5e-1
          WHEN st.u1 < st.mu THEN -5e-1
          ELSE 0e0 END)
    / NULLIF(st.sg, CAST(0 AS DOUBLE)) AS z_score
FROM sa, sb, st"""


@spec(
    "doc_source_mannwhitney",
    _mwu_oracle(),
    description="Mann-Whitney U rank-sum test between the two "
                "largest sources' document lengths: exact midranks "
                "from the bounded distinct-length frame, DECIMAL "
                "rank sum, integer tie correction, continuity-"
                "corrected z with a NULLIF sigma guard — the "
                "location drift test next to the KS shape test",
    tags=("pipeline", "quality", "stats"),
)
def q_doc_source_mannwhitney(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.suite.base import DSUM

    docs = load(spark, sf_dir, "documents").filter(
        "source IS NOT NULL AND n_chars IS NOT NULL")
    tc = docs.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("c"))
    # materialized for the same reason as doc_source_ks_test: top2
    # and lab otherwise re-execute the corpus scan + hash agg once
    # per broadcast output branch.
    top2 = materialize(
        tc.withColumn(
            "rn", F.row_number().over(
                Window.orderBy(F.col("c").desc(),
                               F.col("source").asc())))
        .filter("rn <= 2"))
    lab = materialize(
        docs.join(F.broadcast(top2.select("source", "rn")),
                  on="source")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.expr("CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0"
                    " END) AS BIGINT)").alias("c1"),
             F.expr("CAST(SUM(CASE WHEN rn = 2 THEN 1 ELSE 0"
                    " END) AS BIGINT)").alias("c2")))
    nn = lab.agg(F.expr("CAST(SUM(c1) AS BIGINT)").alias("n1"),
                 F.expr("CAST(SUM(c2) AS BIGINT)").alias("n2"))
    mr = lab.selectExpr(
        "v", "c1", "c2", "c1 + c2 AS ct",
        "SUM(c1 + c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW) - (c1 + c2) AS below")
    rs = mr.agg(
        F.expr(DSUM("CAST(c1 AS DOUBLE) * (CAST(below AS DOUBLE)"
                    " + (CAST(ct AS DOUBLE) + 1e0) / 2e0)", 1))
        .alias("r1"),
        F.expr("CAST(SUM(ct * ct * ct - ct) AS BIGINT)")
        .alias("tie3"))
    st = (rs.crossJoin(F.broadcast(nn))
          .selectExpr(
              "n1", "n2", "r1", "tie3",
              "r1 - CAST(n1 * (n1 + 1) AS DOUBLE) / 2e0 AS u1",
              "CAST(n1 * n2 AS DOUBLE) / 2e0 AS mu",
              "sqrt(CAST(n1 * n2 AS DOUBLE) / 12e0"
              " * (CAST(n1 + n2 + 1 AS DOUBLE)"
              " - CAST(tie3 AS DOUBLE)"
              " / (CAST(n1 + n2 AS DOUBLE)"
              " * CAST(n1 + n2 - 1 AS DOUBLE)))) AS sg"))
    sa = top2.filter("rn = 1").selectExpr("source AS source_a")
    sb = top2.filter("rn = 2").selectExpr("source AS source_b")
    return (sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(st))
            .selectExpr(
                "source_a", "source_b",
                "n1 AS n_a", "n2 AS n_b",
                "CAST(r1 * 2e0 AS BIGINT) AS rank_sum_x2",
                "u1 AS u_stat", "mu AS mu_u", "tie3 AS tie_term",
                "sg AS sigma_u",
                "(u1 - mu"
                " - CASE WHEN u1 > mu THEN 5e-1"
                " WHEN u1 < mu THEN -5e-1 ELSE 0e0 END)"
                " / NULLIF(sg, CAST(0 AS DOUBLE)) AS z_score"))


# ----------------------------------------------------------------------
# Unigram-LM (SentencePiece) tokenizer training — the EM half of the
# tokenizer story next to BPE: substring seed vocabulary, INT64
# nanonat piece costs (FLOOR(ln(total/cnt)*1e9) — the only libm call,
# floored onto the integer grid so the whole Viterbi DP is exact
# integer arithmetic), Viterbi E-step per DISTINCT word (vocabulary-
# scale, never corpus-scale), add-one-smoothed M-step over the fixed
# vocabulary. The oracle replays every EM round as a chained-CTE DP
# ladder over character positions with struct-order argmin — piece
# counts, costs AND segmentations are value-exact cross-engine.
# See pipeline/unigram.py for the scale argument.
# ----------------------------------------------------------------------


def _ulm_seed_ctes(where: str = "") -> list:
    """``where`` appends a corpus-slice predicate (AND-ed into wf's
    document filter) for oracles that train on a slice."""
    from xsarsea_spark.pipeline.unigram import ULM_K, ULM_MAXP, \
        ULM_MAXW
    return [
        f"wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT)"
        f" AS f FROM (SELECT unnest(string_split(text, ' ')) AS w"
        f" FROM documents WHERE text IS NOT NULL{where}) t"
        f" WHERE length(w) BETWEEN 1 AND {ULM_MAXW} GROUP BY w)",
        f"sc AS (SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM"
        f" (SELECT f, substr(w, i, l) AS piece FROM wf,"
        f" unnest(range(1, {ULM_MAXP} + 1)) AS tl(l),"
        f" unnest(range(1, length(w) - l + 2)) AS ti(i)) s"
        f" GROUP BY piece)",
        f"v0 AS MATERIALIZED (SELECT piece, cnt FROM sc"
        f" WHERE length(piece) = 1 UNION ALL"
        f" (SELECT piece, cnt FROM sc WHERE length(piece) >= 2"
        f" ORDER BY cnt DESC, piece LIMIT {ULM_K}))",
    ]


def _ulm_round_ctes(r: int, with_mstep: bool = True) -> list:
    """CTEs for EM round ``r``: ik{r} costs from v{r}, the DP ladder
    dp{r}_1..dp{r}_MAXW, seg{r}; plus cn{r} and v{r+1} when
    ``with_mstep``."""
    from xsarsea_spark.pipeline.unigram import ULM_MAXP, ULM_MAXW
    parts = [
        f"ik{r} AS MATERIALIZED (SELECT piece,"
        f" CAST(FLOOR(ln(CAST(t.t AS DOUBLE) / CAST(cnt AS DOUBLE))"
        f" * 1e9) AS BIGINT) AS ik FROM v{r},"
        f" (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM v{r}) t)",
        f"dp{r}_0 AS (SELECT w, f, CAST(0 AS BIGINT) AS k,"
        f" '' AS path FROM wf)",
    ]
    for i in range(1, ULM_MAXW + 1):
        cands = " UNION ALL ".join(
            f"SELECT d.w, d.f, d.k + ikt.ik AS k,"
            f" CASE WHEN d.path = '' THEN ikt.piece"
            f" ELSE d.path || ' ' || ikt.piece END AS path"
            f" FROM dp{r}_{i - l} d JOIN ik{r} ikt"
            f" ON ikt.piece = substr(d.w, {i - l + 1}, {l})"
            f" WHERE length(d.w) >= {i}"
            for l in range(1, min(ULM_MAXP, i) + 1))
        parts.append(
            f"dp{r}_{i} AS MATERIALIZED (SELECT w, f, (m).k AS k,"
            f" (m).p AS path FROM (SELECT w, f,"
            f" MIN({{'k': k, 'p': path}}) AS m FROM ({cands}) c"
            f" GROUP BY w, f) g)")
    seg = " UNION ALL ".join(
        f"SELECT w, f, k, path FROM dp{r}_{i} WHERE length(w) = {i}"
        for i in range(1, ULM_MAXW + 1))
    parts.append(f"seg{r} AS MATERIALIZED ({seg})")
    if with_mstep:
        parts.append(
            f"cn{r} AS (SELECT piece, CAST(SUM(f) AS BIGINT) AS raw"
            f" FROM seg{r}, unnest(string_split(path, ' '))"
            f" AS t(piece) GROUP BY piece)")
        parts.append(
            f"v{r + 1} AS MATERIALIZED (SELECT v.piece,"
            f" CAST(1 + COALESCE(c.raw, 0) AS BIGINT) AS cnt"
            f" FROM v0 v LEFT JOIN cn{r} c ON c.piece = v.piece)")
    return parts


def _ulm_train_oracle() -> str:
    from xsarsea_spark.pipeline.unigram import ULM_ROUNDS
    parts = _ulm_seed_ctes()
    for r in range(ULM_ROUNDS):
        parts += _ulm_round_ctes(r, with_mstep=True)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT v0.piece, CAST(length(v0.piece) AS BIGINT) AS piece_len,
  v0.cnt AS seed_cnt, vf.cnt AS em_cnt
FROM v0 JOIN v{ULM_ROUNDS} vf ON vf.piece = v0.piece""")


def _ulm_segment_oracle() -> str:
    from xsarsea_spark.pipeline.unigram import ULM_ROUNDS
    parts = _ulm_seed_ctes()
    for r in range(ULM_ROUNDS):
        parts += _ulm_round_ctes(r, with_mstep=True)
    parts += _ulm_round_ctes(ULM_ROUNDS, with_mstep=False)
    return ("WITH " + ",\n".join(parts) + f"""
SELECT w AS word, f AS freq, CAST(k AS BIGINT) AS cost_ns,
  path AS segmentation,
  CAST(len(string_split(path, ' ')) AS BIGINT) AS n_pieces
FROM seg{ULM_ROUNDS}""")


@spec(
    "doc_unigram_lm_train",
    _ulm_train_oracle(),
    description="Unigram-LM (SentencePiece) tokenizer training: "
                "substring seed vocabulary, integer nanonat costs, "
                "Viterbi EM over distinct words, add-one M-step — "
                "seed and re-estimated piece counts value-exact vs "
                "a chained-CTE replay of every EM round",
    tags=("pipeline", "text", "tokenizer", "iterative"),
)
def q_doc_unigram_lm_train(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.unigram import train_unigram

    docs = load(spark, sf_dir, "documents")
    _, seed, final, _ = train_unigram(docs)
    return (seed.selectExpr("piece",
                            "CAST(length(piece) AS BIGINT)"
                            " AS piece_len",
                            "cnt AS seed_cnt")
            .join(final.selectExpr("piece", "cnt AS em_cnt"),
                  on="piece"))


@spec(
    "doc_unigram_segment",
    _ulm_segment_oracle(),
    description="Unigram-LM Viterbi segmentation of the distinct "
                "words under the trained piece costs: best path, "
                "integer total cost and piece count per word — "
                "value-exact vs the oracle's DP-ladder replay "
                "(struct-order argmin, ASCII path tie-break)",
    tags=("pipeline", "text", "tokenizer"),
)
def q_doc_unigram_segment(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.unigram import train_unigram

    docs = load(spark, sf_dir, "documents")
    _, _, _, seg = train_unigram(docs)
    return seg.selectExpr("w AS word", "f AS freq", "cost_ns",
                          "path AS segmentation", "n_pieces")


# ----------------------------------------------------------------------
# Unigram tokenizer fertility — the trained unigram LM applied
# corpus-wide: per-language weighted pieces-per-word (fertility) and
# chars-per-piece, the compression report a tokenizer ships with
# (the unigram counterpart of doc_tokenizer_fertility's BPE view).
# The corpus appears in ONE (lang, word) hash agg; the segmentation
# join is against the vocabulary-scale word table. All sums are
# exact BIGINT; two final divisions.
# ----------------------------------------------------------------------


def _ulm_fertility_oracle() -> str:
    from xsarsea_spark.pipeline.unigram import ULM_MAXW, ULM_ROUNDS
    parts = _ulm_seed_ctes()
    for r in range(ULM_ROUNDS):
        parts += _ulm_round_ctes(r, with_mstep=True)
    parts += _ulm_round_ctes(ULM_ROUNDS, with_mstep=False)
    parts.append(
        f"lw AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM"
        f" (SELECT lang, unnest(string_split(text, ' ')) AS w"
        f" FROM documents WHERE text IS NOT NULL"
        f" AND lang IS NOT NULL) t"
        f" WHERE length(w) BETWEEN 1 AND {ULM_MAXW} GROUP BY 1, 2)")
    parts.append(
        f"np AS (SELECT w,"
        f" CAST(len(string_split(path, ' ')) AS BIGINT) AS np"
        f" FROM seg{ULM_ROUNDS})")
    return ("WITH " + ",\n".join(parts) + """
SELECT lang,
  CAST(SUM(c) AS BIGINT) AS n_words,
  CAST(SUM(c * np) AS BIGINT) AS n_pieces,
  CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
  CAST(SUM(c * np) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
    AS fertility,
  CAST(SUM(c * length(w)) AS DOUBLE) / CAST(SUM(c * np) AS DOUBLE)
    AS chars_per_piece
FROM lw JOIN np USING (w) GROUP BY lang""")


@spec(
    "doc_unigram_fertility",
    _ulm_fertility_oracle(),
    description="Unigram tokenizer fertility report: per-language "
                "weighted pieces-per-word and chars-per-piece under "
                "the trained unigram LM — one corpus-scale (lang, "
                "word) hash agg joined to the vocabulary-scale "
                "Viterbi segmentation, exact integer sums",
    tags=("pipeline", "text", "tokenizer"),
)
def q_doc_unigram_fertility(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.unigram import ULM_MAXW, \
        train_unigram

    docs = load(spark, sf_dir, "documents")
    _, _, _, seg = train_unigram(docs)
    lw = (docs.filter("text IS NOT NULL AND lang IS NOT NULL")
          .selectExpr("lang", "explode(split(text, ' ')) AS w")
          .filter(F.length("w").between(1, ULM_MAXW))
          .groupBy("lang", "w")
          .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("c")))
    np_ = seg.selectExpr("w", "n_pieces AS np")
    return (lw.join(np_, on="w")
            .groupBy("lang")
            .agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("n_words"),
                 F.expr("CAST(SUM(c * np) AS BIGINT)")
                 .alias("n_pieces"),
                 F.expr("CAST(SUM(c * length(w)) AS BIGINT)")
                 .alias("n_chars"),
                 F.expr("CAST(SUM(c * np) AS DOUBLE)"
                        " / CAST(SUM(c) AS DOUBLE)")
                 .alias("fertility"),
                 F.expr("CAST(SUM(c * length(w)) AS DOUBLE)"
                        " / CAST(SUM(c * np) AS DOUBLE)")
                 .alias("chars_per_piece")))


# ----------------------------------------------------------------------
# Perplexity quality bucketing under the PERSISTED unigram-LM
# artifact — the CCNet regime (Wenzek et al. 2020 §4.4: score every
# document with a reference LM, split each language into
# head/middle/tail thirds by perplexity; head = lowest perplexity =
# most reference-like), per language, scored with the saved
# tokenizer artifact (the doc_unigram_artifact_segment lifecycle:
# persist the vocabulary counts, reload, re-derive costs) — the
# unigram-LM counterpart of the bigram-LM doc_perplexity_buckets.
# The per-document score is exact INT64 arithmetic end to end: total
# Viterbi nanonat cost / total pieces over the doc's word
# occurrences (words <= ULM_MAXW chars, the family's DP-depth
# contract), joined from the vocabulary-scale segmentation table
# (broadcast). Terciles are rank arithmetic on the (lang, score,
# doc_id) total order — ridden on the two-pass distributed rank, no
# corpus-wide window — with per-language offsets/counts from one
# hash agg: rn*3 <= n -> head, rn*3 <= 2n -> middle, else tail.
# ----------------------------------------------------------------------


def _ppl_oracle() -> str:
    from xsarsea_spark.pipeline.unigram import ULM_MAXW, ULM_ROUNDS
    from xsarsea_spark.suite.base import DSUM

    parts = _ulm_seed_ctes()
    for r in range(ULM_ROUNDS):
        parts += _ulm_round_ctes(r, with_mstep=True)
    parts += _ulm_round_ctes(ULM_ROUNDS, with_mstep=False)
    parts += [
        f"ow AS (SELECT doc_id, lang, w FROM (SELECT doc_id, lang,"
        f" unnest(string_split(text, ' ')) AS w FROM documents"
        f" WHERE text IS NOT NULL AND lang IS NOT NULL) t"
        f" WHERE length(w) BETWEEN 1 AND {ULM_MAXW})",
        f"npp AS (SELECT w, k,"
        f" CAST(len(string_split(path, ' ')) AS BIGINT) AS np"
        f" FROM seg{ULM_ROUNDS})",
        "dcp AS (SELECT doc_id, lang,"
        " CAST(SUM(k) AS BIGINT) AS c,"
        " CAST(SUM(np) AS BIGINT) AS p"
        " FROM ow JOIN npp USING (w) GROUP BY 1, 2)",
        "scp AS (SELECT doc_id, lang, c, p,"
        " CAST(c AS DOUBLE) / CAST(p AS DOUBLE) AS r FROM dcp)",
        "rkp AS (SELECT lang, c, p, r,"
        " ROW_NUMBER() OVER (PARTITION BY lang ORDER BY r, doc_id)"
        " AS rn,"
        " COUNT(*) OVER (PARTITION BY lang) AS n FROM scp)",
        "bkp AS (SELECT lang,"
        " CASE WHEN rn * 3 <= n THEN 'head'"
        " WHEN rn * 3 <= 2 * n THEN 'middle'"
        " ELSE 'tail' END AS bucket, c, p, r FROM rkp)",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(c) AS BIGINT) AS sum_cost_ns,
  CAST(SUM(p) AS BIGINT) AS sum_pieces,
  {DSUM(QTRUNC('r / CAST(1e9 AS DOUBLE)', 9), 12)} / COUNT(*)
    AS mean_nats
FROM bkp GROUP BY lang, bucket""")


@spec(
    "doc_unigram_ppl_buckets",
    _ppl_oracle(),
    description="CCNet-style per-language perplexity bucketing "
                "under the PERSISTED unigram-LM artifact (save "
                "vocabulary counts, reload, re-derive costs): "
                "per-doc INT64 nanonat cost per piece, head/middle/"
                "tail terciles by rank arithmetic on the "
                "distributed two-pass rank — bucket populations and "
                "exact cost sums value-identical to the DP-ladder "
                "oracle replay",
    tags=("pipeline", "text", "tokenizer", "quality", "formats"),
)
def q_doc_unigram_ppl_buckets(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize, scratch_path
    from xsarsea_spark.operators.rank import global_rank
    from xsarsea_spark.pipeline.unigram import (ULM_MAXW,
                                                ULM_ROUNDS, em_round,
                                                piece_costs,
                                                seed_vocab,
                                                viterbi_segment,
                                                word_freqs)
    from xsarsea_spark.suite.base import DSUM

    docs = load(spark, sf_dir, "documents")
    wf = materialize(word_freqs(docs))
    vocab = materialize(seed_vocab(wf))
    # the oracle replays ULM_ROUNDS rounds — iterate the same
    # constant so the engines can never desync on a config change
    for _ in range(ULM_ROUNDS):
        vocab = materialize(em_round(wf, vocab))
    path = scratch_path(spark, "unigram_ppl_vocab", sf_dir)
    # the saved tokenizer: (piece, cnt) BIGINT rows — repartition(1),
    # not coalesce(1) (the documented local-relation write stall)
    vocab.repartition(1).write.mode("overwrite").parquet(path)
    loaded = spark.read.parquet(path)
    # no checkpoint: the broadcast exchange computes the vocabulary-
    # scale segmentation exactly once
    seg = (viterbi_segment(wf, piece_costs(loaded))
           .select("w", "cost_ns", "n_pieces"))
    occ = (docs.filter("text IS NOT NULL AND lang IS NOT NULL")
           .selectExpr("doc_id", "lang",
                       "explode(split(text, ' ')) AS w")
           .filter(F.length("w").between(1, ULM_MAXW)))
    dc = (occ.join(F.broadcast(seg), on="w")
          .groupBy("doc_id", "lang")
          .agg(F.expr("CAST(SUM(cost_ns) AS BIGINT)").alias("c"),
               F.expr("CAST(SUM(n_pieces) AS BIGINT)").alias("p")))
    scored = dc.selectExpr(
        "doc_id", "lang", "c", "p",
        "CAST(c AS DOUBLE) / CAST(p AS DOUBLE) AS r")
    ranked = global_rank(
        scored,
        [F.col("lang").asc(), F.col("r").asc(),
         F.col("doc_id").asc()],
        rank_col="__g")
    ls = ranked.groupBy("lang").agg(
        F.min("__g").alias("__off"),
        F.count(F.lit(1)).alias("__n"))
    bucketed = (ranked.join(F.broadcast(ls), on="lang")
                .selectExpr("lang", "c", "p", "r",
                            "__g - __off + 1 AS __rn", "__n")
                .selectExpr(
                    "lang",
                    "CASE WHEN __rn * 3 <= __n THEN 'head'"
                    " WHEN __rn * 3 <= 2 * __n THEN 'middle'"
                    " ELSE 'tail' END AS bucket",
                    "c", "p", "r"))
    return (bucketed.groupBy("lang", "bucket")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
                 F.expr("CAST(SUM(c) AS BIGINT)")
                 .alias("sum_cost_ns"),
                 F.expr("CAST(SUM(p) AS BIGINT)")
                 .alias("sum_pieces"),
                 F.expr(DSUM(QTRUNC("r / CAST(1e9 AS DOUBLE)", 9),
                             12) + " / COUNT(*)")
                 .alias("mean_nats")))


# ----------------------------------------------------------------------
# Tokenizer comparison report — BPE vs unigram-LM trained on the
# SAME corpus slice, each through its full persisted-artifact
# lifecycle (train -> persist -> reload -> apply), compared on the
# fertility/compression statistics a tokenizer evaluation actually
# reports: units per word and chars per unit. Both trainings run on
# the doc_id % _TKC_MOD slice so the combined query stays inside the
# suite's per-query budget; the oracle replays BOTH training loops
# (the BPE merge-round CTE chain and the unigram EM/DP ladder) on
# the same slice, so the two report rows are value-exact only if
# each artifact round trip reproduces its training loop bit-for-bit.
# All counts are exact BIGINT sums; the two ratios are single double
# divisions of those.
# ----------------------------------------------------------------------

_TKC_MOD = 3   # training slice: doc_id % 3 = 0


def _tkc_oracle() -> str:
    from xsarsea_spark.pipeline.unigram import ULM_ROUNDS

    where = f" AND doc_id % {_TKC_MOD} = 0"
    parts = _bpe_ctes(True, where=where)
    parts += _ulm_seed_ctes(where=where)
    for r in range(ULM_ROUNDS):
        parts += _ulm_round_ctes(r, with_mstep=True)
    parts += _ulm_round_ctes(ULM_ROUNDS, with_mstep=False)
    nb = " UNION ALL ".join(
        f"SELECT 1 AS x FROM top{r}" for r in range(_BPE_MERGES))
    parts += [
        f"bmn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv"
        f" FROM ({nb}) u)",
        f"benc AS (SELECT doc_id, list_reduce(list_transform(t,"
        f" x -> len(string_split(x, ' '))), (a, b) -> a + b)"
        f" AS n_raw, len(t) AS n_enc FROM t{_BPE_MERGES})",
        "bj AS (SELECT e.n_raw, e.n_enc, length(d.text) AS nch"
        " FROM benc e JOIN documents d ON d.doc_id = e.doc_id)",
        "brow AS (SELECT 'bpe' AS tokenizer,"
        " (SELECT nv FROM bmn) AS n_vocab,"
        " CAST(COUNT(*) AS BIGINT) AS n_docs,"
        " CAST(SUM(n_raw) AS BIGINT) AS n_words,"
        " CAST(SUM(n_enc) AS BIGINT) AS n_units,"
        " CAST(SUM(nch - (n_raw - 1)) AS BIGINT) AS n_chars"
        " FROM bj)",
        f"umn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv"
        f" FROM v{ULM_ROUNDS})",
        f"unpp AS (SELECT w,"
        f" CAST(len(string_split(path, ' ')) AS BIGINT) AS np"
        f" FROM seg{ULM_ROUNDS})",
        "urow AS (SELECT 'unigram' AS tokenizer,"
        " (SELECT nv FROM umn) AS n_vocab,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM documents"
        f" WHERE text IS NOT NULL{where}) AS n_docs,"
        " CAST(SUM(f) AS BIGINT) AS n_words,"
        " CAST(SUM(f * np) AS BIGINT) AS n_units,"
        " CAST(SUM(f * length(w)) AS BIGINT) AS n_chars"
        " FROM wf JOIN unpp USING (w))",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT tokenizer, n_vocab, n_docs, n_words, n_units, n_chars,
  CAST(n_units AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
  CAST(n_chars AS DOUBLE) / CAST(n_units AS DOUBLE)
    AS chars_per_unit
FROM (SELECT * FROM brow UNION ALL SELECT * FROM urow) z""")


@spec(
    "doc_tokenizer_compare",
    _tkc_oracle(),
    description="Tokenizer comparison report: BPE and unigram-LM "
                "trained on the same corpus slice through their "
                "persisted-artifact lifecycles, compared on exact "
                "BIGINT word/unit/char totals with fertility and "
                "chars-per-unit as single double divisions — both "
                "training loops replayed by the oracle",
    tags=("pipeline", "text", "tokenizer", "iterative", "formats"),
)
def q_doc_tokenizer_compare(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    import shutil

    from xsarsea_spark.pipeline.bpe import (bpe_apply,
                                            bpe_load_merges,
                                            bpe_save_merges,
                                            bpe_train)
    from xsarsea_spark.pipeline.unigram import (ULM_ROUNDS, em_round,
                                                piece_costs,
                                                seed_vocab,
                                                viterbi_segment,
                                                word_freqs)

    sl = load(spark, sf_dir, "documents").filter(
        f"text IS NOT NULL AND doc_id % {_TKC_MOD} = 0")
    # BPE lifecycle: train -> persist merge table -> reload -> apply
    bpath = scratch_path(spark, "tokcmp_bpe", sf_dir)
    shutil.rmtree(bpath, ignore_errors=True)
    bpe_save_merges(bpe_train(sl, n_merges=_BPE_MERGES), bpath)
    bm = bpe_load_merges(spark, bpath)
    enc = bpe_apply(sl, bm)
    bj = enc.join(sl.selectExpr("doc_id", "length(text) AS __nch"),
                  on="doc_id")
    brow = (bj.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_tokens_raw) AS BIGINT)").alias("n_words"),
        F.expr("CAST(SUM(n_tokens_encoded) AS BIGINT)")
        .alias("n_units"),
        F.expr("CAST(SUM(__nch - (n_tokens_raw - 1)) AS BIGINT)")
        .alias("n_chars"))
        .crossJoin(F.broadcast(bm.agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_vocab"))))
        .selectExpr("'bpe' AS tokenizer", "n_vocab", "n_docs",
                    "n_words", "n_units", "n_chars"))
    # unigram lifecycle: train -> persist vocabulary -> reload ->
    # re-derive costs -> segment (the ppl_buckets artifact shape)
    wf = materialize(word_freqs(sl))
    vocab = materialize(seed_vocab(wf))
    for _ in range(ULM_ROUNDS):
        vocab = materialize(em_round(wf, vocab))
    upath = scratch_path(spark, "tokcmp_ulm", sf_dir)
    vocab.repartition(1).write.mode("overwrite").parquet(upath)
    loaded = spark.read.parquet(upath)
    seg = (viterbi_segment(wf, piece_costs(loaded))
           .select("w", "n_pieces"))
    urow = (wf.join(seg, on="w")
            .agg(F.expr("CAST(SUM(f) AS BIGINT)").alias("n_words"),
                 F.expr("CAST(SUM(f * n_pieces) AS BIGINT)")
                 .alias("n_units"),
                 F.expr("CAST(SUM(f * length(w)) AS BIGINT)")
                 .alias("n_chars"))
            .crossJoin(F.broadcast(loaded.agg(
                F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_vocab"))))
            .crossJoin(F.broadcast(sl.agg(
                F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"))))
            .selectExpr("'unigram' AS tokenizer", "n_vocab",
                        "n_docs", "n_words", "n_units", "n_chars"))
    return (brow.unionByName(urow)
            .selectExpr(
                "tokenizer", "n_vocab", "n_docs", "n_words",
                "n_units", "n_chars",
                "CAST(n_units AS DOUBLE) / CAST(n_words AS DOUBLE)"
                " AS fertility",
                "CAST(n_chars AS DOUBLE) / CAST(n_units AS DOUBLE)"
                " AS chars_per_unit"))


# ----------------------------------------------------------------------
# Bitext mining with the margin criterion (Artetxe & Schwenk 2019,
# the CCMatrix/LASER mining rule): a candidate pair's raw cosine is
# ratio-scored against the average similarity of each side's own
# k-nearest neighborhood, which suppresses hubness — pairs are
# accepted when margin >= 1 (closer than both neighborhoods). Two
# kNN passes (forward: query block vs the other side; backward: the
# bounded forward-candidate set vs the full near side) — both the
# scan x bounded-broadcast class of embedding_knn; at corpus x
# corpus scale the candidate generator swaps for the IVF/LSH paths.
# Determinism: sequential-fold cosines, QTRUNC'd to the 1e-12 grid,
# neighborhood averages as exact DECIMAL sums over on-grid terms,
# margins one shared division, argmax by struct order.
# ----------------------------------------------------------------------

_BTX_NQ, _BTX_K = 20, 5


def _bitext_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM
    fold = ("list_reduce(list_transform(range(1, len({a}) + 1),"
            " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
            " (x, y) -> x + y)")
    nrm = ("sqrt(list_reduce(list_transform("
           "range(1, len(embedding) + 1),"
           " i -> CAST(embedding[i] AS DOUBLE)"
           " * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y))")
    cosf = fold.format(a="q.qv", b="c.cv") + " / (q.qn * c.cn)"
    qcos = QTRUNC("cosine", 12)
    return f"""
WITH e AS (SELECT vec_id, embedding, {nrm} AS nr FROM embeddings),
sa AS (SELECT vec_id, embedding AS cv, nr AS cn FROM e
       WHERE vec_id % 2 = 0),
sb AS (SELECT vec_id, embedding AS cv, nr AS cn FROM e
       WHERE vec_id % 2 = 1),
qa AS (SELECT vec_id AS query_id, cv AS qv, cn AS qn FROM sa
       WHERE vec_id < {2 * _BTX_NQ}),
fs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         {cosf} AS cosine
       FROM qa q JOIN sb c ON TRUE),
fr AS (SELECT query_id, neighbor_id, {qcos} AS qcos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id ASC) AS rk
       FROM fs),
fk AS MATERIALIZED (SELECT query_id, neighbor_id, qcos FROM fr
                    WHERE rk <= {_BTX_K}),
favg AS (SELECT query_id, {DSUM('qcos', 12)}
           / CAST({_BTX_K} AS DOUBLE) AS fa
         FROM fk GROUP BY query_id),
cand AS (SELECT DISTINCT neighbor_id FROM fk),
qb AS (SELECT e.vec_id AS query_id, e.embedding AS qv, e.nr AS qn
       FROM e JOIN cand ON cand.neighbor_id = e.vec_id),
bs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         {cosf} AS cosine
       FROM qb q JOIN sa c ON c.vec_id <> q.query_id),
br AS (SELECT query_id, {qcos} AS qcos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id ASC) AS rk
       FROM bs),
bavg AS (SELECT query_id AS neighbor_id, {DSUM('qcos', 12)}
           / CAST({_BTX_K} AS DOUBLE) AS ba
         FROM br WHERE rk <= {_BTX_K} GROUP BY query_id),
mg AS (SELECT fk.query_id, fk.neighbor_id, fk.qcos,
         {QTRUNC("fk.qcos / nullif((favg.fa + bavg.ba)"
                 " / CAST(2.0 AS DOUBLE), CAST(0.0 AS DOUBLE))",
                 12)} AS margin
       FROM fk JOIN favg ON favg.query_id = fk.query_id
       JOIN bavg ON bavg.neighbor_id = fk.neighbor_id),
best AS (SELECT query_id,
           MIN({{'m': -margin, 'y': neighbor_id, 'c': qcos}}) AS w
         FROM mg WHERE margin IS NOT NULL GROUP BY query_id)
SELECT query_id, (w).y AS match_id, (w).c AS cosine,
  -(w).m AS margin, -(w).m >= CAST(1.0 AS DOUBLE) AS accepted
FROM best"""


@spec(
    "embedding_bitext_margin",
    _bitext_oracle(),
    description="Bitext mining with the margin criterion: forward "
                "kNN of the query block into the other side, "
                "backward kNN of the bounded candidate set, "
                "ratio margin vs both neighborhood averages, "
                "argmax match + acceptance flag — QTRUNC'd fold "
                "cosines, exact DECIMAL neighborhood sums",
    tags=("pipeline", "similarity"),
)
def q_embedding_bitext_margin(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from xsarsea_spark.pipeline.similarity import cosine_topk
    from xsarsea_spark.suite.base import DSUM

    emb = load(spark, sf_dir, "embeddings")
    sa = emb.filter("vec_id % 2 = 0")
    sb = emb.filter("vec_id % 2 = 1")
    qa = sa.filter(F.col("vec_id") < 2 * _BTX_NQ)
    fk = materialize(
        cosine_topk(qa, sb, k=_BTX_K)
        .selectExpr("query_id", "neighbor_id",
                    f"{QTRUNC('cosine', 12)} AS qcos"))
    favg = fk.groupBy("query_id").agg(
        F.expr(f"{DSUM('qcos', 12)} / CAST({_BTX_K} AS DOUBLE)")
        .alias("fa"))
    cand = (fk.select(F.col("neighbor_id").alias("vec_id"))
            .distinct()
            .join(emb, on="vec_id"))
    bavg = (cosine_topk(cand, sa, k=_BTX_K)
            .selectExpr("query_id AS neighbor_id",
                        f"{QTRUNC('cosine', 12)} AS qcos")
            .groupBy("neighbor_id")
            .agg(F.expr(f"{DSUM('qcos', 12)}"
                        f" / CAST({_BTX_K} AS DOUBLE)").alias("ba")))
    mg = (fk.join(favg, on="query_id")
          .join(bavg, on="neighbor_id")
          .selectExpr(
              "query_id", "neighbor_id", "qcos",
              QTRUNC("qcos / nullif((fa + ba) / CAST(2.0 AS DOUBLE),"
                     " CAST(0.0 AS DOUBLE))", 12) + " AS margin")
          .filter("margin IS NOT NULL"))
    return (mg.groupBy("query_id")
            .agg(F.min(F.struct((-F.col("margin")).alias("m"),
                                F.col("neighbor_id").alias("y"),
                                F.col("qcos").alias("c")))
                 .alias("w"))
            .selectExpr("query_id", "w.y AS match_id",
                        "w.c AS cosine", "-w.m AS margin",
                        "-w.m >= CAST(1.0 AS DOUBLE) AS accepted"))


# ----------------------------------------------------------------------
# Retrieval evaluation harness — recall@k and MRR of three retrieval
# methods (BM25 lexical, dense cosine, RRF fusion) against a
# deterministic relevance oracle (a document is relevant to a query
# iff it contains >= 3 of the query's 4 lead tokens). The harness is
# what a RAG / retrieval stack ships next to the index: per-query
# top-k from each method, hit/first-rank rollups, mean metrics. Per-
# query rank windows are WindowGroupLimit-eligible (bounded query
# count partitions the corpus-scale score streams); metric means are
# exact DECIMAL sums of on-grid per-query values.
# ----------------------------------------------------------------------

_REV_Q = (0, 3, 11, 17)    # query doc ids
_REV_K = 10                # evaluated depth
_REV_MIN = 3               # relevance: >= 3 of the 4 lead tokens


def _rev_metric_block(top: str, rank_col: str, method: str) -> str:
    """Per-method metric CTEs over a (query_id, doc_id, {rank})
    top-k table named ``top``: hits, first relevant rank, then the
    mean recall/MRR rollup row."""
    return f"""
h_{method} AS (
  SELECT t.query_id,
    COUNT(r.doc_id) AS hits,
    MIN(CASE WHEN r.doc_id IS NOT NULL THEN t.{rank_col} END)
      AS first_rank
  FROM {top} t LEFT JOIN rel r
    ON r.query_id = t.query_id AND r.doc_id = t.doc_id
  GROUP BY t.query_id),
m_{method} AS (
  SELECT '{method}' AS method,
    CAST(COUNT(*) AS BIGINT) AS n_queries,
    {{rec}} AS mean_recall_at_k,
    {{mrr}} AS mean_mrr
  FROM qd
  LEFT JOIN h_{method} h ON h.query_id = qd.query_id
  LEFT JOIN nrel n ON n.query_id = qd.query_id)"""


def _rev_fill_metrics(block: str) -> str:
    from xsarsea_spark.suite.base import DSUM, QTRUNC
    rec = (DSUM(QTRUNC(
        "CASE WHEN n.nr IS NULL OR n.nr = 0 THEN 0e0"
        " ELSE COALESCE(h.hits, 0) / CAST(n.nr AS DOUBLE) END",
        12), 12) + " / COUNT(*)")
    mrr = (DSUM(QTRUNC(
        "CASE WHEN h.first_rank IS NULL THEN 0e0"
        " ELSE 1e0 / CAST(h.first_rank AS DOUBLE) END", 12), 12)
        + " / COUNT(*)")
    return block.format(rec=rec, mrr=mrr)


def _retrieval_eval_oracle() -> str:
    from xsarsea_spark.suite.base import DSUM, QTRUNC

    d = _CND_DIM
    qids = ", ".join(str(q) for q in _REV_Q)
    dot = (f"list_reduce(list_transform(range(1, {d + 1}),"
           f" i -> CAST(q.qv[i] AS DOUBLE)"
           f" * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)")
    nrm = (f"sqrt(list_reduce(list_transform(range(1, {d + 1}),"
           f" i -> CAST({{v}}[i] AS DOUBLE)"
           f" * CAST({{v}}[i] AS DOUBLE)), (a, b) -> a + b))")
    nq, ne = nrm.format(v="q.qv"), nrm.format(v="e.embedding")
    blocks = ",".join(
        _rev_fill_metrics(_rev_metric_block(t, rc, m))
        for t, rc, m in (("lr", "rk", "bm25"),
                         ("sr", "rk", "dense"),
                         ("fr", "rk", "rrf")))
    return f"""
WITH qd AS (
  SELECT doc_id AS query_id,
    list_slice(string_split(text, ' '), 1, 4) AS qt
  FROM documents WHERE doc_id IN ({qids})),
qterm AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM qd),
dterm AS (SELECT DISTINCT doc_id,
            unnest(string_split(text, ' ')) AS term
          FROM documents WHERE text IS NOT NULL),
rel AS MATERIALIZED (
  SELECT q.query_id, t.doc_id
  FROM qterm q JOIN dterm t USING (term)
  WHERE t.doc_id <> q.query_id
  GROUP BY q.query_id, t.doc_id HAVING COUNT(*) >= {_REV_MIN}),
nrel AS (SELECT query_id, COUNT(*) AS nr FROM rel
         GROUP BY query_id),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
    len(string_split(text, ' ')) AS dl
  FROM documents WHERE text IS NOT NULL),
qts AS (SELECT DISTINCT term FROM qterm),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
    SUM(len(string_split(text, ' ')))
      / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM documents WHERE text IS NOT NULL),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
  FROM toks JOIN qts USING (term) GROUP BY doc_id, term),
dfr AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks JOIN qts USING (term) GROUP BY term),
lex AS (
  SELECT q.query_id, tf.doc_id,
    {DSUM(QTRUNC(_BM25_SCORE, 9), 12)} AS score
  FROM qterm q JOIN tf USING (term) JOIN dfr USING (term)
  CROSS JOIN stats
  WHERE tf.doc_id <> q.query_id
  GROUP BY q.query_id, tf.doc_id),
lr AS MATERIALIZED (SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rk
    FROM lex) WHERE rk <= {_REV_K}),
qe AS (SELECT vec_id AS query_id, embedding AS qv
       FROM embeddings WHERE vec_id IN ({qids})),
sem AS (
  SELECT q.query_id, e.vec_id AS doc_id,
    ({dot}) / ({nq} * {ne}) AS cos
  FROM qe q JOIN embeddings e ON e.vec_id <> q.query_id
  WHERE {ne} > 0),
sr AS MATERIALIZED (SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos DESC, doc_id) AS rk
    FROM sem) WHERE rk <= {_REV_K}),
fused AS (
  SELECT COALESCE(lr.query_id, sr.query_id) AS query_id,
    COALESCE(lr.doc_id, sr.doc_id) AS doc_id,
    COALESCE(1e0 / ({_RRF_K} + lr.rk), 0e0)
      + COALESCE(1e0 / ({_RRF_K} + sr.rk), 0e0) AS rrf_score
  FROM lr FULL OUTER JOIN sr
    ON sr.query_id = lr.query_id AND sr.doc_id = lr.doc_id),
fr AS MATERIALIZED (SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY rrf_score DESC, doc_id) AS rk
    FROM fused) WHERE rk <= {_REV_K}),{blocks}
SELECT * FROM m_bm25
UNION ALL SELECT * FROM m_dense
UNION ALL SELECT * FROM m_rrf"""


@spec(
    "doc_retrieval_eval",
    _retrieval_eval_oracle(),
    description="Retrieval evaluation harness: recall@10 and MRR of "
                "BM25, dense-cosine and RRF-fused retrieval against "
                "a deterministic token-overlap relevance oracle — "
                "per-query group-limited rank windows, exact DECIMAL "
                "metric means over on-grid per-query values",
    tags=("pipeline", "text", "similarity", "topk"),
)
def q_doc_retrieval_eval(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from xsarsea_spark.suite.base import DSUM, QTRUNC

    d = _CND_DIM
    qids = ", ".join(str(q) for q in _REV_Q)
    docs = load(spark, sf_dir, "documents")
    qd = (docs.filter(f"doc_id IN ({qids})")
          .selectExpr("doc_id AS query_id",
                      "slice(split(text, ' '), 1, 4) AS qt"))
    qterm = materialize(
        qd.selectExpr("query_id", "explode(qt) AS term").distinct())

    toks = (docs.filter("text IS NOT NULL")
            .selectExpr("doc_id", "explode(split(text, ' '))"
                        " AS term",
                        "size(split(text, ' ')) AS dl")
            .join(F.broadcast(qterm.select("term").distinct()),
                  on="term"))
    stats = docs.filter("text IS NOT NULL").selectExpr(
        "CAST(COUNT(*) AS DOUBLE) AS n_docs",
        "SUM(size(split(text, ' '))) / CAST(COUNT(*) AS DOUBLE)"
        " AS avgdl")
    # tf is materialized (lazily — its consumers all sit inside the
    # one final action): it feeds the BM25 score join, the per-term
    # doc frequency AND the relevance oracle below (one row per
    # (doc, term) of the query-term-pruned stream, so the plain row
    # count equals COUNT(DISTINCT doc_id) over toks, and the
    # relevance match count equals the old corpus-wide
    # distinct-dterm join restricted to query terms — the corpus
    # token stream is exploded ONCE and never distinct-shuffled at
    # corpus scale)
    tf = materialize(toks.groupBy("doc_id", "term").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("tf"),
        F.expr("MIN(dl)").alias("dl")), eager=False)
    dfr = tf.groupBy("term").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("df"))
    rel = materialize(
        qterm.join(tf.select("doc_id", "term"), on="term")
        .filter("doc_id <> query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("__m"))
        .filter(f"__m >= {_REV_MIN}")
        .select("query_id", "doc_id"), eager=False)
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("nr"))
    lex = (qterm.join(tf, on="term")
           .join(F.broadcast(dfr), on="term")
           .crossJoin(F.broadcast(stats))
           .filter("doc_id <> query_id")
           .groupBy("query_id", "doc_id")
           .agg(F.expr(DSUM(QTRUNC(_BM25_SCORE, 9), 12))
                .alias("score")))
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    lr = materialize(
        lex.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= _REV_K)
        .select("query_id", "doc_id", "rk"), eager=False)

    emb = load(spark, sf_dir, "embeddings")
    qe = emb.filter(f"vec_id IN ({qids})").selectExpr(
        "vec_id AS query_id", "embedding AS qv")
    dot = ("aggregate(zip_with(qv, embedding,"
           " (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),"
           " 0d, (acc, x) -> acc + x)")
    nrm = (f"sqrt(aggregate(transform(sequence(1, {d}),"
           f" i -> CAST(element_at({{v}}, i) AS DOUBLE)"
           f" * CAST(element_at({{v}}, i) AS DOUBLE)),"
           f" 0d, (a, b) -> a + b))")
    nq, ne = nrm.format(v="qv"), nrm.format(v="embedding")
    sem = (emb.crossJoin(F.broadcast(qe))
           .filter("vec_id <> query_id")
           .filter(F.expr(f"{ne} > 0"))
           .selectExpr("query_id", "vec_id AS doc_id",
                       f"({dot}) / ({nq} * {ne}) AS cos"))
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("doc_id"))
    sr = materialize(
        sem.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= _REV_K)
        .select("query_id", "doc_id", "rk"), eager=False)

    fused = (lr.withColumnRenamed("rk", "rl")
             .join(sr.withColumnRenamed("rk", "rs"),
                   on=["query_id", "doc_id"], how="full_outer")
             .selectExpr(
                 "query_id", "doc_id",
                 f"COALESCE(1e0 / ({_RRF_K} + rl), 0e0)"
                 f" + COALESCE(1e0 / ({_RRF_K} + rs), 0e0)"
                 " AS rrf_score"))
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id"))
    fr = materialize(
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _REV_K)
        .select("query_id", "doc_id", "rk"), eager=False)

    rec = DSUM(QTRUNC(
        "CASE WHEN nr IS NULL OR nr = 0 THEN 0e0"
        " ELSE COALESCE(hits, 0) / CAST(nr AS DOUBLE) END", 12), 12) \
        + " / COUNT(*)"
    mrr = DSUM(QTRUNC(
        "CASE WHEN first_rank IS NULL THEN 0e0"
        " ELSE 1e0 / CAST(first_rank AS DOUBLE) END", 12), 12) \
        + " / COUNT(*)"

    out = None
    for top, method in ((lr, "bm25"), (sr, "dense"), (fr, "rrf")):
        h = (top.join(rel.withColumn("__r", F.lit(1)),
                      on=["query_id", "doc_id"], how="left")
             .groupBy("query_id")
             .agg(F.expr("CAST(COUNT(__r) AS BIGINT)").alias("hits"),
                  F.expr("MIN(CASE WHEN __r IS NOT NULL THEN rk"
                         " END)").alias("first_rank")))
        m = (qd.select("query_id")
             .join(h, on="query_id", how="left")
             .join(nrel, on="query_id", how="left")
             .agg(F.expr("CAST(COUNT(*) AS BIGINT)")
                  .alias("n_queries"),
                  F.expr(rec).alias("mean_recall_at_k"),
                  F.expr(mrr).alias("mean_mrr"))
             .selectExpr(f"'{method}' AS method", "n_queries",
                         "mean_recall_at_k", "mean_mrr"))
        out = m if out is None else out.unionAll(m)
    return out


# ----------------------------------------------------------------------
# Unigram tokenizer artifact lifecycle — train once, persist the
# vocabulary counts (the ENTIRE learned state: bounded rows,
# corpus-independent — the bpe_save_merges precedent), reload, and
# segment with the LOADED artifact: proves the persisted tokenizer
# reproduces the in-memory one bit-for-bit (parquet BIGINT counts
# round-trip exactly; costs are re-derived from counts in SQL, so
# the artifact needs no doubles at all). Graded by the same
# DP-ladder oracle as doc_unigram_segment.
# ----------------------------------------------------------------------


@spec(
    "doc_unigram_artifact_segment",
    _ulm_segment_oracle(),
    description="Unigram tokenizer artifact lifecycle: persist the "
                "trained vocabulary counts, reload, re-derive costs "
                "and segment with the loaded artifact — output "
                "bit-identical to the in-memory tokenizer, same "
                "oracle as doc_unigram_segment",
    tags=("pipeline", "text", "tokenizer", "formats"),
)
def q_doc_unigram_artifact_segment(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from xsarsea_spark.engine import materialize, scratch_path
    from xsarsea_spark.pipeline.unigram import (em_round,
                                                piece_costs,
                                                seed_vocab,
                                                viterbi_segment,
                                                word_freqs)

    docs = load(spark, sf_dir, "documents")
    wf = materialize(word_freqs(docs))
    vocab = materialize(seed_vocab(wf))
    for _ in range(2):
        vocab = materialize(em_round(wf, vocab))
    path = scratch_path(spark, "unigram_vocab", sf_dir)
    # the artifact: (piece, cnt) BIGINT rows — repartition(1), not
    # coalesce(1) (the documented local-relation write stall)
    vocab.repartition(1).write.mode("overwrite").parquet(path)
    loaded = spark.read.parquet(path)
    seg = viterbi_segment(wf, piece_costs(loaded))
    return seg.selectExpr("w AS word", "f AS freq", "cost_ns",
                          "path AS segmentation", "n_pieces")
