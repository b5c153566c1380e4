"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are pure ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage codegen): tokenization via ``split``, hashing via ``md5``
(identical hex in every engine — the cross-engine-stable choice for
oracle checking; ``xxhash64`` is Spark-only and used where speed
matters more than oracle parity).

Scale notes (100 TB): every operator is a per-row projection or a
key-partitioned aggregation — no driver collects, no cross joins;
exact dedup is a single hash aggregation on the content digest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "token_stats",
    "language_id",
    "quality_score",
    "exact_dedup",
    "doc_fingerprint",
    "pii_signals",
    "line_dedup",
    "HASH40_SQL",
    "PII_PATTERNS",
    "normalize_text", "NORM_SPARK_SQL", "NORM_DUCK_SQL",
    "repetition_signals", "GOPHER_REP_THRESHOLDS",
]

# 40-bit content hash from md5 hex — bit-identical in Spark and DuckDB
# (DuckDB spelling: CAST('0x' || substr(md5(x),1,10) AS BIGINT))
HASH40_SQL = "CAST(conv(substring(md5({x}), 1, 10), 16, 10) AS BIGINT)"

# tiny deterministic stopword list for ratio features
STOPWORDS = ("a", "the")
LINE_WORDS, LINE_MIN_COUNT = 10, 3   # line_dedup: words per line, repeats
CHUNK_TOKENS = 64                    # chunk_documents' window
XDUP_N = 8                           # crossdoc_ngram_dup's n-gram length


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: counts, distinct ratio, average
    token length, stopword ratio, digit/space character ratios."""
    t = docs.withColumn("__toks", F.split(F.col("text"), " "))
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        t.withColumn("n_tokens", F.size("__toks"))
        .withColumn("n_distinct_tokens",
                    F.size(F.array_distinct("__toks")))
        .withColumn(
            "avg_token_len",
            F.expr(
                "aggregate(__toks, 0L, (a, x) -> a + length(x))"
                " / CAST(size(__toks) AS DOUBLE)"
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.expr(
                f"size(filter(__toks, x -> x IN ({sw})))"
                " / CAST(size(__toks) AS DOUBLE)"
            ),
        )
        .withColumn(
            "space_ratio",
            F.expr(
                "(length(text) - length(replace(text, ' ', '')))"
                " / CAST(length(text) AS DOUBLE)"
            ),
        )
        .drop("__toks")
    )


# language markers: per-language preferred tokens (deterministic n-gram
# heuristic in the spirit of fastText-style profiles; markers are
# ordinary vocabulary here because the driver corpus shares one vocab)
LANG_MARKERS = {
    "en": ("the", "table", "row"),
    "de": ("der", "data", "merge"),
    "fr": ("le", "line", "sort"),
    "es": ("el", "query", "scan"),
    "zh": ("zh", "window", "batch"),
}


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-frequency language classifier: score = marker hits /
    token count per language, prediction = argmax (deterministic
    alphabetical tie-break)."""
    t = docs.withColumn("__toks", F.split(F.col("text"), " "))
    score_cols = []
    for lang in sorted(LANG_MARKERS):
        marks = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        t = t.withColumn(
            f"score_{lang}",
            F.expr(
                f"size(filter(__toks, x -> x IN ({marks})))"
                " / CAST(size(__toks) AS DOUBLE)"
            ),
        )
        score_cols.append(f"score_{lang}")
    # argmax with alphabetical tie-break via greatest + case chain
    pred = None
    best = F.greatest(*[F.col(c) for c in score_cols])
    for lang in sorted(LANG_MARKERS):
        cond = F.col(f"score_{lang}") == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(
            cond, F.lit(lang))
    return t.withColumn("pred_lang", pred).drop("__toks")


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0, 1]: length band + vocabulary
    diversity + stopword sanity (the usual pretraining-filter shape)."""
    t = token_stats(docs)
    return t.withColumn(
        "quality",
        F.expr(
            "LEAST(GREATEST("
            "  LEAST(n_tokens / 32e0, 1e0) * 5e-1"
            "  + (n_distinct_tokens / CAST(n_tokens AS DOUBLE)) * 4e-1"
            "  + LEAST(stopword_ratio * 4e0, 1e0) * 1e-1"
            ", 0e0), 1e0)"
        ),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup: one hash aggregation on md5(text); keeps
    the minimum id per digest (deterministic keeper)."""
    h = HASH40_SQL.format(x="text")
    return (
        docs.withColumn("__h", F.expr("md5(text)"))
        .groupBy("__h")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keeper_id", "dup_count")
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """40-bit content fingerprint (md5-derived) + per-doc token-set
    hash: order-insensitive combination of token hashes (sum mod p)."""
    p = (1 << 61) - 1
    tok_h = HASH40_SQL.format(x="x")
    return docs.withColumn(
        "fingerprint", F.expr(HASH40_SQL.format(x="text"))
    ).withColumn(
        "tokenset_hash",
        F.expr(
            f"aggregate(array_distinct(split(text, ' ')),"
            f" 0L, (a, x) -> (a + ({tok_h})) % {p})"
        ),
    )


BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting: whitespace tokens + a regex tokenizer
    (letter runs / digit runs / single punctuation) — the usual
    pretraining budget estimator; pure JVM regexp, no UDF."""
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("ws_tokens"),
        F.expr(
            f"size(regexp_extract_all(text,"
            f" '{BPE_ISH_PATTERN}', 0))"
        ).alias("bpe_ish_tokens"),
        F.expr(f"CAST(length(text) AS DOUBLE)"
               f" / size(regexp_extract_all(text,"
               f" '{BPE_ISH_PATTERN}', 0))").alias("chars_per_token"),
    )


ROLLING_B = 1000003
# prime < 2^42 so acc*B + h40 stays inside BIGINT (2^42 * 2^20 + 2^40 < 2^63)
ROLLING_P = 4398046511093


def rolling_hash(docs: DataFrame) -> DataFrame:
    """Order-SENSITIVE polynomial rolling hash over the token stream:
    acc = (acc * B + h40(tok)) mod p, as a sequential JVM-side fold —
    the content fingerprint that distinguishes permuted documents
    (unlike tokenset_hash)."""
    tok_h = HASH40_SQL.format(x="x")
    return docs.select(
        "doc_id",
        F.expr(
            f"aggregate(split(text, ' '), 0L,"
            f" (a, x) -> (a * {ROLLING_B} + ({tok_h})) % {ROLLING_P})"
        ).alias("rolling_hash"),
    )


# PII patterns restricted to the RE2 ∩ Java-regex subset (character
# classes, bounded repetition, \b word boundaries — no lookarounds),
# so Spark's regexp_count/regexp_replace and DuckDB's
# regexp_extract_all/regexp_replace(..., 'g') match byte for byte.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_signals(docs: DataFrame) -> DataFrame:
    """PII detection + redaction signals per document: match counts
    for emails / IPv4 addresses / phone numbers, a has_pii flag, and
    the redacted text (``<EMAIL>``/``<IP>``/``<PHONE>`` placeholders
    substituted in that fixed order, so overlapping matches resolve
    deterministically).

    Everything is JVM-side regexp expressions — zero exchange, the
    whole corpus streams through one codegen stage; the standard
    pre-release scrubbing pass of a pretraining pipeline (C4 and
    RefinedWeb both ship equivalents). Counts are exact integers and
    the redacted text is byte-deterministic, so the operator is
    value-oracle-checkable end to end.
    """
    t = docs
    text = F.col("text")
    for name, pat in PII_PATTERNS.items():
        t = t.withColumn(f"n_{name}",
                         F.regexp_count(text, F.lit(pat)).cast("long"))
    red = text
    for name, pat in PII_PATTERNS.items():
        tag = {"email": "<EMAIL>", "ipv4": "<IP>",
               "phone": "<PHONE>"}[name]
        red = F.regexp_replace(red, pat, tag)
    return t.withColumn(
        "has_pii",
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0
    ).withColumn("redacted", red)


def line_dedup(docs: DataFrame) -> DataFrame:
    """C4-style line-level dedup: any line occurring at least
    ``LINE_MIN_COUNT`` times ACROSS THE CORPUS (within-doc repeats count)
    is removed from every document — the boilerplate-removal stage of
    the C4 pipeline (nav bars, cookie banners, license footers).

    The synthetic corpus has no newlines, so "lines" are consecutive
    ``LINE_WORDS``-token windows (the splitter a real corpus would
    replace with ``split(text, '\\n')`` — the counting/removal
    machinery is identical). Returns one row per line:
    (id, line_no, line, removed).

    Scale: the global count shuffles ONLY the 40-bit line hash (the
    crossdup wire discipline), and the corpus-sized line stream never
    shuffles at all — it left-joins the FILTERED repeated-hash set
    (distinct boilerplate lines, orders of magnitude below the
    corpus; AQE broadcasts it), so removal marking is map-side.
    Collisions of the 40-bit hash are deterministic and
    engine-identical (both sides group by the same hash).
    """
    w = LINE_WORDS
    h40 = HASH40_SQL.format(x="line")
    lines = (
        docs.filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "split(text, ' ') AS __l")
        .selectExpr(
            "doc_id",
            f"posexplode(transform(sequence(0, (size(__l) - 1)"
            f" div {w}), j -> array_join(slice(__l, j * {w} + 1,"
            f" {w}), ' '))) AS (line_no, line)")
        .withColumn("__h", F.expr(h40))
    )
    repeated = (
        lines.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= F.lit(LINE_MIN_COUNT))
        .select("__h", F.lit(True).alias("__rm"))
    )
    return (
        lines.join(repeated, on="__h", how="left")
        .withColumn("removed", F.expr("coalesce(__rm, false)"))
        .drop("__h", "__rm")
    )


def bigrams(docs: DataFrame) -> DataFrame:
    """Token bigram rows (id, w1, w2), duplicates kept — the raw
    material for n-gram language-model statistics. One explode, no
    self-join: positions come from a ``transform(sequence(...))``
    over the token array."""
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS __l")
        .filter("size(__l) >= 2")
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, size(__l) - 1),"
            " i -> named_struct('w1', element_at(__l, i),"
            " 'w2', element_at(__l, i + 1)))) AS __bg",
        )
        .selectExpr("doc_id", "__bg.w1 AS w1", "__bg.w2 AS w2")
    )


def chunk_documents(docs: DataFrame, stride: int = 48) -> DataFrame:
    """RAG-style overlapping chunking: fixed ``CHUNK_TOKENS``-token
    windows every ``stride`` tokens (overlap = chunk - stride), plus
    a tail chunk for the remainder. Pure array SQL (sequence ->
    slice -> array_join), one explode — no UDF, no per-doc Python.

    Returns (id, chunk_id, n_tokens, chunk_text). Deterministic:
    chunk boundaries are pure integer arithmetic on the token array.
    """
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS __l")
        .selectExpr(
            "doc_id", "__l",
            # number of stride starts: ceil(max(size-chunk, 0)/stride)
            # + 1 covers the tail
            f"sequence(0, CAST(CEIL(CAST(GREATEST("
            f"size(__l) - {CHUNK_TOKENS}, 0) AS DOUBLE)"
            f" / {stride}) AS INT)) AS __starts",
        )
        .selectExpr(
            "doc_id",
            f"posexplode(transform(__starts,"
            f" s -> slice(__l, s * {stride} + 1, {CHUNK_TOKENS})))"
            " AS (chunk_id, __chunk)",
        )
        .filter(F.expr("size(__chunk) > 0"))
        .selectExpr(
            "doc_id", "chunk_id",
            "size(__chunk) AS n_tokens",
            "array_join(__chunk, ' ') AS chunk_text",
        )
    )


def chunk_dedup(docs: DataFrame) -> DataFrame:
    """Chunk-level exact dedup — the RAG-index ingest step: cut every
    document into NON-overlapping fixed-token chunks, hash each
    chunk's content, and keep one canonical copy per hash (lowest
    (doc, chunk) wins). Returns the per-document report
    (id, n_chunks, n_dup_chunks, dup_frac): how much of each document
    is redundant at chunk granularity across the whole corpus.

    Scale: one chunk explode + a hash-partitioned precedence window
    (bounded by per-hash duplicate multiplicity, never corpus-wide)
    + one per-doc hash agg. No pairwise work anywhere.
    """

    ch = chunk_documents(docs, stride=CHUNK_TOKENS)
    h = ch.select("doc_id", "chunk_id",
                  F.md5(F.col("chunk_text")).alias("__h"))
    w = Window.partitionBy("__h").orderBy("doc_id", "chunk_id")
    flagged = h.withColumn("__rn", F.row_number().over(w))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.expr("CAST(SUM(CASE WHEN __rn > 1 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_dup_chunks"),
        F.expr("CAST(SUM(CASE WHEN __rn > 1 THEN 1 ELSE 0 END)"
               " AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)")
        .alias("dup_frac"),
    )


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher/C4-style repetition quality signals, adapted to the
    whitespace-token corpus: top-unigram fraction, top-bigram
    fraction, duplicated-trigram fraction, mean token length, plus
    the composite keep/drop flag.

    Every signal is a per-row projection over the token array
    (higher-order functions — zero shuffles, whole corpus streamed);
    frequencies are small-integer counts, so the emitted ratios are
    single IEEE divisions and bit-identical across engines.

    Each metric is its own MINIMAL let-bound expression — the
    token/bigram/trigram arrays are bound as lambda variables via the
    transform-over-singleton idiom, never as projected alias columns.
    This matters twice. (1) Catalyst's predicate pushdown SUBSTITUTES
    alias definitions into filter conditions, and a condition like
    ``gopher_keep`` whose aliases chained back to ``split(text)``
    re-evaluated the split inside every lambda element after
    substitution — a measured 50x blowup (148 s vs 3 s at sf0.1) on
    ``.filter("gopher_keep")``; let-binding pins the arrays to one
    evaluation per row wherever the optimizer moves the expression.
    (2) Packing all metrics into one struct and extracting fields is
    just as bad the other way: CollapseProject inlines the struct
    into every GetStructField, so every extracted column re-runs ALL
    the metrics (measured ~5x, 5.8 s vs 1.2 s at sf0.1). One column =
    one metric = one evaluation.

    Scale: O(tokens * distinct_tokens) per row, no exchange at all —
    the shape survives any corpus size. Parity: repetition-filter
    family from Rae et al. 2021 (Gopher) §A1.1; reference repo has no
    text pillar (engine-brief extension).
    """
    # nullif() divisors: under ANSI mode (Spark 4 default) 0 / 0.0
    # raises DIVIDE_BY_ZERO; a NULL divisor instead propagates NULL,
    # which is exactly what DuckDB's non-ANSI 0 / 0.0 returns.
    uni = ("array_max(transform(array_distinct(tk),"
           " x -> size(filter(tk, w -> w = x))))"
           " / CAST(nullif(size(tk), 0) AS DOUBLE)")
    bi = ("array_max(transform(array_distinct(bg),"
          " x -> size(filter(bg, w -> w = x))))"
          " / CAST(nullif(size(bg), 0) AS DOUBLE)")
    tri = ("(size(tg) - size(array_distinct(tg)))"
           " / CAST(nullif(size(tg), 0) AS DOUBLE)")
    mtl = ("aggregate(tk, 0L, (a, x) -> a + length(x))"
           " / CAST(nullif(size(tk), 0) AS DOUBLE)")
    # Short-doc guards: sequence(1, n-1) inverts when n <= 1 (Spark
    # auto-steps DOWN, yielding [1, 0] and an element_at(tk, 0) error),
    # so bigrams/trigrams collapse to array() below 2/3 tokens — the
    # same empty lists DuckDB's end-exclusive range() produces, and
    # both engines then agree on NULL ratios (array_max of empty is
    # NULL; 0 / 0.0 division is NULL in Spark and DuckDB alike).
    bgdef = ("CASE WHEN size(tk) < 2 THEN array()"
             " ELSE transform(sequence(1, size(tk) - 1),"
             " i -> concat(element_at(tk, i), ' ',"
             " element_at(tk, i + 1))) END")
    tgdef = ("CASE WHEN size(tk) < 3 THEN array()"
             " ELSE transform(sequence(1, size(tk) - 2),"
             " i -> concat(element_at(tk, i), ' ',"
             " element_at(tk, i + 1), ' ',"
             " element_at(tk, i + 2))) END")

    def tk_let(body: str) -> str:
        return (f"transform(array(split(text, ' ')),"
                f" tk -> {body})[0]")

    # One MINIMAL let-bound expression per metric. The earlier
    # formulation computed all four metrics (plus the keep flag's
    # duplicate copies) inside ONE struct and extracted five fields —
    # CollapseProject inlined the full struct into every
    # GetStructField, so the O(tokens * distinct) transforms ran ~10x
    # per row (measured 5.8 s vs 1.2 s at sf0.1). Per-column bodies
    # evaluate each metric exactly once.
    t = docs.select(
        "*",
        F.expr(tk_let(uni)).alias("top_unigram_frac"),
        F.expr(tk_let(
            f"transform(array({bgdef}), bg -> {bi})[0]"
        )).alias("top_bigram_frac"),
        F.expr(tk_let(
            f"transform(array({tgdef}), tg -> {tri})[0]"
        )).alias("dup_trigram_frac"),
        F.expr(tk_let(mtl)).alias("mean_token_len"),
    )
    # keep-flag from the projected metric columns: each alias is used
    # more than once in the upper project (as an output column AND
    # inside the conjunction) and is non-cheap, so CollapseProject
    # leaves the lower project materialized — the metrics compute once
    # and the flag reads them. The token-count conjunct re-splits the
    # text, but split() is O(n) against the metrics' O(n * distinct).
    return t.withColumn(
        "gopher_keep",
        F.expr(
            "top_unigram_frac <= 0.30 AND top_bigram_frac <= 0.18"
            " AND dup_trigram_frac <= 0.30"
            " AND mean_token_len >= 3.0 AND mean_token_len <= 10.0"
            " AND size(split(text, ' ')) >= 50"
        ),
    )


def crossdoc_ngram_dup(docs: DataFrame) -> DataFrame:
    """Cross-document n-gram duplication: for each document, the
    fraction of its ``XDUP_N``-gram positions whose n-gram also occurs
    in at least one OTHER document (the boilerplate/contamination signal
    behind paragraph-dedup in C4/RefinedWeb).

    Plan shape: project 40-bit n-gram hashes (never the gram strings
    — the shuffled stream is 8 bytes per position at any corpus
    size), aggregate distinct-doc counts per hash, join back on the
    same hash partitioning, per-doc ratio. Two shuffles total, both
    on the hash key.
    """
    n = XDUP_N
    gram = (
        f"transform(sequence(1, size(__toks) - {n - 1}),"
        f" i -> {HASH40_SQL.format(x=_GRAM_CONCAT)})"
    )
    grams = (
        docs.withColumn("__toks", F.split(F.col("text"), " "))
        .filter(F.expr(f"size(__toks) >= {n}"))
        .select("doc_id", F.explode(F.expr(gram.format(n=n))).alias("__h"))
    )
    # collapse the raw position stream to (hash, doc) occurrence
    # counts FIRST: the distinct-doc count per hash and the per-doc
    # rollup are then both derivable from this deduped frame, so the
    # corpus explode runs once and the full gram stream is shuffled
    # once (the old shape aggregated and joined the raw stream
    # separately — two explodes, two full-stream shuffles)
    per = grams.groupBy("__h", "doc_id").agg(
        F.count(F.lit(1)).alias("__c"))
    docs_per_gram = per.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__nd"))
    return (
        per.join(docs_per_gram, on="__h")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(__c) AS BIGINT)").alias("n_grams"),
            F.expr("SUM(CASE WHEN __nd >= 2 THEN __c ELSE 0 END)")
            .cast("bigint").alias("n_shared_grams"),
        )
        .withColumn(
            "shared_frac",
            F.expr("n_shared_grams / CAST(n_grams AS DOUBLE)"),
        )
    )


_GRAM_CONCAT = ("array_join(slice(__toks, i, {n}), ' ')")


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every k-token gram, slide a w-hash
    window, select each window's RIGHTMOST minimal hash — the
    selected (position, hash) set is a provably bounded-density
    subset that still catches every match of length >= w + k - 1.
    The index a plagiarism/near-dup system stores is these
    fingerprints, ~1/w the size of the full gram table.

    Determinism: the rightmost-min tie-break is encoded INTO the
    ordering key — ``key = h * B + (B - 1 - p)`` with ``B = 2^20 >
    doc length`` — so window keys are unique, ``min(key)`` identifies
    one gram, and BOTH engines decode (pos, hash) from the same
    integer (no argmin-by-tuple semantics to align). Docs with fewer
    than w grams yield no fingerprints (documented; the guarantee
    needs a full window). Docs with >= 2^20 tokens exceed the
    position-encoding cap and RAISE in-plan (``raise_error``, zero
    cost when absent) rather than silently emitting no fingerprints
    — an unindexable doc must be visible, not quietly unmatchable;
    pre-chunk oversize documents before fingerprinting.

    Scale: per-doc trailing-window min — the frame is doc-bounded,
    never corpus-wide; output is DISTINCT decoded fingerprints.
    Returns (id, pos, fp_hash).
    """

    B = 1 << 20
    gram_h = HASH40_SQL.format(
        x=f"array_join(slice(__toks, p + 1, {k}), ' ')")
    g = (
        docs.withColumn("__toks", F.split(F.col("text"), " "))
        .filter(F.expr(f"size(__toks) >= {k}"))
        .select("doc_id", "__toks",
                F.explode(F.expr(
                    f"sequence(0, size(__toks) - {k})")).alias("p"))
        .select("doc_id", "p",
                F.expr(f"CASE WHEN size(__toks) < {B}"
                       f" THEN ({gram_h}) * {B}L"
                       f" + ({B} - 1 - p)"
                       " ELSE raise_error('winnow_fingerprints:"
                       " document exceeds the 2^20-token"
                       " position-encoding cap; pre-chunk oversize"
                       " documents') END").alias("__key"))
    )
    win = Window.partitionBy("doc_id").orderBy("p") \
        .rowsBetween(-(w - 1), 0)
    sel = (
        g.withColumn("__fp", F.min("__key").over(win))
        .filter(F.col("p") >= w - 1)
        .select(
            "doc_id",
            F.expr(f"CAST({B} - 1 - (__fp % {B}) AS BIGINT)")
            .alias("pos"),
            F.expr(f"__fp div {B}").alias("fp_hash"),
        )
        .distinct()
    )
    return sel


def duplicate_spans(docs: DataFrame, n: int = 8) -> DataFrame:
    """Maximal cross-document duplicated token spans — the exact
    substring-dedup primitive of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally: every maximal run of consecutive n-gram start
    positions whose n-gram occurs in >= 2 distinct documents becomes
    ONE span row (doc_id, span_start, span_end,
    n_dup_grams, span_tokens), token indices 0-based inclusive.

    The paper builds a corpus-wide suffix array; the relational
    equivalent is (1) per-position 40-bit n-gram hashes, (2) a
    distinct-doc count per hash, (3) a join back of duplicated
    positions, (4) gaps-and-islands span merge: ``pos -
    row_number()`` is constant exactly on runs of consecutive
    duplicated positions, so one hash aggregation per (doc, run)
    yields the maximal spans — overlapping duplicated n-grams fuse
    into single spans just as maximal repeats fuse in the suffix
    array.

    Scale (100 TB): only (doc_id, pos, hash40) triples shuffle —
    8-byte hashes per token position, never gram strings; both the
    count and the join exchange on the hash key (one co-partitioned
    pair), and the islands window partitions by doc_id, so its state
    is bounded by one document's positions. No all-pairs stage
    exists at any size.
    """
    gram = (
        f"transform(sequence(1, size(__toks) - {n - 1}),"
        f" i -> {HASH40_SQL.format(x=_GRAM_CONCAT.format(n=n))})"
    )
    grams = (
        docs.withColumn("__toks", F.split(F.col("text"), " "))
        .filter(F.expr(f"size(__toks) >= {n}"))
        .select("doc_id",
                F.posexplode(F.expr(gram)).alias("__p", "__h"))
    )
    dup = (
        grams.groupBy("__h")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )

    w = Window.partitionBy("doc_id").orderBy("__p")
    islands = (
        grams.join(dup, on="__h")
        .select("doc_id", "__p")
        .withColumn("__grp", F.col("__p") - F.row_number().over(w))
    )
    return (
        islands.groupBy("doc_id", "__grp")
        .agg(
            F.min("__p").cast("bigint").alias("span_start"),
            (F.max("__p") + F.lit(n - 1)).cast("bigint")
            .alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .withColumn(
            "span_tokens",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint"),
        )
        .drop("__grp")
    )


def duplicate_spans_maximal(docs: DataFrame, n: int = 8) -> DataFrame:
    """FULL Lee et al. 2021 maximal-match span semantics: maximal
    contiguous token ranges covered by some duplicated substring of
    length >= ``n`` tokens, where "duplicated" counts TOTAL corpus
    occurrences (>= 2) — including repeats WITHIN one
    document, which the cross-document variant
    (:func:`duplicate_spans`) deliberately ignores.

    Why this equals the paper's suffix-array output: any duplicated
    substring of length >= n is a union of duplicated n-grams, and an
    n-gram occurring >= 2 times IS a duplicated substring of length
    n; so the positions the paper would cut are exactly the union of
    extents [p, p+n-1] over duplicated n-gram starts p. Two extents
    with start gap <= n produce contiguous coverage, so the merge
    condition is ``p - lag(p) > n`` starts a new span — an interval
    union, strictly wider than the consecutive-run (gap = 1) islands
    of the cross-doc variant, which can emit overlapping spans when
    hits are close but not consecutive.

    Scale: identical wire shape to :func:`duplicate_spans` — only
    (doc_id, pos, hash40) triples shuffle, the occurrence count and
    the join exchange on the hash key, and the merge windows
    partition by doc_id (per-document state only).
    """
    gram = (
        f"transform(sequence(1, size(__toks) - {n - 1}),"
        f" i -> {HASH40_SQL.format(x=_GRAM_CONCAT.format(n=n))})"
    )
    grams = (
        docs.withColumn("__toks", F.split(F.col("text"), " "))
        .filter(F.expr(f"size(__toks) >= {n}"))
        .select("doc_id",
                F.posexplode(F.expr(gram)).alias("__p", "__h"))
    )
    dup = (
        grams.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nc"))
        .filter(F.col("__nc") >= 2)
        .select("__h")
    )

    w = Window.partitionBy("doc_id").orderBy("__p")
    hits = grams.join(dup, on="__h").select("doc_id", "__p")
    marked = hits.withColumn(
        "__new",
        F.when(F.lag("__p").over(w).isNull()
               | (F.col("__p") - F.lag("__p").over(w) > n),
               F.lit(1)).otherwise(F.lit(0)))
    grp = marked.withColumn(
        "__grp",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        grp.groupBy("doc_id", "__grp")
        .agg(
            F.min("__p").cast("bigint").alias("span_start"),
            (F.max("__p") + F.lit(n - 1)).cast("bigint")
            .alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .withColumn(
            "span_tokens",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint"),
        )
        .drop("__grp")
    )


# Gopher (Rae et al. 2021) Table A1 repetition thresholds: a doc is
# dropped when ANY metric exceeds its limit. Keys: ("top", n) =
# fraction of characters in the most frequent word n-gram;
# ("dup", n) = fraction of characters inside ANY word n-gram that
# occurs more than once in the doc (span-union coverage).
GOPHER_REP_THRESHOLDS = {
    ("top", 2): 0.20, ("top", 3): 0.18, ("top", 4): 0.16,
    ("dup", 5): 0.15, ("dup", 6): 0.14, ("dup", 7): 0.13,
    ("dup", 8): 0.12, ("dup", 9): 0.11, ("dup", 10): 0.10,
}


def repetition_signals(docs: DataFrame) -> DataFrame:
    """The FULL Gopher repetition battery (Rae et al. 2021 §A1.1 /
    Table A1) in CHARACTER fractions — the paper-faithful upgrade of
    :func:`gopher_quality`'s token-count ratios:

    - ``top{n}_char_frac`` (n = 2..4): occurrences x character
      length of the doc's most frequent word n-gram, over total
      characters (the standard uncapped ratio — overlapping
      occurrences of a self-repeating gram can push it past 1, as in
      the reference implementations);
    - ``dup{n}_char_frac`` (n = 5..10): fraction of characters
      covered by the UNION of spans of n-grams occurring more than
      once within the doc (exact interval union, so overlapping
      duplicated grams never double-count);
    - ``repetition_pass``: every metric at or under its Table A1
      threshold.

    Determinism: gram identity is the literal joined-token string
    (top family) or its 40-bit hash (dup family — both engines
    derive the same integer); character counts are exact integers
    (token lengths + internal separators), so each emitted fraction
    is one IEEE division of integers. Top-gram argmax tie-breaks on
    (count DESC, gram ASC).

    Scale: the 9 per-n gram frames are projections of ONE token-array
    scan, unioned with n as a data column, so the dup family pays ONE
    hash aggregation + ONE join-back + ONE islands window keyed by
    (doc, n) — windows are document-bounded, the accepted class; the
    span-to-character conversion is an equality join on the doc id
    with a position range predicate (per-doc cardinality). Only
    (doc, n, position, hash) tuples shuffle, never gram strings, for
    the dup family."""

    # deliberately NO materialize barrier: the three consumers
    # (top-gram frames, dup-gram frames, token length table) each
    # re-split from the scan, but an A/B at sf0.1 measured the
    # re-split plans at a stable 5.2 s vs 5.7-11.8 s with a
    # localCheckpoint of the token arrays — storing exploded arrays
    # costs more than recomputing a cheap split over a cached scan
    toks = (docs.filter(F.col("text").isNotNull())
            .selectExpr("doc_id", "split(text, ' ') AS __l",
                        "length(text) AS n_chars"))
    base = toks.selectExpr("doc_id", "n_chars",
                           "size(__l) AS n_tokens")

    def gram_frame(ns: list[int], keep_gram: bool):
        parts = []
        for n in ns:
            g = (f"transform(sequence(1, size(__l) - {n - 1}),"
                 f" i -> array_join(slice(__l, i, {n}), ' '))")
            sel = (toks.filter(F.expr(f"size(__l) >= {n}"))
                   .select("doc_id", F.lit(n).alias("__n"),
                           F.posexplode(F.expr(g))
                           .alias("__p", "__g")))
            if keep_gram:
                parts.append(sel.selectExpr(
                    "doc_id", "__n", "__p", "__g",
                    "length(__g) AS __glen"))
            else:
                parts.append(sel.selectExpr(
                    "doc_id", "__n", "__p",
                    f"{HASH40_SQL.format(x='__g')} AS __h"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # top family (n = 2..4): count per gram string, per-doc argmax
    gt = gram_frame([2, 3, 4], keep_gram=True)
    cnt = gt.groupBy("doc_id", "__n", "__g", "__glen").agg(
        F.count(F.lit(1)).alias("__c"))
    wtop = Window.partitionBy("doc_id", "__n").orderBy(
        F.col("__c").desc(), F.col("__g").asc())
    top = (cnt.withColumn("__rk", F.row_number().over(wtop))
           .filter("__rk = 1")
           .selectExpr("doc_id", "__n",
                       "CAST(__c * __glen AS BIGINT) AS __topchars"))
    # conditional-aggregation pivot: ONE hash agg attaches every n at
    # once. The per-n join loop this replaces ran 3 joins whose
    # branches each re-filtered (and re-planned) the windowed top
    # frame — same values (top has at most one row per (doc, n), so
    # MAX(CASE WHEN __n = n ...) is exactly that row's value, NULL
    # when absent, as the old left join produced)
    top_w = base.select("doc_id").join(
        top.groupBy("doc_id").agg(*[
            F.max(F.when(F.col("__n") == n, F.col("__topchars")))
            .alias(f"__top{n}") for n in (2, 3, 4)]),
        on="doc_id", how="left")

    # dup family (n = 5..10): duplicated-gram span union -> covered
    # characters via a position-range join against the token table
    gd = gram_frame([5, 6, 7, 8, 9, 10], keep_gram=False)
    # ONE pass over the 6-n gram frame: collecting the positions in
    # the duplicate-count aggregation replaces the second gram
    # explode + join-back that re-attached positions to duplicated
    # grams (hits = every occurrence position of a gram seen >= 2
    # times in the doc; position order is irrelevant - the islands
    # window re-sorts by __p)
    hits = (gd.groupBy("doc_id", "__n", "__h")
            .agg(F.collect_list("__p").alias("__ps"))
            .filter("size(__ps) >= 2")
            .select("doc_id", "__n", F.explode("__ps").alias("__p")))
    wisl = Window.partitionBy("doc_id", "__n").orderBy("__p")
    marked = hits.withColumn(
        "__new",
        F.when(F.lag("__p").over(wisl).isNull()
               | (F.col("__p") - F.lag("__p").over(wisl)
                  > F.col("__n")), F.lit(1)).otherwise(F.lit(0)))
    spans = (marked.withColumn(
        "__grp", F.sum("__new").over(
            wisl.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "__n", "__grp")
        .agg(F.min("__p").alias("__a"),
             (F.max("__p") + F.col("__n") - 1).alias("__b"))
        .drop("__grp"))
    tklen = toks.select(
        "doc_id",
        F.posexplode(F.expr("transform(__l, x -> length(x))"))
        .alias("__i", "__wlen"))
    # span chars = sum of covered token lengths + internal separators
    cov = (spans.join(tklen, on="doc_id")
           .filter("__i >= __a AND __i <= __b")
           .groupBy("doc_id", "__n", "__a", "__b")
           .agg(F.expr("CAST(SUM(__wlen) + MAX(__b) - MAX(__a)"
                       " AS BIGINT)").alias("__spanchars"))
           .groupBy("doc_id", "__n")
           .agg(F.expr("CAST(SUM(__spanchars) AS BIGINT)")
                .alias("__covchars")))
    # same pivot shape as top_w: 6 per-n left joins (each replaying
    # the islands-window/span lineage) collapse to ONE hash agg +
    # ONE left join; cov has one row per (doc, n), so values match
    dup_w = base.select("doc_id").join(
        cov.groupBy("doc_id").agg(*[
            F.max(F.when(F.col("__n") == n, F.col("__covchars")))
            .alias(f"__dup{n}") for n in range(5, 11)]),
        on="doc_id", how="left")

    out = base.join(top_w, on="doc_id").join(dup_w, on="doc_id")
    cols = ["doc_id", "n_chars", "n_tokens"]
    gates = []
    # outer COALESCE: an EMPTY doc (n_chars = 0) has no repeated
    # content — fractions are 0 and the battery PASSES; without it
    # x/NULLIF(0,0) propagates NULL into repetition_pass and a
    # filter('repetition_pass') silently drops the doc as a fail
    for n in (2, 3, 4):
        thr = GOPHER_REP_THRESHOLDS[("top", n)]
        out = out.withColumn(
            f"top{n}_char_frac",
            F.expr(f"COALESCE(COALESCE(__top{n}, 0)"
                   f" / CAST(nullif(n_chars, 0) AS DOUBLE), 0e0)"))
        cols.append(f"top{n}_char_frac")
        gates.append(f"top{n}_char_frac <= {thr}e0")
    for n in range(5, 11):
        thr = GOPHER_REP_THRESHOLDS[("dup", n)]
        out = out.withColumn(
            f"dup{n}_char_frac",
            F.expr(f"COALESCE(COALESCE(__dup{n}, 0)"
                   f" / CAST(nullif(n_chars, 0) AS DOUBLE), 0e0)"))
        cols.append(f"dup{n}_char_frac")
        gates.append(f"dup{n}_char_frac <= {thr}e0")
    out = out.withColumn("repetition_pass",
                         F.expr(" AND ".join(gates)))
    return out.select(*cols, "repetition_pass")


NORM_SPARK_SQL = ("trim(regexp_replace(regexp_replace(lower({x}),"
                  " '[^a-z0-9 ]', ' '), ' +', ' '))")
NORM_DUCK_SQL = ("trim(regexp_replace(regexp_replace(lower({x}),"
                 " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))")


def normalize_text(docs: DataFrame) -> DataFrame:
    """C4-style text normalization: lowercase, non-[a-z0-9 ] to
    space, whitespace collapse, trim — the canonical form exact
    dedup and shingling run on when the raw corpus carries
    punctuation/case noise. Adds the column ``norm_text``.

    Cross-engine: Spark's ``regexp_replace`` replaces every match by
    default; the DuckDB replay (``NORM_DUCK_SQL``) passes the ``'g'``
    flag. The pattern is deliberately the RE2/Java-regex COMMON
    SUBSET (one character class + one quantifier — no lookaround, no
    shorthand classes whose unicode semantics differ), and the
    parity is pytest-pinned on adversarial text (unicode, tabs,
    doubled spaces, empties).
    """
    return docs.withColumn("norm_text",
                           F.expr(NORM_SPARK_SQL.format(x="text")))
