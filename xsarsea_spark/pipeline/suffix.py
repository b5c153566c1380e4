"""Distributed generalized suffix array (prefix doubling over TOKEN
positions) + LCP + longest duplicated token span — the true
arbitrary-length counterpart of the fixed-n substring-dedup family
(Lee et al. 2022 §4 use suffix arrays for exactly this; the fixed-n
interval union matches their REMOVAL semantics, but only a suffix
array can report the longest duplicated span itself).

Suffixes start at WORD boundaries — the unit the whole text-dedup
family (shingles, gram spans, line dedup) already uses, and it cuts
the doubling depth to ceil(log2(max words per doc)).

Algorithm (Manber-Myers prefix doubling, distributed):

- positions are (doc_id, p) over every token; the round-0 rank is
  the token's 40-bit content hash — both engines derive the same
  integer, and ANY consistent total order works for suffix grouping
  (lexicographic order is not needed for LCP/adjacency semantics; a
  40-bit collision would merely merge two words, with probability
  ~vocab^2/2^41, and both engines would agree even then);
- round k rank = DENSE RANK of (rank_{k-1}(p), rank_{k-1}(p + 2^(k-1))
  or 0 past the end) — after ceil(log2(max_words)) rounds, ranks
  order all suffixes (equal cross-doc suffixes share a rank; a
  (doc, p) tie-break totalizes);
- the dense rank is the scale-safe composition: DISTINCT pairs ->
  ``operators.rank.global_rank`` (two-pass, no corpus-wide window)
  -> hash-join back; every round materializes (the self-join in the
  next round references it twice — iterative lineage);
- LCP of SA-adjacent suffixes by the standard rank-table walk: for k
  from high to low, if rank_k(a + l) = rank_k(b + l) (both present)
  then l += 2^k. The walk is a LINEAR join chain over the already-
  materialized rank tables, so it runs as one plan with no
  per-round barrier. The result is clamped to the remaining suffix
  lengths (rank equality on end-padded blocks can overshoot exactly
  when the suffixes are entirely equal).
- longest duplicated span touching a doc = max clamped LCP over
  adjacent pairs involving the doc (a span is duplicated iff it
  prefixes two distinct suffixes, and the SA puts the closest such
  pair adjacent).

Everything is INTEGER (hashes, dense ranks, lengths) — no float
hazard — so the DuckDB oracle replays the same rounds with window
DENSE_RANK and matches bit-for-bit.

Scale: each round shuffles (doc, pos, rank) triples — O(corpus
tokens) wire volume, same as one substring-dedup round; the retained
per-round tables (log(max_words) of them) feed the walk; nothing is
quadratic and no unpartitioned window exists (rank.py plan tests).
The round count is data-independent, so at test scale the cost is
fixed scheduler overhead (~2 jobs/round) — callers cap the corpus
slice (the suite takes every 7th doc, the _SSJ_CAP precedent).

Parity: the reference engine (umr-lops/xsarsea) has no text surface;
this module is part of the LLM-data-pipeline extension the engine
brief mandates (dedup family).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xsarsea_spark.engine import materialize, scratch_path
from xsarsea_spark.operators.rank import global_rank
from xsarsea_spark.pipeline.text import HASH40_SQL

__all__ = ["suffix_rank_tables", "suffix_rank_tables_cached",
           "sa_adjacent_pairs", "adjacent_lcp",
           "longest_dup_span", "cross_doc_lcp",
           "pair_rank_tables", "suffix_probe_index_cached"]

# Bump when the ladder construction changes: the cache key must not
# survive an algorithm change the content fingerprint can't see.
_SFX_CACHE_VERSION = 2


def _publish_cache_dir(tmp: str, root: str, marker: str) -> None:
    """Atomically publish a staged cache dir at ``root``. Never
    deletes ``root`` in place while another builder may have just
    completed it — the old rmtree-then-rename left a TOCTOU window
    where a concurrent reader saw a missing artifact. A marker-less
    stale root (crashed pre-rename build) is swapped ASIDE with an
    atomic rename before the retry, so readers only ever observe
    either a complete artifact or a clean miss. If a complete
    artifact appears concurrently, the staged copy is discarded
    (contents are deterministic — either copy is correct)."""

    if os.path.exists(marker):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    try:
        os.rename(tmp, root)
        return
    except OSError:
        pass
    if os.path.exists(marker):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    stale = f"{root}.stale.{os.getpid()}"
    try:
        os.rename(root, stale)
    except OSError:
        pass
    try:
        os.rename(tmp, root)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    finally:
        shutil.rmtree(stale, ignore_errors=True)


def _dense_rank(df: DataFrame, keys: list[str],
                out: str) -> DataFrame:
    """Dense rank of ``keys`` = row_number over the DISTINCT key
    frame (unique by construction, as global_rank requires), joined
    back — no corpus-wide window."""
    uniq = df.select(*keys).distinct()
    ranked = global_rank(uniq, [F.col(k).asc() for k in keys],
                         rank_col=out)
    return df.join(ranked, on=keys)


def suffix_rank_tables(docs: DataFrame, rounds: int) -> list[DataFrame]:
    """Rank tables [t_0 .. t_rounds], each (id, p, r): t_k ranks
    token-suffixes by their first 2^k tokens (end-padded). Documents
    longer than 2^rounds tokens would leave ranks unrefined — the
    SA adjacency could then miss the true max-LCP pair — so the
    contract is ENFORCED: a corpus whose longest document exceeds
    2^rounds tokens raises (one map-side max over the already-
    materialized token table; callers pick ``rounds`` >=
    ceil(log2(max tokens per doc)) — auto-raising instead would
    silently desync callers' fixed-round replay oracles)."""
    h40 = HASH40_SQL.format(x="__w")
    toks = materialize(
        docs.filter(F.col("text").isNotNull())
        .selectExpr("doc_id",
                    "posexplode(split(text, ' '))"
                    " AS (__p0, __w)")
        .selectExpr("doc_id", "__p0 + 1 AS p", f"{h40} AS r"))
    row = toks.groupBy().agg(F.max("p").alias("__mx")).first()
    max_p = (row["__mx"] or 0) if row is not None else 0
    if (1 << rounds) < max_p:
        raise ValueError(
            f"suffix_rank_tables: rounds={rounds} refines suffixes "
            f"only to 2^{rounds}={1 << rounds} tokens but the longest "
            f"document has {max_p}; pass rounds >= "
            "ceil(log2(max tokens per doc)) so the final ranks order "
            "all suffixes")
    tables = [toks]
    cur = toks
    for k in range(1, rounds + 1):
        h = 1 << (k - 1)
        nxt = (
            cur
            .join(cur.selectExpr("doc_id", f"p - {h} AS p",
                                 "r AS __r2"),
                  on=["doc_id", "p"], how="left")
            .selectExpr("doc_id", "p", "r AS __r1",
                        "coalesce(__r2, 0) AS __r2")
        )
        cur = materialize(
            _dense_rank(nxt, ["__r1", "__r2"], "r")
            .select("doc_id", "p", "r"))
        tables.append(cur)
    return tables


def _sfx_cache_key(docs: DataFrame, rounds: int) -> str:
    """The content-fingerprint cache key shared by the ladder and
    pair-table caches: (algorithm version, rounds, columns, corpus
    fingerprint), the fingerprint being four independent statistics
    of the per-row (id, text) hash stream — one aggregation job."""
    h32 = F.hash(F.col("doc_id"), F.col("text")).cast("long")
    h64 = F.xxhash64(F.col("doc_id"), F.col("text"))
    fp = (docs.filter(F.col("text").isNotNull())
          .agg(F.count("*").alias("__c"),
               F.sum(h32).alias("__s"),
               # full-width 64-bit values: sum on the DECIMAL(38,0)
               # grid so ANSI mode can't overflow-abort at 2 rows
               F.sum(h64.cast("decimal(38,0)")).alias("__x"),
               F.min(h64).alias("__m"))
          .first())
    return (f"v{_SFX_CACHE_VERSION}_r{rounds}_doc_id_text"
            f"_{fp['__c']}_{fp['__s']}_{fp['__x']}_{fp['__m']}")


def suffix_rank_tables_cached(docs: DataFrame, rounds: int,
                              key: str | None = None
                              ) -> list[DataFrame]:
    """:func:`suffix_rank_tables` behind a content-keyed persisted
    cache — the materialized-view pattern the engine already uses for
    LUTs (precompute-coarse, SURVEY §4), applied to the suffix-array
    ladder so every consumer of one corpus slice (longest-dup-span,
    exact cross-doc LCP, repeated benchmark passes) pays the
    ~2-jobs-per-round build ONCE.

    The cache key is (algorithm version, rounds, columns, corpus
    fingerprint) where the fingerprint is ``(count, sum(murmur3),
    sum(xxhash64), min(xxhash64))`` over the per-row (id, text)
    hashes — one cheap aggregation job, and a silent key collision
    now needs two independent hash families plus an order statistic
    to agree at once. A corpus change moves the
    key, so invalidation is by construction; stale entries are just
    unreferenced scratch directories. Writes go to a temp directory
    renamed into place after a ``_SFX_DONE`` marker lands, so a
    crashed build is never read back as complete. A cache hit is
    byte-identical to :func:`suffix_rank_tables` (the tables are
    all-integer and deterministic).

    Cache hits also skip the builder's eager max-token guard: the
    persisted ladder already passed it at build time for this exact
    corpus + rounds.
    """

    spark = docs.sparkSession
    # fingerprint = four independent statistics of the per-row hash
    # stream (count, sum of 32-bit murmur3, sum of xxhash64, min of
    # xxhash64): a silent collision — two different corpus slices
    # mapping to the same key and reusing the wrong persisted ladder
    # with no error signal — now requires SIMULTANEOUS agreement of
    # two unrelated hash families plus an order statistic, not one
    # 64-bit sum. Callers that maintain several caches of one corpus
    # (the probe index) pass the precomputed ``key`` so the
    # fingerprint job runs once.
    if key is None:
        key = _sfx_cache_key(docs, rounds)
    root = scratch_path(spark, "sfx_ladder", key)
    marker = os.path.join(root, "_SFX_DONE")
    if not os.path.exists(marker):
        tables = suffix_rank_tables(docs, rounds)
        # per-process staging dir: two sessions sharing one scratch
        # root (a supported config) may race on a cold key — each
        # builds in its own tmp, and whoever renames first wins; the
        # loser discards its build and reads the winner's
        tmp = f"{root}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for k, t in enumerate(tables):
            t.write.mode("overwrite").parquet(
                os.path.join(tmp, f"t{k}"))
        with open(os.path.join(tmp, "_SFX_DONE"), "w") as f:
            f.write("ok\n")
        # TOCTOU-safe swap: never rmtree root in place (a builder
        # that just completed it would leave readers a window with
        # a missing artifact) — see _publish_cache_dir
        _publish_cache_dir(tmp, root, marker)
    return [spark.read.parquet(os.path.join(root, f"t{k}"))
            for k in range(rounds + 1)]


def sa_adjacent_pairs(final_ranks: DataFrame) -> DataFrame:
    """SA-adjacent position pairs (da, pa, db, pb): the total suffix
    order is (rank, id, p) — unique — ranked by global_rank; pair row
    n with row n+1."""
    # both pair sides re-read the ranked table: the barrier stops the
    # two-pass global_rank (and everything under it) from executing
    # twice — the ordered table is position-rows of (id, p, __n) only
    ordered = materialize(global_rank(
        final_ranks,
        [F.col("r").asc(), F.col("doc_id").asc(), F.col("p").asc()],
        rank_col="__n"))
    a = ordered.selectExpr("doc_id AS da", "p AS pa",
                           "__n + 1 AS __n")
    b = ordered.selectExpr("doc_id AS db", "p AS pb", "__n")
    return a.join(b, on="__n").drop("__n")


def adjacent_lcp(pairs: DataFrame, tables: list[DataFrame],
                 doc_lens: DataFrame) -> DataFrame:
    """(da, pa, db, pb, lcp): rank-table walk from the highest round
    down — one linear join chain over the materialized tables (no
    barrier needed) — then clamp to the remaining suffix lengths."""
    cur = pairs.withColumn("l", F.lit(0).cast("long"))
    for k in range(len(tables) - 1, -1, -1):
        h = 1 << k
        tk = tables[k]
        ta = tk.selectExpr("doc_id AS da", "p AS __qa",
                           "r AS __ra")
        tb = tk.selectExpr("doc_id AS db", "p AS __qb",
                           "r AS __rb")
        cur = (
            cur.withColumn("__qa", F.expr("pa + l"))
            .withColumn("__qb", F.expr("pb + l"))
            .join(ta, on=["da", "__qa"], how="left")
            .join(tb, on=["db", "__qb"], how="left")
            .withColumn(
                "l",
                F.expr("CASE WHEN __ra IS NOT NULL AND __rb IS NOT"
                       f" NULL AND __ra = __rb THEN l + {h}"
                       " ELSE l END"))
            .drop("__qa", "__qb", "__ra", "__rb"))
    la = doc_lens.selectExpr("doc_id AS da", "__len AS __la")
    lb = doc_lens.selectExpr("doc_id AS db", "__len AS __lb")
    return (
        cur.join(la, on="da").join(lb, on="db")
        .withColumn("lcp", F.expr(
            "least(l, __la - pa + 1, __lb - pb + 1)"))
        .drop("l", "__la", "__lb")
    )


def longest_dup_span(docs: DataFrame, rounds: int = 7) -> DataFrame:
    """Per document: the token length and text of the longest token
    span that also occurs elsewhere in the corpus (any other
    position, any doc — within-doc repeats count). Ties resolve to
    the smallest starting position. Docs whose every position has
    LCP 0 report (0, ''). The rank tables come from the content-keyed
    persisted ladder cache (:func:`suffix_rank_tables_cached`)."""

    lens = docs.filter(F.col("text").isNotNull()).selectExpr(
        "doc_id", "size(split(text, ' ')) AS __len")
    tables = suffix_rank_tables_cached(docs, rounds)
    pairs = sa_adjacent_pairs(tables[-1])
    # consumed twice below (one union branch per pair side): without
    # the barrier the whole 2*(rounds+1)-join ladder walk runs twice
    lcps = materialize(adjacent_lcp(pairs, tables, lens))
    contrib = (
        lcps.selectExpr("da AS doc_id", "pa AS pos", "lcp")
        .unionByName(
            lcps.selectExpr("db AS doc_id", "pb AS pos", "lcp"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("lcp").desc(), F.col("pos").asc())
    best = (contrib.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn"))
    return (
        best.join(docs.select("doc_id", "text"), on="doc_id")
        .selectExpr(
            "doc_id",
            "CAST(lcp AS BIGINT) AS longest_dup_tokens",
            "array_join(slice(split(text, ' '), CAST(pos AS"
            " INT), CAST(lcp AS INT)), ' ') AS dup_text")
    )


def cross_doc_lcp(docs: DataFrame, rounds: int) -> DataFrame:
    """(id, pos, cross_lcp): for EVERY token position, the EXACT
    length of the longest prefix its suffix shares with a suffix of
    a DIFFERENT document — the block range-min over the adjacent-LCP
    array, distributed. This upgrades the SA-adjacent-pair statistic
    (``doc_source_crossdup_matrix``) to exact per-position values:
    adjacency alone only scores positions that happen to sit next to
    a foreign suffix in SA order; the range-min scores all of them,
    which is what cross-document duplication COVERAGE needs. The rank
    tables come from :func:`suffix_rank_tables_cached`.

    Construction (the classic nearest-different-document argument):
    in SA order, maximal same-document runs partition the entries.
    For an entry, the nearest foreign suffix on each side sits just
    past its run boundary, and LCP(entry, that suffix) = min of the
    adjacent-pair LCPs between them — LCP is the range-min of the
    adjacent-LCP array. So ONE forward running min (from the left
    boundary pair, inclusive) and ONE backward running min (to the
    right boundary pair) per run give the exact value at every
    position; nearest beats farther because adding pairs to the
    range can only lower the min. A missing boundary (the corpus'
    first/last run) carries a -1 sentinel through the min; the
    result floors at 0 (a doc alone in the corpus shares nothing).

    Scale: run ids ride :func:`global_rank`'s distributed running
    sum (no corpus-wide window); the two running-min windows
    partition by run, and a run is at most one document's token
    count — the bound every per-doc window in the engine already
    relies on. Everything is integer, so the DuckDB oracle replays
    it bit-exactly.
    """

    lens = docs.filter(F.col("text").isNotNull()).selectExpr(
        "doc_id", "size(split(text, ' ')) AS __len")
    tables = suffix_rank_tables_cached(docs, rounds)
    # ordered feeds three consumers (both pair sides + the entry
    # table) and lcps two (prev/next attach): barriers keep the
    # two-pass rank and the 2*(rounds+1)-join ladder walk at ONE
    # execution each instead of 3x / 2x
    ordered = materialize(global_rank(
        tables[-1],
        [F.col("r").asc(), F.col("doc_id").asc(), F.col("p").asc()],
        rank_col="__n"))
    # pair j spans SA entries (j, j+1); __n rides through the walk
    a = ordered.selectExpr("doc_id AS da", "p AS pa", "__n")
    b = ordered.selectExpr("doc_id AS db", "p AS pb",
                           "__n - 1 AS __n")
    lcps = materialize(adjacent_lcp(a.join(b, on="__n"), tables, lens))
    prev = lcps.selectExpr("__n + 1 AS __n", "da AS __prev_doc",
                           "lcp AS __lcp_prev")
    nxt = lcps.selectExpr("__n", "lcp AS __lcp_next")
    ent = (
        ordered.select("doc_id", "p", "__n")
        .join(prev, on="__n", how="left")
        .join(nxt, on="__n", how="left")
        .withColumn("__chg", F.expr(
            "CASE WHEN __prev_doc IS NULL"
            " OR __prev_doc != doc_id THEN 1 ELSE 0 END"))
    )
    ent = global_rank(ent, [F.col("__n").asc()], rank_col="__nn",
                      running_sums={"__run": "__chg"})
    wb = (Window.partitionBy("__run").orderBy("__n")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy("__run").orderBy("__n")
          .rowsBetween(0, Window.unboundedFollowing))
    return (
        ent
        .withColumn("__b", F.min(F.expr("coalesce(__lcp_prev, -1L)"))
                    .over(wb))
        .withColumn("__f", F.min(F.expr("coalesce(__lcp_next, -1L)"))
                    .over(wf))
        .selectExpr("doc_id", "p AS pos",
                    "CAST(greatest(__b, __f, 0L) AS BIGINT)"
                    " AS cross_lcp")
    )


def pair_rank_tables(tables: list[DataFrame]) -> list[DataFrame]:
    """pair_k for k = 1..rounds: the DISTINCT (r1, r2, r) rank-merge
    lookup of doubling round k — r is the round-k dense rank assigned
    to the key (rank_{k-1}(p), rank_{k-1}(p + 2^(k-1)) or 0). Derived
    from the ladder by replaying each round's key construction and
    pairing it with the round's persisted rank, so the lookup is
    byte-consistent with the ladder by construction.

    This is the PROBE half of the suffix-array artifact: a query
    string's round-k rank is the pair-table lookup of its two
    half-window ranks, recursively down to round 0 (where the rank IS
    the 40-bit token hash — ``suffix_rank_tables`` seeds t_0 with it
    directly, no dense-rank pass). A query whose lookup misses at any
    round matches nothing in the corpus. Padded corpus entries
    (suffixes shorter than the window) carry rank chains that bottom
    out in the 0 pad mark, which no full-window query chain can
    reach, so probe hits are always real full-window matches.
    """
    out = []
    for k in range(1, len(tables)):
        h = 1 << (k - 1)
        prev = tables[k - 1]
        shifted = prev.selectExpr("doc_id", f"p - {h} AS p",
                                  "r AS __r2")
        keyed = (prev.join(shifted, on=["doc_id", "p"], how="left")
                 .selectExpr("doc_id", "p", "r AS r1",
                             "coalesce(__r2, 0) AS r2"))
        out.append(
            keyed.join(tables[k], on=["doc_id", "p"])
            .select("r1", "r2", "r").distinct())
    return out


def suffix_probe_index_cached(docs: DataFrame, rounds: int,
                              max_level: int | None = None
                              ) -> tuple[list[DataFrame],
                                         list[DataFrame]]:
    """(ladder tables, pair lookup tables), both persisted — the
    build-once / probe-many suffix-array index of the infini-gram
    design (Liu 2024: one index build, many O(query * log n) count
    probes, no corpus rescan per query). The ladder rides
    :func:`suffix_rank_tables_cached`; the pair tables are persisted
    next to it under the same content fingerprint (same four-statistic
    key construction) so a corpus change invalidates both at once.

    At scale the pair tables would be written bucketed by (r1, r2)
    and the ladder bucketed by r, so a probe's broadcast-semi-join
    reads only the matching buckets; at test scale they are plain
    parquet and the probe is a broadcast hash join per round.

    ``max_level`` limits the RETURNED lists to ladder levels
    0..max_level and pair tables 1..max_level — the build persists
    every level regardless (the artifact is complete), but a probe
    for queries of <= 2^(max_level+1) - 1 tokens never touches the
    higher levels, so skipping their reads saves one schema-load job
    each. The ONE fingerprint job keys both caches.
    """

    spark = docs.sparkSession
    key = _sfx_cache_key(docs, rounds)
    root = scratch_path(spark, "sfx_pairs", key)
    marker = os.path.join(root, "_SFX_DONE")
    lroot = scratch_path(spark, "sfx_ladder", key)
    lmarker = os.path.join(lroot, "_SFX_DONE")
    if os.path.exists(marker) and os.path.exists(lmarker):
        # both artifacts complete: read only what the probe needs
        n_t = rounds if max_level is None else max_level
        tables = [spark.read.parquet(os.path.join(lroot, f"t{k}"))
                  for k in range(n_t + 1)]
        pairs = [spark.read.parquet(os.path.join(root, f"p{k}"))
                 for k in range(1, n_t + 1)]
        return tables, pairs
    tables = suffix_rank_tables_cached(docs, rounds, key=key)
    if not os.path.exists(marker):
        pairs = pair_rank_tables(tables)
        tmp = f"{root}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for k, t in enumerate(pairs):
            t.write.mode("overwrite").parquet(
                os.path.join(tmp, f"p{k + 1}"))
        with open(os.path.join(tmp, "_SFX_DONE"), "w") as f:
            f.write("ok\n")
        _publish_cache_dir(tmp, root, marker)
    n_p = rounds if max_level is None else max_level
    pairs = [spark.read.parquet(os.path.join(root, f"p{k}"))
             for k in range(1, n_p + 1)]
    if max_level is not None:
        tables = tables[:max_level + 1]
    return tables, pairs
