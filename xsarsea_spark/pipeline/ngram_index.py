"""Infini-gram style n-gram count / continuation lookup (Liu et al.
2024, "Infini-gram: Scaling Unbounded n-gram Language Models to a
Trillion Tokens") — the eval-side counterpart of the substring-dedup
family: given query n-grams of arbitrary length, report corpus
counts, document frequencies and next-token (continuation)
statistics; given query CONTEXTS, back off to the longest suffix
that occurs in the corpus (the "∞-gram" rule) and report ITS
continuation distribution.

Engine strategy: for a BOUNDED query set with bounded maximum n the
position-slice index is the right plan — ONE corpus scan produces
(doc, n, gram, next-token) occurrence rows for the n values present
in the queries (an all-JVM ``inline(flatten(transform(...)))``
projection, no UDF), a broadcast semi-join on the query grams prunes
the stream inside the same stage, and the statistics are plain hash
aggregations. Nothing is corpus-wide except hash-partitioned aggs,
so the plan survives any scale-up; the distributed suffix array
(``pipeline/suffix.py``) remains the right index when queries are
UNBOUNDED-length or interactive (build once, probe many).

Determinism: everything here is integer counts and string equality —
no float hazard at all; argmax continuation uses the struct-order
min of (-count, token), identical in Spark and DuckDB.

Reference parity: the reference engine (umr-lops/xsarsea) has no
text surface; this module is part of the LLM-data-pipeline extension
the engine brief mandates (tokenization / eval infrastructure).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.engine import materialize
from xsarsea_spark.pipeline.text import HASH40_SQL

__all__ = ["ngram_occurrences", "ngram_stats", "backoff_longest_suffix",
           "sa_backoff_longest_suffix", "sa_gram_counts",
           "sa_occurrence_positions",
           "sa_continuation", "sa_infinigram_lm"]


def _ns_array(ns: tuple[int, ...]) -> str:
    return "array(" + ", ".join(str(n) for n in ns) + ")"


def ngram_occurrences(docs: DataFrame, ns: tuple[int, ...]) -> DataFrame:
    """(id, n, gram, cont): one row per token position per n — the
    gram starting there and the token right after it (NULL when the
    gram ends the document). ONE scan, all-JVM: the position list is
    ``slice(sequence(1, L), 1, greatest(L - n + 1, 0))`` (empty for
    short docs — never a descending ``sequence``), and every n in
    ``ns`` unrolls inside a single ``inline(flatten(...))``."""
    return (
        docs.filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "split(text, ' ') AS __tk")
        .selectExpr(
            "doc_id",
            f"""inline(flatten(transform({_ns_array(ns)}, nn ->
              transform(
                slice(sequence(1, size(__tk)), 1,
                      greatest(size(__tk) - nn + 1, 0)),
                i -> struct(
                  CAST(nn AS BIGINT) AS n,
                  array_join(slice(__tk, i, nn), ' ') AS gram,
                  CASE WHEN i + nn <= size(__tk)
                       THEN element_at(__tk, i + nn) END
                    AS cont)))))"""))


def ngram_stats(occ: DataFrame) -> DataFrame:
    """(n, gram, cnt, doc_freq): total occurrences and distinct
    containing documents — one hash aggregation."""
    return (occ.groupBy("n", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.countDistinct("doc_id").alias("doc_freq")))


def backoff_longest_suffix(contexts: DataFrame,
                           stats: DataFrame) -> DataFrame:
    """Infini-gram backoff: for each context (ctx_id, ctx — a
    space-joined token string), the LONGEST suffix that occurs in
    the corpus per ``stats`` (n, gram, cnt), with its length and
    count. The suffix explode is bounded by the context length, the
    probe is a broadcast join of the (contexts × lengths) frame
    against the gram-stats table, and the winner per context is a
    struct-order min over its <= len(ctx) candidate rows."""
    sfx = contexts.selectExpr(
        "ctx_id", "ctx",
        """inline(transform(
             sequence(1, size(split(ctx, ' '))),
             k -> struct(
               CAST(k AS BIGINT) AS n,
               array_join(slice(split(ctx, ' '),
                          size(split(ctx, ' ')) - k + 1, k), ' ')
                 AS gram)))""")
    hits = F.broadcast(sfx).join(stats, on=["n", "gram"])
    return (hits.groupBy("ctx_id", "ctx")
            .agg(F.min(F.struct((-F.col("n")).alias("k"),
                                F.col("gram").alias("g"),
                                F.col("cnt").alias("c")))
                 .alias("__m"))
            .selectExpr("ctx_id", "ctx",
                        "CAST(-__m.k AS BIGINT) AS matched_n",
                        "__m.g AS suffix",
                        "CAST(__m.c AS BIGINT) AS cnt"))


def _floor_log2_case(col: str, max_n: int) -> str:
    """Exact integer floor(log2(k)) for 1 <= k <= max_n as a CASE
    ladder — pure integer arithmetic, no libm."""
    cases = " ".join(f"WHEN {k} THEN {k.bit_length() - 1}"
                     for k in range(1, max_n + 1))
    return f"CASE {col} {cases} END"


def sa_occurrence_positions(grams: DataFrame,
                            tables: list,
                            pairs: list,
                            max_n: int) -> DataFrame:
    """Exact corpus occurrence POSITIONS for a BOUNDED query-gram
    set, answered from the persisted suffix-array artifact
    (``pipeline.suffix.suffix_probe_index_cached``) — the shared
    kernel of the infini-gram probe family (Liu 2024: lookups over a
    build-once index, O(query * log n) per probe, no corpus rescan).
    :func:`sa_gram_counts` aggregates it to counts;
    :func:`sa_continuation` extends each position by one token for
    the next-token distribution.

    ``grams``: (gid, toks) with toks a token array of length <=
    ``max_n``. Returns (gid, k, __id, p): position ``p`` of document
    ``__id`` starts an occurrence of the ``k``-token gram ``gid`` —
    absent grams simply produce no row (callers LEFT JOIN for
    explicit zeros).

    Probe (per gram of token length k):

    1. the query's rank ladder: round-0 ranks are the 40-bit token
       hashes (t_0's seeding); the round-l rank of query position i
       is the pair-table lookup of (qr_{l-1}(i), qr_{l-1}(i+2^(l-1)))
       — a miss at any round proving the window matches nothing;
    2. occurrence count by the standard overlapping-window argument:
       with a = floor(log2 k), position p starts an occurrence of the
       k-gram iff rank_a(p) = qr_a(1) AND rank_a(p + k - 2^a) =
       qr_a(k - 2^a + 1) — the two 2^a-windows cover all k tokens,
       padded corpus ranks can never equal a full-window query rank
       (their chains bottom out in the 0 pad mark), and p + k - 1 <=
       doclen is implied by the second window being unpadded. The
       count probe is a broadcast semi-join of the (bounded) query
       keys into ladder level a — at scale a bucketed-by-rank read,
       never a corpus rescan.
    """


    levels = max_n.bit_length() - 1   # deepest window level used
    # contract guard: a gram longer than max_n has no ladder level —
    # without this it would silently join away and callers'
    # COALESCE(cnt, 0) would report a plausible-but-wrong 0. The
    # raise_error rides the k projection (k feeds the probe-key
    # frame, so it is always evaluated), failing the job instead.
    cand = grams.selectExpr(
        "gid", "toks",
        f"CASE WHEN size(toks) > {max_n} THEN"
        " CAST(raise_error("
        f"'sa_gram_counts: query gram exceeds max_n={max_n}:'"
        " || ' size(toks)=' || CAST(size(toks) AS STRING)"
        " || ' gid=' || CAST(gid AS STRING)) AS BIGINT)"
        " ELSE CAST(size(toks) AS BIGINT) END AS k")
    # query rank ladder, round 0 = token hashes
    q0 = (cand.selectExpr("gid", "posexplode(toks) AS (__i0, __w)")
          .selectExpr("gid", "__i0 + 1 AS i",
                      HASH40_SQL.format(x="__w") + " AS qr"))
    # each level is materialized: the ladder is iterative lineage —
    # level l reads level l-1 twice (both half-windows) and the key
    # frame reads the final ladder twice, so an unmaterialized chain
    # recomputes the lower levels exponentially often. The frames
    # are query-sized (bounded), so each checkpoint is trivial.
    qlv = [materialize(q0)]
    for lvl in range(1, levels + 1):
        h = 1 << (lvl - 1)
        a = qlv[-1].selectExpr("gid", "i", "qr AS r1")
        b = qlv[-1].selectExpr("gid", f"i - {h} AS i", "qr AS r2")
        lk = pairs[lvl - 1].selectExpr("r1", "r2", "r AS qr")
        qlv.append(materialize(
            a.join(b, on=["gid", "i"])
            .join(lk, on=["r1", "r2"], how="left")
            .select("gid", "i", "qr")))
    qall = reduce(
        lambda x, y: x.unionByName(y),
        [qf.withColumn("lvl", F.lit(l).cast("int"))
         for l, qf in enumerate(qlv)])
    # per-gram probe keys: window level a, the two window ranks
    keys = (cand.selectExpr(
        "gid", "k",
        f"CAST({_floor_log2_case('k', max_n)} AS INT) AS lvl")
        .withColumn("__delta", F.expr("k - shiftleft(1L, lvl)")))
    k1 = (keys.join(qall.filter("i = 1")
                    .selectExpr("gid", "lvl", "qr AS qr1"),
                    on=["gid", "lvl"])
          .join(qall.selectExpr("gid", "lvl",
                                "i - 1 AS __delta", "qr AS qr2"),
                on=["gid", "lvl", "__delta"])
          .filter("qr1 IS NOT NULL AND qr2 IS NOT NULL"))
    # count probe against the tagged ladder levels a query of <=
    # max_n tokens can touch — a static property of max_n, no job
    used = sorted({(k).bit_length() - 1
                   for k in range(1, max_n + 1)})
    tagged = reduce(
        lambda x, y: x.unionByName(y),
        [tables[a].selectExpr("doc_id AS __id", "p", "r")
         .withColumn("lvl", F.lit(a).cast("int")) for a in used])
    first = tagged.selectExpr("lvl", "__id", "p", "r AS qr1")
    second = tagged.selectExpr("lvl AS __l2", "__id AS __id2",
                               "p AS __p2", "r AS qr2")
    j1 = first.join(F.broadcast(k1), on=["lvl", "qr1"])
    j2 = j1.join(
        second,
        on=[j1["lvl"] == second["__l2"],
            j1["__id"] == second["__id2"],
            second["__p2"] == j1["p"] + j1["__delta"],
            j1["qr2"] == second["qr2"]])
    return j2.select(j1["gid"], j1["k"], j1["__id"], j1["p"])


def sa_gram_counts(grams: DataFrame,
                   tables: list,
                   pairs: list,
                   max_n: int,
                   occ: DataFrame = None) -> DataFrame:
    """Exact corpus occurrence counts for a BOUNDED query-gram set —
    the primary infini-gram operation: the
    :func:`sa_occurrence_positions` probe aggregated per gram.
    Returns (gid, cnt) for grams with cnt >= 1.

    ``occ`` lets a caller that also runs :func:`sa_continuation`
    over the SAME gram set share one (materialized) probe pass
    instead of executing the ladder probe once per consumer."""
    if occ is None:
        occ = sa_occurrence_positions(grams, tables, pairs, max_n)
    return (occ.groupBy("gid")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt")))


def sa_continuation(grams: DataFrame,
                    tables: list,
                    pairs: list,
                    max_n: int,
                    vocab: DataFrame,
                    occ: DataFrame = None) -> DataFrame:
    """Infini-gram next-token CONTINUATION distribution over the
    persisted suffix-array artifact (the remaining Liu 2024 primary
    operation next to count lookup): for each query gram, the
    distribution over the tokens observed immediately after its
    corpus occurrences.

    Each occurrence position from :func:`sa_occurrence_positions` is
    extended by one token via a (doc, position + k) join into the
    level-0 ladder table — whose rank IS the 40-bit token hash
    (t_0's seeding) — and the hash is named through ``vocab``
    ((r, w): token hash -> token string; vocabulary-scale, persisted
    next to the artifact at production scale). Occurrences at a
    document's end have no level-0 row at p + k and drop out of the
    inner join — exactly the "no continuation" semantics. At scale
    both joins are bucketed (ladder by rank / doc, vocab by rank);
    nothing rescans the corpus.

    Returns (gid, cont_total, cont_distinct, top_cont,
    top_cont_cnt): total continuations, distinct next tokens, and
    the struct-order-min top next token — grams with no occurrence
    or only doc-end occurrences produce no row (callers LEFT JOIN
    for explicit zeros).

    ``vocab`` may carry duplicate rows (e.g. the raw exploded corpus
    token stream): it is rank-pruned with a broadcast semi-join on
    the bounded continuation-rank set and deduplicated HERE, so
    callers must not pay a corpus-wide distinct to build it.

    ``occ`` lets a caller that also runs :func:`sa_gram_counts`
    over the SAME gram set share one (materialized) probe pass."""

    if occ is None:
        occ = sa_occurrence_positions(grams, tables, pairs, max_n)
    t0 = tables[0].selectExpr("doc_id AS __cid", "p AS __pn",
                              "r AS __rn")
    nxt = occ.join(
        t0,
        on=[occ["__id"] == t0["__cid"],
            t0["__pn"] == occ["p"] + occ["k"]])
    # materialized LAZILY: dist is bounded by (grams x their
    # distinct next tokens) but its lineage is the whole probe, and
    # it feeds BOTH the broadcast key set below and the naming join
    # — the shared checkpointed RDD makes the probe run once without
    # the extra serialized job wave an eager checkpoint would add.
    dist = materialize(
        nxt.groupBy("gid", "__rn")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("__c")),
        eager=False)
    # name the bounded rank set without a corpus-wide distinct: the
    # raw (w, r) stream is filtered by a broadcast semi-join on the
    # ranks that actually continue a query gram, and only the
    # surviving handful is deduplicated.
    vsmall = (vocab.selectExpr("r AS __rn", "w")
              .join(F.broadcast(dist.select("__rn").distinct()),
                    on="__rn")
              .distinct())
    # dist (bounded, materialized) is the broadcast side — the vocab
    # stream keeps its corpus-scan lineage OUT of any broadcast
    named = vsmall.join(F.broadcast(dist), on="__rn")
    return (named.groupBy("gid")
            .agg(F.expr("CAST(SUM(__c) AS BIGINT)")
                 .alias("cont_total"),
                 F.expr("CAST(COUNT(*) AS BIGINT)")
                 .alias("cont_distinct"),
                 F.min(F.struct((-F.col("__c")).alias("k"),
                                F.col("w").alias("v")))
                 .alias("__m"))
            .selectExpr("gid", "cont_total", "cont_distinct",
                        "__m.v AS top_cont",
                        "CAST(-__m.k AS BIGINT) AS top_cont_cnt"))


def sa_backoff_longest_suffix(contexts: DataFrame,
                              tables: list,
                              pairs: list,
                              max_n: int) -> DataFrame:
    """Infini-gram backoff over the persisted suffix-array artifact:
    every suffix of each context becomes a candidate gram, counts
    come from :func:`sa_gram_counts` (see there for the probe), and
    the winner per context is the struct-order min of (-k, gram,
    cnt) over candidates with cnt >= 1 — identical semantics to the
    position-slice :func:`backoff_longest_suffix`, so the same
    oracle grades both paths.

    Output: (ctx_id, ctx, matched_n, suffix, cnt).
    """
    sfx = contexts.selectExpr(
        "ctx_id", "ctx",
        """inline(transform(
             sequence(1, size(split(ctx, ' '))),
             kk -> struct(
               CAST(kk AS BIGINT) AS k,
               slice(split(ctx, ' '),
                     size(split(ctx, ' ')) - kk + 1, kk)
                 AS toks)))""").withColumn(
        "gram", F.expr("array_join(toks, ' ')")).withColumn(
        "gid", F.expr("ctx_id || ':' || CAST(k AS STRING)"))
    cnts = sa_gram_counts(sfx.select("gid", "toks"), tables, pairs,
                          max_n)
    hits = sfx.join(cnts, on="gid")
    return (hits.groupBy("ctx_id", "ctx")
            .agg(F.min(F.struct((-F.col("k")).alias("k"),
                                F.col("gram").alias("g"),
                                F.col("cnt").alias("c")))
                 .alias("__m"))
            .selectExpr("ctx_id", "ctx",
                        "CAST(-__m.k AS BIGINT) AS matched_n",
                        "__m.g AS suffix",
                        "CAST(__m.c AS BIGINT) AS cnt"))


def sa_infinigram_lm(contexts: DataFrame,
                     tables: list,
                     pairs: list,
                     max_n: int,
                     vocab: DataFrame) -> DataFrame:
    """The ∞-gram LM estimate (Liu 2024's headline composition):
    per context, back off to the LONGEST corpus-occurring suffix,
    then report THAT suffix's next-token continuation distribution
    — the estimate P(next | context) = top_cont_cnt / cont_total is
    exactly the ∞-gram probability of the most likely next token.

    Composition of the artifact probes: one :func:`sa_gram_counts`
    pass over the bounded suffix-explode picks the winner per
    context (struct-order min, identical to
    :func:`sa_backoff_longest_suffix`), one :func:`sa_continuation`
    pass over the WINNER grams (a context-sized set) attaches the
    distribution. Both passes are O(query * log n) rank probes —
    the corpus is never rescanned. Contexts whose every suffix is
    corpus-absent produce no row (the backoff convention);
    ``cont_total`` = 0 with NULL top marks a winner whose
    occurrences all sit at document ends, and ``p_top`` is NULL
    there (NULLIF guard, identical in both engines).

    Output: (ctx_id, ctx, matched_n, suffix, cnt, cont_total,
    cont_distinct, top_cont, top_cont_cnt, p_top).
    """
    sfx = contexts.selectExpr(
        "ctx_id", "ctx",
        """inline(transform(
             sequence(1, size(split(ctx, ' '))),
             kk -> struct(
               CAST(kk AS BIGINT) AS k,
               slice(split(ctx, ' '),
                     size(split(ctx, ' ')) - kk + 1, kk)
                 AS toks)))""").withColumn(
        "gram", F.expr("array_join(toks, ' ')")).withColumn(
        "gid", F.expr("ctx_id || ':' || CAST(k AS STRING)"))

    cnts = sa_gram_counts(sfx.select("gid", "toks"), tables, pairs,
                          max_n)
    # materialized: the winner frame is context-sized but its
    # lineage is the whole count probe, and the plan below reads it
    # TWICE (the output join and the winner-gram recovery) — an
    # unmaterialized win re-runs the probe per branch
    win = materialize(
        sfx.join(cnts, on="gid")
        .groupBy("ctx_id", "ctx")
        .agg(F.min(F.struct((-F.col("k")).alias("k"),
                            F.col("gram").alias("g"),
                            F.col("cnt").alias("c")))
             .alias("__m"))
        .selectExpr("ctx_id", "ctx",
                    "CAST(-__m.k AS BIGINT) AS matched_n",
                    "__m.g AS suffix",
                    "CAST(__m.c AS BIGINT) AS cnt"))
    # the winner's token array, recovered from the suffix explode
    # (context-sized join, no re-tokenization)
    wg = (win.join(sfx.selectExpr("ctx_id", "k AS matched_n",
                                  "toks"),
                   on=["ctx_id", "matched_n"])
          .selectExpr("ctx_id AS gid", "toks"))
    cont = sa_continuation(wg, tables, pairs, max_n, vocab)
    return (win.join(cont.withColumnRenamed("gid", "ctx_id"),
                     on="ctx_id", how="left")
            .selectExpr(
                "ctx_id", "ctx", "matched_n", "suffix", "cnt",
                "CAST(COALESCE(cont_total, 0) AS BIGINT)"
                " AS cont_total",
                "CAST(COALESCE(cont_distinct, 0) AS BIGINT)"
                " AS cont_distinct",
                "top_cont",
                "CAST(COALESCE(top_cont_cnt, 0) AS BIGINT)"
                " AS top_cont_cnt",
                "CAST(top_cont_cnt AS DOUBLE)"
                " / CAST(NULLIF(cont_total, 0) AS DOUBLE)"
                " AS p_top"))
