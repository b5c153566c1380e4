"""Distributed BPE merge training: learn byte-pair-encoding-style
merges from a tokenized corpus — the tokenizer-training primitive of
an LLM data pipeline, run as k rounds of (distributed pair count ->
bounded top-1 -> per-row merge application).

Scale shape:

- **Pair counting** is one explode + hash aggregation per round —
  map-side combined, the exchange carries distinct pairs (vocab^2
  bounded), never positions.
- **The learned state is k (left, right) string pairs** — the
  bounded artifact (k-means-centroid precedent) collected one row per
  round; everything corpus-sized stays distributed.
- **Merge application is a zero-exchange per-row projection**:
  occurrence positions, greedy-leftmost selection and the rebuild are
  HOF expressions over the token array. Greedy-leftmost on runs
  ("a a a" with merge (a,a) keeps alternating occurrences) is the
  run-parity closed form — occurrence i is applied iff its offset
  from its consecutive-run start is even — so no sequential fold (and
  therefore no engine-specific fold-state) is needed.
- Each round ends in ``localCheckpoint``: the top-1 collect forces a
  job through the full lineage anyway, and without materialization
  round r+1 would recompute every earlier rebuild (and Catalyst's
  projection collapse would re-inline the rebuild expression once per
  ``element_at`` reference — the same blowup pca_power documents).

The DuckDB oracle replays every round in chained CTEs — including
recomputing each round's argmax pair in SQL, so the merge table is
value-exact cross-engine with no literals smuggled in.

Determinism: ties break on (count DESC, left ASC, right ASC); merged
tokens join with a single space, so multi-level merges stay readable
("key agg" + "row" -> "key agg row").

Parity: reference repo has no tokenizer pillar (engine-brief
extension); the algorithm is Sennrich et al. 2016 word-level BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsarsea_spark.engine import materialize
from xsarsea_spark.expr import spark_str_lit

__all__ = ["bpe_train", "bpe_encode", "bpe_bytelevel_encode",
           "apply_merge_expr",
           "GPT2_PRETOKEN_PAT", "bpe_save_merges", "bpe_load_merges",
           "bpe_apply", "bpe_apply_bytelevel", "bpe_bytelevel_train"]

# GPT-2-style pre-tokenization pattern (Radford et al. 2019), with one
# documented deviation: the original's `\s+(?!\S)` trailing-whitespace
# alternative uses a negative lookahead, which RE2 (DuckDB) does not
# support — so runs of 2+ spaces become ONE whitespace pre-token here
# instead of splitting the last space onto the following word. The
# pattern below is valid and IDENTICAL in Java regex (Spark), RE2
# (DuckDB) and the pure-Python scanner the parity test ships:
# contractions, optional-leading-space letter/number/other runs,
# whitespace runs. (\s differs across engines only on \x0B — excluded
# from the corpus and the adversarial tests.)
GPT2_PRETOKEN_PAT = (r"'s|'t|'re|'ve|'m|'ll|'d"
                     r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def apply_merge_expr(col: str, a: str, b: str) -> str:
    """Spark SQL expression: token array ``col`` with every
    greedy-leftmost (a, b) adjacency merged into one token.

    Let-bound via the singleton idiom (occ and kept positions are
    each computed once per row); all 1-based array ops, ANSI-safe
    (the size<2 guard keeps ``sequence`` ascending).
    """
    la, lb = spark_str_lit(a), spark_str_lit(b)
    occ = (f"CASE WHEN size({col}) < 2 THEN array() "
           f"ELSE filter(sequence(1, size({col}) - 1),"
           f" p -> element_at({col}, p) = {la}"
           f" AND element_at({col}, p + 1) = {lb}) END")
    # run-parity greedy: occurrence index i (1-based within occ) is
    # kept iff i minus its consecutive-run start index is even
    # The size-0 guard matters: sequence(1, 0) auto-steps DOWN and
    # feeds j = 0 into element_at (an ANSI error); IF (not OR) keeps
    # the j = 1 base case from touching index 0
    kept = ("CASE WHEN size(o) = 0 THEN array() ELSE"
            " transform(filter(sequence(1, size(o)), i ->"
            " ((i - array_max(filter(sequence(1, i), j -> IF(j = 1,"
            " true, element_at(o, j) - element_at(o, j - 1) > 1))))"
            " % 2) = 0), i -> element_at(o, i)) END")
    rebuild = (
        f"CASE WHEN size(o) = 0 THEN {col} ELSE"
        f" flatten(transform(sequence(1, size({col})), q ->"
        f" CASE WHEN array_contains(transform(kk, p -> p + 1), q)"
        f" THEN array()"
        f" WHEN array_contains(kk, q)"
        f" THEN array(element_at({col}, q) || ' '"
        f" || element_at({col}, q + 1))"
        f" ELSE array(element_at({col}, q)) END)) END")
    return (f"element_at(transform(array({occ}), o ->"
            f" element_at(transform(array({kept}), kk ->"
            f" {rebuild}), 1)), 1)")


def _word_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, __t): each non-null document split on single spaces."""
    return (
        docs.filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "split(text, ' ') AS __t")
        .filter("size(__t) >= 1")
    )


def _merge_rounds(cur: DataFrame, n_merges: int, weight: str,
                  apply_last: bool,
                  ) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """The engine-agnostic merge loop; returns (final ``cur``, merge
    list). ``cur`` carries ``__t`` (a token array per row) and the
    columns every round passes through; each adjacent pair counts the
    SQL expression ``weight`` toward its pair count.

    Word-level rows are documents, each pair weighing ``1``. Byte-level
    rows are the DISTINCT pre-token table (__t0 the original symbol
    array, __f its corpus multiplicity), each pair weighing ``__f`` —
    the weighted form every production BPE trainer uses (Sennrich et
    al. 2016 train on a word-frequency dict, not the exploded corpus):
    identical sequences contribute identical pair multisets, so the
    weighted sum equals the count over the exploded corpus EXACTLY,
    while each round's scan shrinks to vocabulary rows. Merges never
    cross a row, which is exactly the no-merges-across-pre-token-
    boundaries rule.

    ``apply_last`` controls whether the last learned merge is also
    applied to ``cur`` (encode needs it; a merge table does not,
    saving one checkpointed rebuild).
    """
    keys = [c for c in cur.columns if c != "__t"]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = cur.filter("size(__t) >= 2").select(
            F.expr(weight).alias("__w"),
            F.explode(F.expr(
                "transform(sequence(1, size(__t) - 1), p ->"
                " named_struct('lhs', element_at(__t, p),"
                " 'rhs', element_at(__t, p + 1)))")).alias("__p"))
        top = (
            pairs.groupBy("__p.lhs", "__p.rhs")
            .agg(F.expr("CAST(SUM(__w) AS BIGINT)").alias("__n"))
            .orderBy(F.desc("__n"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["lhs"], top[0]["rhs"], top[0]["__n"]
        merges.append((rank, a, b, int(n)))
        if rank < n_merges - 1 or apply_last:
            cur = materialize(cur.select(
                *keys,
                F.expr(apply_merge_expr("__t", a, b)).alias("__t"),
            ))
    return cur, merges


def _merge_table(spark, merges: list) -> DataFrame:
    return spark.createDataFrame(
        merges,
        schema="merge_rank int, lhs string, rhs string,"
               " pair_count bigint")


def _doc_rollup(cur: DataFrame) -> DataFrame:
    """Per word-level document: raw/encoded token counts, compression
    and an md5 digest of the encoded token stream (tokens joined on
    chr(31), which no corpus token contains, so the digest is
    injective over token boundaries — merged tokens themselves contain
    spaces). The raw count is recovered from the encoded stream itself
    (a merged token expands to its space-separated word count) — no
    join back to the source, no second corpus scan."""
    return cur.select(
        "doc_id",
        F.expr("CAST(aggregate(__t, 0L,"
               " (a, x) -> a + size(split(x, ' '))) AS BIGINT)")
        .alias("n_tokens_raw"),
        F.expr("CAST(size(__t) AS BIGINT)").alias("n_tokens_encoded"),
        F.expr("md5(array_join(__t, char(31)))").alias("encoded_md5"),
    ).withColumn(
        "compression",
        F.expr("n_tokens_raw / CAST(n_tokens_encoded AS DOUBLE)"),
    ).select("doc_id", "n_tokens_raw", "n_tokens_encoded",
             "compression", "encoded_md5")


def bpe_train(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (merge_rank, lhs, rhs, pair_count)."""
    _, merges = _merge_rounds(_word_tokens(docs), n_merges, "1",
                              apply_last=False)
    return _merge_table(docs.sparkSession, merges)


def bpe_encode(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """Train ``n_merges`` merges AND apply them all; returns the
    per-document rollup (see ``_doc_rollup``).

    The encoded corpus IS the training loop's final state — each
    round's zero-exchange rebuild already materialized via
    ``localCheckpoint`` — so encode costs one extra rebuild beyond
    training, not a second pass over the merges.
    """
    cur, _ = _merge_rounds(_word_tokens(docs), n_merges, "1",
                           apply_last=True)
    return _doc_rollup(cur)


def bpe_save_merges(merges: DataFrame, path: str) -> None:
    """Persist a trained merge table as the tokenizer artifact.

    The merge table is the ENTIRE learned state of the tokenizer
    (k-means-centroid precedent: bounded rows, corpus-independent),
    so one single-file parquet — written once, broadcast-read by
    every downstream encode job — is the production artifact shape
    (train once on a corpus sample, encode everywhere forever).

    ``repartition(1)``, not ``coalesce(1)``: on this Spark build a
    coalesced single-task write of a local-relation frame stalls ~6 s
    in scheduling while the tiny round-robin exchange costs <1 s —
    same one-file output either way (measured; see docs/PLANS.md).
    """
    merges.repartition(1).write.mode("overwrite").parquet(path)


def bpe_load_merges(spark, path: str) -> DataFrame:
    """Load a persisted merge table (see ``bpe_save_merges``)."""
    return spark.read.parquet(path)


def _collect_merges(merges: DataFrame) -> list[tuple[str, str]]:
    """Bounded collect of the rank-ordered (lhs, rhs) merge list —
    the artifact is k rows by construction, never corpus-sized."""
    rows = merges.select("merge_rank", "lhs", "rhs").collect()
    return [(r["lhs"], r["rhs"])
            for r in sorted(rows, key=lambda r: r["merge_rank"])]


def _greedy_merge_pass(toks: list[str], a: str, b: str) -> list[str]:
    """One greedy-leftmost merge pass — the sequential-scan twin of
    ``apply_merge_expr``'s run-parity closed form. A consumed pair
    advances the scan by 2, so within a run of equal tokens exactly
    the even-offset occurrences merge: identical output by
    construction, pinned bit-equal by tests/test_bpe_artifact.py.
    """
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(a + " " + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _apply_merges_kernel(merges: list[tuple[str, str]]):
    """mapInPandas kernel: apply the full rank-ordered merge list to
    every ``__t`` token array in ONE Arrow-batched pass — the encode
    fast path a persisted artifact buys. Training pays k jobs (each
    round's pair count needs the previous round's corpus); applying
    a known artifact pays zero extra jobs and zero exchanges: k
    in-memory passes per row, all other columns carried through.
    """

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                col = []
                for toks in pdf["__t"]:
                    toks = list(toks)
                    for a, b in merges:
                        toks = _greedy_merge_pass(toks, a, b)
                    col.append(toks)
                pdf = pdf.copy()
                pdf["__t"] = col
            yield pdf

    return kernel


def bpe_apply(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Encode the corpus with an already-trained (typically
    ``bpe_load_merges``-loaded) merge table — NO retraining, no pair
    counting, no per-round jobs: the merge list is collected (bounded
    artifact) and applied in one zero-exchange Arrow pass per row.
    Output schema and values are identical to ``bpe_encode`` run with
    the same merges (tests pin digest equality on the full corpus).
    """
    cur = _word_tokens(docs)
    return _doc_rollup(cur.mapInPandas(
        _apply_merges_kernel(_collect_merges(merges)), schema=cur.schema))


def bpe_apply_bytelevel(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Byte-level twin of ``bpe_apply``: GPT-2-style pre-tokenization
    + byte-fallback symbols, then the persisted merge list applied to
    the DISTINCT pre-token table in one Arrow pass (merges are
    position-independent, so the per-occurrence result is a pure
    function of the pre-token string) and joined back onto the
    narrow occurrence frame. Same output schema and values as
    ``bpe_bytelevel_encode`` with the same merges — the Python
    boundary now carries vocabulary rows, not corpus rows.
    """
    pre = _bytelevel_pre(docs)
    vocab = (pre.select("__tok").distinct()
             .selectExpr("__tok", f"{_HEX_SYMBOLS_SQL} AS __t"))
    enc_vocab = vocab.mapInPandas(
        _apply_merges_kernel(_collect_merges(merges)),
        schema=vocab.schema)
    return _bytelevel_rollup(
        pre.join(enc_vocab, on="__tok").select("doc_id", "__pt", "__t"))


# the byte-symbol expansion of one pre-token string: its UTF-8 bytes
# as two-char uppercase hex symbols ("E2", "80", ...) — byte fallback,
# so no text is ever out-of-vocabulary. An injective byte naming both
# engines derive with hex(encode(tok)), in place of GPT-2's
# printable-unicode remap table. Applied to DISTINCT pre-tokens wherever
# possible: hex() over every corpus occurrence costs corpus-scale
# string work for a vocabulary-scale result.
_HEX_SYMBOLS_SQL = (
    "transform(sequence(1, length(hex(encode(__tok, 'UTF-8')))"
    " div 2), i -> substr(hex(encode(__tok, 'UTF-8')),"
    " 2 * i - 1, 2))")


def _bytelevel_pre(docs: DataFrame) -> DataFrame:
    """(id, __pt, __tok): GPT-2 pre-tokenization WITHOUT the byte
    expansion — the narrow occurrence frame (position + raw pre-token
    string) every byte-level path shuffles; the hex symbol arrays are
    derived per DISTINCT pre-token (``_bytelevel_vocab``), not per
    occurrence."""
    pat = F.lit(GPT2_PRETOKEN_PAT)
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id",
                F.regexp_extract_all(F.col("text"), pat, F.lit(0))
                .alias("__pts"))
        .select("doc_id", F.posexplode("__pts").alias("__pt", "__tok"))
        # posexplode is 0-based; oracle lists are 1-based
        .selectExpr("doc_id", "__pt + 1 AS __pt", "__tok")
    )


def _bytelevel_vocab(pre: DataFrame) -> DataFrame:
    """Distinct pre-token frequency table (__tok, __f, __t0): ONE
    map-side-combined count agg over the occurrence frame, then the
    byte-symbol expansion on the vocabulary rows only. __tok <-> __t0
    is a bijection (hex of the UTF-8 bytes is injective), so counts
    keyed by __tok equal counts keyed by the symbol array — the
    property that keeps merges/tie-breaks identical to grouping on
    the expanded arrays directly."""
    return (pre.groupBy("__tok")
            .agg(F.count(F.lit(1)).alias("__f"))
            .withColumn("__t0", F.expr(_HEX_SYMBOLS_SQL)))


def bpe_bytelevel_train(docs: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` byte-level merges (GPT-2 pre-tokenization +
    byte-fallback symbols); returns the same (merge_rank, lhs, rhs,
    pair_count) artifact shape as ``bpe_train`` — persist it with
    ``bpe_save_merges`` and encode with ``bpe_apply_bytelevel``."""
    pre = _bytelevel_pre(docs)
    # train on the distinct pre-token frequency table: counts (and
    # therefore merges and tie-breaks) are exactly the corpus counts
    # (__tok <-> __t0 bijection, see _bytelevel_vocab)
    wf = materialize(
        _bytelevel_vocab(pre)
        .select("__t0", "__f", F.col("__t0").alias("__t")))
    _, merges = _merge_rounds(wf, n_merges, "__f", apply_last=False)
    return _merge_table(docs.sparkSession, merges)


def bpe_bytelevel_encode(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """GPT-2-style byte-level BPE: regex pre-tokenization (merges
    never cross pre-token boundaries), byte-fallback symbols, then
    the same distributed merge loop as word-level BPE — the tokenizer
    shape every production LLM data pipeline actually ships.

    Returns the per-document rollup of ``_bytelevel_rollup``.

    Scale: pre-tokenization + byte mapping is a zero-exchange per-row
    projection; the explode to pre-token rows enforces the boundary
    rule with NO extra bookkeeping (a merge can only see one row).
    The corpus is then touched exactly TWICE: one map-side-combined
    frequency agg onto the DISTINCT pre-token table (identical
    pre-tokens collapse before the wire), and one final join of the
    corpus pre-tokens against the vocabulary-scale segmentation —
    every merge round runs on the distinct table (weighted counts
    are EXACTLY the corpus counts, so merges and tie-breaks are
    unchanged), instead of rescanning and rewriting the corpus per
    round. The final per-doc rollup is one hash agg.
    """
    pre = _bytelevel_pre(docs)
    vocab = materialize(_bytelevel_vocab(pre))
    wf = vocab.select("__t0", "__f", F.col("__t0").alias("__t"))
    seg, _ = _merge_rounds(wf, n_merges, "__f", apply_last=True)
    # segment each corpus pre-token by joining back on the RAW
    # pre-token string (mapped to its segmentation through the
    # __tok <-> __t0 bijection) — vocabulary-scale right side, so
    # the optimizer broadcasts it in practice; the corpus explode
    # now shuffles plain strings, never per-occurrence symbol
    # arrays, and the rounds never touch the corpus after the one
    # frequency agg
    tokseg = (vocab.select("__tok", "__t0")
              .join(seg.select("__t0", F.col("__t").alias("__tf")),
                    on="__t0")
              .select("__tok", "__tf"))
    return _bytelevel_rollup(
        pre.join(tokseg, on="__tok")
        .select("doc_id", "__pt", F.col("__tf").alias("__t")))


def _bytelevel_rollup(cur: DataFrame) -> DataFrame:
    """Per document of the (doc_id, __pt, __t) segmented pre-token
    frame: pre-token count, UTF-8 byte count, encoded token count,
    compression, and an injective digest of the encoded stream
    (symbols joined by chr(31) within a pre-token, pre-tokens by
    chr(30) in position order — neither occurs in hex-pair symbols or
    merge separators). One hash agg."""
    return (
        cur.groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pretokens"),
            F.expr("CAST(SUM(aggregate(__t, 0L, (a, x) ->"
                   " a + size(split(x, ' ')))) AS BIGINT)")
            .alias("n_bytes"),
            F.expr("CAST(SUM(size(__t)) AS BIGINT)")
            .alias("n_tokens_encoded"),
            F.expr("md5(array_join(transform(array_sort("
                   "collect_list(named_struct('pt', __pt, 's',"
                   " array_join(__t, char(31))))), e -> e.s),"
                   " char(30)))").alias("encoded_md5"),
        )
        .withColumn("compression",
                    F.expr("n_bytes / CAST(n_tokens_encoded"
                           " AS DOUBLE)"))
        .select("doc_id", "n_pretokens", "n_bytes", "n_tokens_encoded",
                "compression", "encoded_md5")
    )
