"""Unigram language-model tokenizer training (the SentencePiece
unigram algorithm of Kudo 2018, "Subword Regularization"), as a
Spark-first EM loop — the other half of the tokenizer story next to
BPE (``pipeline/bpe.py``):

- seed vocabulary: every substring (length 1..MAXP) of the distinct
  words, weighted by corpus word frequency; the top-K multi-char
  pieces plus ALL single characters (closure — every word stays
  segmentable);
- piece cost: ``ik = FLOOR(ln(total / cnt) * 1e9)`` as an INT64
  nanonat — the one libm call, floored onto an integer grid so both
  engines derive the identical key and every downstream DP sum is
  exact integer arithmetic (fold-order-free);
- E-step: Viterbi-segment each distinct word (DP over character
  positions, argmin by the struct order (cost, path) — ties resolve
  to the lexicographically smallest piece path, identically in the
  Python kernel and the SQL replay);
- M-step: re-estimate counts from the frequency-weighted piece
  occurrences of the best segmentations, add-one smoothed (every
  vocabulary entry stays finite — vocabulary membership is FIXED
  after seeding, the final-EM-rounds regime of SentencePiece).

Scale design (100 TB): the corpus-scale work is ONE word-frequency
hash aggregation; everything after operates on the DISTINCT-WORD
table (vocabulary-scale by Heaps' law, orders of magnitude smaller
than the corpus) and the bounded piece vocabulary. The per-round
driver state is the piece-cost map (vocab-sized — the bounded
collect precedent of BPE's merge table); the Viterbi kernel is an
Arrow-batched mapInPandas over distinct words, embarrassingly
parallel, no shuffle. Rounds are data-independent in count.

Reference parity: the reference engine (umr-lops/xsarsea) has no
text surface; this module is part of the LLM-data-pipeline extension
the engine brief mandates (tokenization), next to BPE.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.engine import materialize

__all__ = ["word_freqs", "seed_vocab", "piece_costs",
           "viterbi_segment", "em_round", "train_unigram",
           "ULM_MAXP", "ULM_K", "ULM_ROUNDS", "ULM_MAXW"]

ULM_MAXP = 4      # max piece length (chars)
ULM_K = 24        # multi-char seed pieces kept
ULM_ROUNDS = 2    # EM rounds
ULM_MAXW = 12     # word-length contract (oracle DP chain depth)


def word_freqs(docs: DataFrame) -> DataFrame:
    """(w, f): corpus word frequencies over words of length <=
    ``ULM_MAXW`` (the DP-depth contract, applied identically in the
    oracle) — one hash aggregation, output is vocabulary-scale."""
    return (docs.filter(F.col("text").isNotNull())
            .selectExpr("explode(split(text, ' ')) AS w")
            .filter(F.length("w").between(1, ULM_MAXW))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f")))


def seed_vocab(wf: DataFrame) -> DataFrame:
    """(piece, cnt): all single characters plus the top-``ULM_K``
    multi-char substrings (up to ``ULM_MAXP`` characters) by
    frequency-weighted occurrence count
    (ties to the lexicographically smaller piece). The substring
    explode is over DISTINCT words — bounded by vocabulary size,
    never the corpus."""
    sub = wf.selectExpr(
        "f",
        f"""explode(flatten(transform(sequence(1, {ULM_MAXP}), l ->
          transform(
            slice(sequence(1, length(w)), 1,
                  greatest(length(w) - l + 1, 0)),
            i -> substring(w, i, l))))) AS piece""")
    sc = sub.groupBy("piece").agg(
        F.expr("CAST(SUM(f) AS BIGINT)").alias("cnt"))
    chars = sc.filter(F.length("piece") == 1)
    multi = (sc.filter(F.length("piece") >= 2)
             .orderBy(F.col("cnt").desc(), F.col("piece").asc())
             .limit(ULM_K))
    return chars.unionAll(multi)


def piece_costs(vocab: DataFrame) -> dict[str, int]:
    """piece -> INT64 nanonat cost ``FLOOR(ln(total/cnt) * 1e9)``,
    computed IN SQL (so the floored grid value is the engine's, not
    a driver re-derivation) and collected — vocab-sized state."""
    tot = vocab.agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("t"))
    rows = (vocab.crossJoin(F.broadcast(tot))
            .selectExpr(
                "piece",
                "CAST(FLOOR(ln(CAST(t AS DOUBLE)"
                " / CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT) AS ik")
            .collect())
    return {r["piece"]: r["ik"] for r in rows}


def viterbi_segment(wf: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(w, f, cost_ns, path, n_pieces): the Viterbi-best unigram
    segmentation of each word into pieces of at most ``ULM_MAXP``
    characters. DP state per position is the struct
    (total int-cost, space-joined piece path); the argmin tuple
    compare (int, ASCII str) is byte-identical to the oracle's
    struct order. Arrow-batched, per-row independent, no shuffle."""

    schema = T.StructType([
        T.StructField("w", T.StringType()),
        T.StructField("f", T.LongType()),
        T.StructField("cost_ns", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("n_pieces", T.LongType()),
    ])
    ik = dict(costs)

    def gen(batches):
        for pdf in batches:
            out = []
            for w, f in zip(pdf["w"], pdf["f"]):
                n = len(w)
                # dp[i] = (cost, path) of the best segmentation of
                # w[:i]; single-char closure guarantees feasibility
                dp = [(0, "")] + [None] * n
                for i in range(1, n + 1):
                    best = None
                    for length in range(1, min(ULM_MAXP, i) + 1):
                        piece = w[i - length:i]
                        c = ik.get(piece)
                        prev = dp[i - length]
                        if c is None or prev is None:
                            continue
                        cand = (prev[0] + c,
                                piece if prev[1] == ""
                                else prev[1] + " " + piece)
                        if best is None or cand < best:
                            best = cand
                    dp[i] = best
                k, path = dp[n]
                out.append((w, int(f), int(k), path,
                            len(path.split(" "))))
            yield pd.DataFrame(
                out, columns=[x.name for x in schema.fields])

    return wf.select("w", "f").mapInPandas(gen, schema)


def em_round(wf: DataFrame, vocab: DataFrame) -> DataFrame:
    """One EM round: Viterbi E-step over the distinct words, then
    add-one-smoothed frequency-weighted count re-estimation over the
    FIXED vocabulary. Returns the new (piece, cnt) table."""
    seg = viterbi_segment(wf, piece_costs(vocab))
    raw = (seg.selectExpr("f", "explode(split(path, ' ')) AS piece")
           .groupBy("piece")
           .agg(F.expr("CAST(SUM(f) AS BIGINT)").alias("__raw")))
    return (vocab.select("piece")
            .join(raw, on="piece", how="left")
            .selectExpr("piece",
                        "CAST(1 + COALESCE(__raw, 0) AS BIGINT)"
                        " AS cnt"))


def train_unigram(docs: DataFrame):
    """Full train: returns (wf, seed, final vocab counts, final
    segmentation DataFrame) after ``ULM_ROUNDS`` EM rounds. Each stage
    is materialized by the caller as needed."""

    wf = materialize(word_freqs(docs))
    vocab = materialize(seed_vocab(wf))
    seed = vocab
    for _ in range(ULM_ROUNDS):
        vocab = materialize(em_round(wf, vocab))
    seg = viterbi_segment(wf, piece_costs(vocab))
    return wf, seed, vocab, seg
