"""Suffix-array contract guards."""
from __future__ import annotations

import pytest


def test_rounds_too_small_for_corpus_raises(spark):
    """2^rounds < max tokens per doc leaves final ranks unrefined —
    the SA adjacency could miss the true max-LCP pair — so the
    contract raises instead of silently underreporting."""
    from xsarsea_spark.pipeline.suffix import suffix_rank_tables

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20))), (2, "a b c")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="rounds=3"):
        suffix_rank_tables(docs, rounds=3)
    # 2^5 = 32 >= 20: fine
    tables = suffix_rank_tables(docs, rounds=5)
    assert len(tables) == 6


def test_longest_dup_span_finds_planted_repeat(spark):
    """A 6-token span planted in two docs is reported verbatim for
    both, and a doc with no repeated token reports (0, '')."""
    from xsarsea_spark.pipeline.suffix import longest_dup_span

    span = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [(1, f"alpha {span} beta gamma"),
         (2, f"delta epsilon {span} zeta"),
         (3, "unique tokens only here now")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["longest_dup_tokens"], r["dup_text"])
           for r in longest_dup_span(docs, rounds=4).collect()}
    assert got[1] == (6, span)
    assert got[2] == (6, span)
    assert got[3] == (0, "")


def _brute_cross_lcp(corpus: dict[int, list[str]]) -> dict:
    """Exact per-position cross-doc LCP by brute force."""
    out = {}
    for d, toks in corpus.items():
        for p in range(len(toks)):
            best = 0
            for e, other in corpus.items():
                if e == d:
                    continue
                for q in range(len(other)):
                    ln = 0
                    while (p + ln < len(toks) and q + ln < len(other)
                           and toks[p + ln] == other[q + ln]):
                        ln += 1
                    best = max(best, ln)
            out[(d, p + 1)] = best
    return out


def test_cross_doc_lcp_matches_brute_force(spark):
    """Per-position exact cross-document LCP == brute force over all
    (position, foreign position) pairs — including positions the SA
    adjacency alone would score 0 (no foreign neighbor), which is
    exactly what the block range-min upgrade buys."""
    from xsarsea_spark.pipeline.suffix import (adjacent_lcp,
                                               cross_doc_lcp,
                                               sa_adjacent_pairs,
                                               suffix_rank_tables)
    from pyspark.sql import functions as F

    texts = {
        1: "x x q w e r t y x x",
        2: "a b q w e r z a b",
        3: "m n o p q w m n",
        4: "zz yy xx ww vv",          # shares nothing
        5: "x x q w e r t y x x",     # full duplicate of doc 1
        # five 'k1 k2 *' suffixes + ONE foreign 'k1 k2' suffix: the
        # SA block has a same-doc run of >= 3, whose middle entries
        # sit in no cross-doc adjacent pair — adjacency scores them
        # 0, the range-min scores them 2
        6: "k1 k2 a1 k1 k2 b1 k1 k2 c1 k1 k2 d1 k1 k2 e1",
        7: "k1 k2 z9",
    }
    corpus = {d: t.split(" ") for d, t in texts.items()}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string")
    got = {(r["doc_id"], r["pos"]): r["cross_lcp"]
           for r in cross_doc_lcp(docs, rounds=4).collect()}
    want = _brute_cross_lcp(corpus)
    assert got == want

    # and the adjacency-only score is a (sometimes strict) lower
    # bound per position: the upgrade must dominate it somewhere
    lens = docs.selectExpr("doc_id",
                           "size(split(text, ' ')) AS __len")
    tables = suffix_rank_tables(docs, 4)
    lcps = (adjacent_lcp(sa_adjacent_pairs(tables[-1]), tables, lens)
            .filter("da != db").collect())
    adj = {k: 0 for k in want}
    for r in lcps:
        adj[(r["da"], r["pa"])] = max(adj[(r["da"], r["pa"])], r["lcp"])
        adj[(r["db"], r["pb"])] = max(adj[(r["db"], r["pb"])], r["lcp"])
    assert all(adj[k] <= want[k] for k in want)
    assert any(adj[k] < want[k] for k in want), \
        "corpus should exercise positions adjacency alone misses"


def test_ladder_cache_reuse_and_invalidation(spark, monkeypatch,
                                             tmp_path):
    """The content-keyed persisted ladder cache builds once per
    (corpus, rounds), returns the same tables on a hit, and a corpus
    change moves the key (rebuild) — with values identical to the
    uncached build."""
    import xsarsea_spark.pipeline.suffix as sfx

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x y a b c"), (4, "p q r")],
        "doc_id long, text string")
    calls = {"n": 0}
    real = sfx.suffix_rank_tables

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(sfx, "suffix_rank_tables", counting)
    spark.conf.set("spark.xsarsea.scratch.dir", str(tmp_path))
    try:
        t1 = sfx.suffix_rank_tables_cached(docs, 4)
        assert calls["n"] == 1
        t2 = sfx.suffix_rank_tables_cached(docs, 4)
        assert calls["n"] == 1, "second call must hit the cache"
        # different rounds -> different key -> rebuild
        sfx.suffix_rank_tables_cached(docs, 5)
        assert calls["n"] == 2
        # corpus change -> different fingerprint -> rebuild
        docs2 = docs.union(spark.createDataFrame(
            [(5, "a b")], "doc_id long, text string"))
        sfx.suffix_rank_tables_cached(docs2, 4)
        assert calls["n"] == 3
        # hit values == uncached build values, every table
        base = real(docs, 4)
        for got, want in zip(t2, base):
            assert sorted(map(tuple, got.collect())) \
                == sorted(map(tuple, want.collect()))
        assert len(t1) == len(t2) == 5
    finally:
        spark.conf.unset("spark.xsarsea.scratch.dir")


def test_sa_gram_counts_rejects_oversized_gram(spark):
    """A query gram longer than max_n has no ladder level — the old
    behavior silently joined it away (callers' COALESCE then
    reported a wrong 0); the contract now raises via the guard on
    the probe-key projection."""
    from xsarsea_spark.pipeline.ngram_index import sa_gram_counts
    from xsarsea_spark.pipeline.suffix import suffix_probe_index_cached

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "b c a b x")],
        "doc_id long, text string")
    tables, pairs = suffix_probe_index_cached(docs, 3)
    good = spark.createDataFrame(
        [("g1", ["a", "b"]), ("g2", ["b", "c", "a"])],
        "gid string, toks array<string>")
    got = {r["gid"]: r["cnt"]
           for r in sa_gram_counts(good, tables, pairs, 4).collect()}
    assert got == {"g1": 4, "g2": 3}
    bad = spark.createDataFrame(
        [("g3", ["a", "b", "c", "a", "b"])],
        "gid string, toks array<string>")
    with pytest.raises(Exception, match="exceeds max_n=4"):
        sa_gram_counts(bad, tables, pairs, 4).collect()


def test_sa_continuation_matches_brute_force(spark):
    """Next-token distribution from the SA probe equals the direct
    enumeration: occurrences extended by one token, doc-end
    occurrences contributing nothing."""
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.ngram_index import sa_continuation
    from xsarsea_spark.pipeline.suffix import suffix_probe_index_cached
    from xsarsea_spark.pipeline.text import HASH40_SQL

    rows = [(1, "a b c a b d a b"), (2, "b c a b c x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tables, pairs = suffix_probe_index_cached(docs, 3)
    grams = spark.createDataFrame(
        [("q1", ["a", "b"]), ("q2", ["b", "c"]), ("q3", ["x"]),
         ("zz", ["nope"])],
        "gid string, toks array<string>")
    vocab = (docs.selectExpr("explode(split(text, ' ')) AS w")
             .distinct()
             .selectExpr("w", HASH40_SQL.format(x="w") + " AS r"))
    got = {r["gid"]: (r["cont_total"], r["cont_distinct"],
                      r["top_cont"], r["top_cont_cnt"])
           for r in sa_continuation(grams, tables, pairs, 2,
                                    vocab).collect()}
    # brute force
    import collections
    want = {}
    for gid, toks in [("q1", ["a", "b"]), ("q2", ["b", "c"]),
                      ("q3", ["x"]), ("zz", ["nope"])]:
        dist = collections.Counter()
        for _, text in rows:
            l = text.split(" ")
            k = len(toks)
            for i in range(len(l) - k + 1):
                if l[i:i + k] == toks and i + k < len(l):
                    dist[l[i + k]] += 1
        if dist:
            top = min((-c, w) for w, c in dist.items())
            want[gid] = (sum(dist.values()), len(dist),
                         top[1], -top[0])
    assert got == want
    # doc-end-only occurrence ('x' ends doc 2) and absent gram both
    # produce no row
    assert "q3" not in got and "zz" not in got


def test_publish_cache_dir_swaps_stale_and_tolerates_winner(tmp_path):
    """The TOCTOU-safe publish: a marker-less stale root is swapped
    aside atomically (never rmtree'd in place); a complete
    concurrent artifact wins and the staged copy is discarded."""
    import os

    from xsarsea_spark.pipeline.suffix import _publish_cache_dir

    # stale marker-less root blocks the rename -> swapped aside
    root = tmp_path / "root"
    root.mkdir()
    (root / "junk").write_text("stale")
    tmp = tmp_path / "stage1"
    tmp.mkdir()
    (tmp / "_SFX_DONE").write_text("ok\n")
    (tmp / "data").write_text("v1")
    _publish_cache_dir(str(tmp), str(root), str(root / "_SFX_DONE"))
    assert (root / "_SFX_DONE").exists()
    assert (root / "data").read_text() == "v1"
    assert not (root / "junk").exists()
    assert not tmp.exists()
    # a complete artifact already in place: staged copy discarded,
    # winner untouched
    tmp2 = tmp_path / "stage2"
    tmp2.mkdir()
    (tmp2 / "_SFX_DONE").write_text("ok\n")
    (tmp2 / "data").write_text("v2")
    _publish_cache_dir(str(tmp2), str(root), str(root / "_SFX_DONE"))
    assert (root / "data").read_text() == "v1"
    assert not tmp2.exists()
