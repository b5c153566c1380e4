"""BPE merge training: greedy-run semantics + an independent Python
reference implementation over the real corpus."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from .conftest import SF_DIR_SMALL


def _ref_bpe(texts: list[str], n_merges: int):
    """Straightforward word-level BPE with greedy-leftmost merge
    application and (count DESC, lhs, rhs) tie-break."""
    docs = [t.split(" ") for t in texts if t is not None and t]
    merges = []
    for rank in range(n_merges):
        counts: Counter = Counter()
        for d in docs:
            for x, y in zip(d, d[1:]):
                counts[(x, y)] += 1
        if not counts:
            break
        (a, b), n = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b, n))
        nxt = []
        for d in docs:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(d[i] + " " + d[i + 1])
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            nxt.append(out)
        docs = nxt
    return merges


def test_matches_python_reference(spark):
    from xsarsea_spark.pipeline.bpe import bpe_train

    con = duckdb.connect()
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM '{SF_DIR_SMALL}/documents.parquet'"
    ).fetchall()]
    con.close()
    want = _ref_bpe(texts, 5)
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    got = [tuple(r) for r in sorted(
        bpe_train(docs, n_merges=5).collect(),
        key=lambda r: r["merge_rank"])]
    assert got == want


@pytest.mark.parametrize("text,expected", [
    ("a a a a a", ["a a", "a a", "a"]),        # odd run: greedy pairs
    ("a a a a", ["a a", "a a"]),               # even run
    ("x a a y a a", ["x", "a a", "y", "a a"]),  # separated runs
    ("a b a b", ["a b", "a b"]),               # non-run merge
    ("b a a b", ["b", "a a", "b"]),
    ("q", ["q"]),                              # no pairs
])
def test_greedy_run_semantics(spark, text, expected):
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.bpe import apply_merge_expr

    pair = ("a", "a") if "a a" in " ".join(expected) or "a a" in text \
        else ("a", "b")
    # derive the pair from the expected output's merged token
    merged = next((t for t in expected if " " in t), None)
    if merged:
        pair = tuple(merged.split(" "))
    df = spark.createDataFrame([(text,)], "text string") \
        .selectExpr("split(text, ' ') AS __t")
    out = df.select(F.expr(
        apply_merge_expr("__t", *pair)).alias("m")).collect()[0]["m"]
    assert list(out) == expected


def _ref_encode(texts: list[str], n_merges: int):
    """Python-reference encode: final doc token lists after applying
    all learned merges (reuses _ref_bpe's loop semantics)."""
    docs = [t.split(" ") for t in texts if t is not None and t]
    merges = _ref_bpe(texts, n_merges)
    for _, a, b, _n in merges:
        nxt = []
        for d in docs:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(d[i] + " " + d[i + 1])
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            nxt.append(out)
        docs = nxt
    return docs


def test_encode_matches_python_reference(spark):
    import hashlib

    from xsarsea_spark.pipeline.bpe import bpe_encode

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{SF_DIR_SMALL}/documents.parquet'"
        " ORDER BY doc_id").fetchall()
    con.close()
    texts = [t for _, t in rows]
    want_docs = _ref_encode(texts, 4)
    want = {}
    for (doc_id, t), enc in zip(rows, want_docs):
        raw = len(t.split(" "))
        digest = hashlib.md5("\x1f".join(enc).encode()).hexdigest()
        want[doc_id] = (raw, len(enc), digest)
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    got = {r["doc_id"]: (r["n_tokens_raw"], r["n_tokens_encoded"],
                         r["encoded_md5"])
           for r in bpe_encode(docs, n_merges=4).collect()}
    assert got == want
    # word conservation: every merge only fuses adjacency, so the
    # recovered raw count always equals the original token count
    assert all(got[d][0] == len(t.split(" ")) for d, t in rows)


def test_encode_pairless_corpus_matches_oracle(spark, tmp_path):
    """Drift guard: a corpus where NO round finds any pair (every doc
    is a single token) must leave documents unchanged in BOTH engines
    — the oracle's LEFT JOIN ON TRUE mirrors the Spark loop's break,
    where a cross join against the empty top-1 would wipe all rows."""
    from xsarsea_spark.suite import REGISTRY
    from xsarsea_spark.testing.oracle import compare

    import pandas as pd

    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha", "beta", "gamma"],
        "lang": ["en"] * 3, "source": ["s"] * 3,
        "n_chars": [5, 4, 5],
    }).to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'")
    q = REGISTRY["doc_bpe_encode"]
    res = compare(q.spark(spark, str(tmp_path)), q.oracle,
                  str(tmp_path), name="bpe_encode_pairless", con=con)
    con.close()
    assert res.ok, res.detail


# ----------------------------------------------------------------------
# GPT-2-style byte-level BPE: pure-Python reference (hand-rolled
# scanner emulating the shared Java/RE2 pattern's leftmost-first
# alternation, hex-pair byte symbols, same merge loop) vs the Spark
# implementation, on adversarial unicode.
# ----------------------------------------------------------------------


def _ref_pretokenize(text: str) -> list[str]:
    """Scanner twin of bpe.GPT2_PRETOKEN_PAT (no \\x0b in inputs —
    the one char where Java and RE2 \\s disagree)."""
    import unicodedata

    sp = "\t\n\f\r "

    def is_l(c):
        return unicodedata.category(c).startswith("L")

    def is_n(c):
        return unicodedata.category(c).startswith("N")

    def is_s(c):
        return c in sp

    def is_o(c):
        return not (is_s(c) or is_l(c) or is_n(c))

    out, i, n = [], 0, len(text)
    while i < n:
        hit = next((c for c in ("'s", "'t", "'re", "'ve", "'m",
                                "'ll", "'d")
                    if text.startswith(c, i)), None)
        if hit:
            out.append(hit)
            i += len(hit)
            continue
        matched = False
        for pred in (is_l, is_n, is_o):
            j = i
            if text[i] == " " and i + 1 < n and pred(text[i + 1]):
                j = i + 1
            if j < n and pred(text[j]):
                k = j + 1
                while k < n and pred(text[k]):
                    k += 1
                out.append(text[i:k])
                i = k
                matched = True
                break
        if matched:
            continue
        k = i
        while k < n and is_s(text[k]):
            k += 1
        out.append(text[i:k])
        i = k
    return out


def _ref_bytelevel(texts: list[str], n_merges: int) -> list[list[list[str]]]:
    """Per doc: list of pre-tokens, each a list of merged symbols."""
    def syms(tok):
        h = tok.encode("utf-8").hex().upper()
        return [h[2 * i:2 * i + 2] for i in range(len(h) // 2)]

    docs = [[syms(t) for t in _ref_pretokenize(x)] for x in texts]
    for _ in range(n_merges):
        counts: Counter = Counter()
        for doc in docs:
            for d in doc:
                for x, y in zip(d, d[1:]):
                    counts[(x, y)] += 1
        if not counts:
            break
        (a, b), _n = min(counts.items(),
                         key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        for doc in docs:
            for idx, d in enumerate(doc):
                out, i = [], 0
                while i < len(d):
                    if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                        out.append(d[i] + " " + d[i + 1])
                        i += 2
                    else:
                        out.append(d[i])
                        i += 1
                doc[idx] = out
    return docs


_ADVERSARIAL = [
    "Hello's wörld 123!",
    "naïve café — résumé's tëst 4⁵?",
    "中文分词 没有空格也要正确",
    "emoji 🎉🎉🎉 and 👩 zwj ‍ seq",
    "combining éé marks",
    "I'll we've they're can't it's o'clock",
    "a  b\tc\nd   e",
    "abc123def 12.5% x2",
    "!!!",
    " leading and trailing ",
    "Ωμέγα ΣΙΓΜΑ ß ẞ",
]


def test_bytelevel_matches_python_reference(spark):
    import hashlib

    from xsarsea_spark.pipeline.bpe import bpe_bytelevel_encode

    want_docs = _ref_bytelevel(_ADVERSARIAL, 5)
    want = {}
    for i, doc in enumerate(want_docs):
        n_pt = len(doc)
        n_bytes = sum(len(s.split(" ")) for d in doc for s in d)
        n_enc = sum(len(d) for d in doc)
        digest = hashlib.md5("\x1e".join(
            "\x1f".join(d) for d in doc).encode()).hexdigest()
        want[i] = (n_pt, n_bytes, n_enc, digest)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_ADVERSARIAL)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_pretokens"], r["n_bytes"],
                         r["n_tokens_encoded"], r["encoded_md5"])
           for r in bpe_bytelevel_encode(df, n_merges=5).collect()}
    assert got == want
    # byte fallback: the byte count IS the UTF-8 length — nothing is
    # ever out-of-vocabulary
    for i, t in enumerate(_ADVERSARIAL):
        assert got[i][1] == len(t.encode("utf-8"))


def test_bytelevel_pretokens_match_scanner(spark):
    """The shared Java-regex pattern must pre-tokenize exactly like
    the reference scanner (count + reassembled text per doc)."""
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.bpe import GPT2_PRETOKEN_PAT

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_ADVERSARIAL)],
        "doc_id long, text string")
    rows = df.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"),
                             F.lit(GPT2_PRETOKEN_PAT),
                             F.lit(0)).alias("pts")).collect()
    for r in rows:
        want = _ref_pretokenize(_ADVERSARIAL[r["doc_id"]])
        assert list(r["pts"]) == want
        # pre-tokenization is a partition of the text: lossless
        assert "".join(r["pts"]) == _ADVERSARIAL[r["doc_id"]]


def test_bytelevel_pretokens_fuzz(spark):
    """Hypothesis fuzz of the Java-regex vs scanner parity over a
    Unicode-version-stable alphabet (JVM and CPython may ship
    different Unicode tables, so exotic/unassigned code points are
    excluded by construction — as is \\x0b, the one ASCII char where
    Java and RE2 \\s disagree)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.bpe import GPT2_PRETOKEN_PAT

    alphabet = (
        "abcXYZ019 '\t\n.,!?-_#@"          # ASCII incl. contractions
        "äöüßéñÅ中文日本語카ы"                # stable BMP letters
        "²½٣"                               # No / Nd beyond ASCII
        "́‍🎉"                    # combining, ZWJ, emoji
    )

    @settings(max_examples=40, deadline=None)
    @given(st.text(alphabet=alphabet, min_size=0, max_size=60))
    def check(text):
        got = (spark.range(1)
               .select(F.regexp_extract_all(
                   F.lit(text), F.lit(GPT2_PRETOKEN_PAT), F.lit(0))
                   .alias("p"))
               .collect()[0]["p"])
        assert list(got) == _ref_pretokenize(text)
        assert "".join(got) == text

    check()
