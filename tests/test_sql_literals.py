"""Spark-side string literals built from data keep their exact value.

Spark's SQL parser reads backslash escapes inside quotes, so a literal
that only doubles ``'`` turns ``a\\b`` into ``a<backspace>``, ``\\n``
into a newline, and fails to parse a value that ends in a backslash.
Each case below is checked through ``expr.spark_str_lit`` and through
the operators that inline data values as SQL literals (BPE merge
pairs, grouped-classifier group keys, preference arm names and
data-quality allowed sets).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xsarsea_spark.expr import spark_str_lit

ADVERSARIAL = [
    "a\\b",            # backslash escape
    "tail\\",          # trailing backslash
    "it's",            # quote
    "l1\nl2",          # newline
    "é\\n中",          # non-ASCII around a backslash-n pair
]


@pytest.mark.parametrize("s", ADVERSARIAL)
def test_spark_str_lit_round_trips(spark, s):
    assert spark.sql(f"SELECT {spark_str_lit(s)} AS v").first()["v"] == s


def test_merge_expr_matches_adversarial_tokens(spark):
    from xsarsea_spark.pipeline.bpe import apply_merge_expr

    rows = [([s, "x", s, "x"],) for s in ADVERSARIAL]
    df = spark.createDataFrame(rows, "t array<string>")
    for s in ADVERSARIAL:
        got = [list(r["m"]) for r in df.select(
            F.expr(apply_merge_expr("t", s, "x")).alias("m")).collect()]
        assert [s + " x", s + " x"] in got, s


def test_grouped_train_adversarial_group_keys(spark):
    from xsarsea_spark.pipeline.classifier import (N_FEATURES,
                                                   train_logreg,
                                                   train_logreg_grouped)

    rows = [(g, [1.0] + [float((i + k) % 3)
                         for k in range(1, N_FEATURES)], float(i % 2))
            for i, g in enumerate(ADVERSARIAL * 2)]
    xy = spark.createDataFrame(rows,
                               "lang string, x array<double>, y double")
    wmap = train_logreg_grouped(xy, rounds=1)
    assert sorted(wmap) == sorted(ADVERSARIAL)
    for g in ADVERSARIAL:
        solo = train_logreg(xy.filter(F.col("lang") == g), rounds=1)
        assert wmap[g] == solo, g


def test_elo_step_adversarial_arm_names(spark):
    """Arm names are inlined into the score lookup's CASE: each arm must
    score its own rating, exactly as under plain names."""
    from xsarsea_spark.pipeline.preference import elo_step

    n = len(ADVERSARIAL)

    def run(names):
        pm = spark.createDataFrame(
            [(names[i], names[(i + 1) % n], i % 2, 1 + i)
             for i in range(n)],
            "arm_a string, arm_b string, wins_a bigint, n_matches bigint")
        out = elo_step(pm, {a: 1400.0 + 37.5 * i
                            for i, a in enumerate(names)})
        return [out[a] for a in names]

    assert run(ADVERSARIAL) == run([f"arm{i}" for i in range(n)])


def test_dq_in_set_adversarial_values(spark):
    from xsarsea_spark.operators.quality import dq_report

    df = spark.createDataFrame([(s,) for s in ADVERSARIAL + ["other"]],
                               "v string")
    rep = dq_report(df, in_set={"v": ADVERSARIAL}).collect()
    assert [(r["rule"], r["n_violations"]) for r in rep] == [
        ("in_set:v", 1)]
