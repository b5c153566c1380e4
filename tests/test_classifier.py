"""Logistic-regression quality classifier (pipeline/classifier.py).

The suite oracle (``doc_quality_classifier`` in test_suite_oracle)
pins cross-engine value-exactness of weights, predictions and
accuracy; these tests pin the training semantics themselves and the
import topology.
"""

from __future__ import annotations

import subprocess
import sys

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMALL


def test_classifier_importable_standalone():
    # regression: a top-level suite.base import made
    # `import xsarsea_spark.pipeline.classifier` (before the suite
    # package) fail with a circular-import error
    r = subprocess.run(
        [sys.executable, "-c",
         "import xsarsea_spark.pipeline.classifier as c;"
         "print(c.N_FEATURES)"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "5"


def test_train_learns_the_label_gate(spark):
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg,
                                                   z_expr)

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    xy = doc_features(docs)
    w = train_logreg(xy, rounds=8, lr=1.0)
    acc_row = (
        xy.select("y", F.expr(z_expr(w)).alias("z"))
        .agg(F.avg(F.expr(
            "CASE WHEN (z >= 0.0) = (y = 1.0)"
            " THEN 1.0 ELSE 0.0 END")).alias("acc"))
        .collect()[0]
    )
    # the label is a pure n_chars threshold and n_chars/1000 is a
    # feature, so the linear model must separate far better than the
    # majority-class baseline
    base = (
        xy.agg(F.greatest(F.avg("y"), 1 - F.avg("y")).alias("b"))
        .collect()[0]["b"]
    )
    assert acc_row["acc"] >= max(0.85, base)


def test_weights_artifact_roundtrip_bitexact(spark, tmp_path):
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   load_weights,
                                                   save_weights,
                                                   train_logreg)

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    w = train_logreg(doc_features(docs), rounds=3)
    path = str(tmp_path / "clf_weights")
    save_weights(spark, w, path)
    # parquet doubles round-trip bit-exactly: the loaded model IS
    # the trained model
    assert load_weights(spark, path) == w


def test_auc_matches_bruteforce_pairwise(spark):
    # pins the Mann-Whitney tie-midpoint reduction: the distributed
    # integer 2U formula must equal the O(n^2) definition
    #   AUC = (#(pos>neg) + 0.5*#(pos==neg)) / (n_pos*n_neg)
    from fractions import Fraction

    from xsarsea_spark.suite.pipeline_suite import (_CLF_BATCH_WHERE,
                                                    _CLF_TRAIN_WHERE,
                                                    _LOGREG_ROUNDS)
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg,
                                                   z_expr)
    from xsarsea_spark.suite import REGISTRY

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    xy = doc_features(docs)
    w = train_logreg(xy.filter(_CLF_TRAIN_WHERE),
                     rounds=_LOGREG_ROUNDS)
    rows = (xy.filter(_CLF_BATCH_WHERE)
            .select("y", F.expr(z_expr(w)).alias("z")).collect())
    pos = [r["z"] for r in rows if r["y"] == 1.0]
    neg = [r["z"] for r in rows if r["y"] == 0.0]
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    brute = Fraction(2 * wins + ties, 2 * len(pos) * len(neg))

    out = REGISTRY["doc_classifier_auc"].spark(
        spark, SF_DIR_SMALL).collect()[0]
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert Fraction(out["u2"],
                    2 * out["n_pos"] * out["n_neg"]) == brute
    assert abs(out["auc"] - float(brute)) < 1e-15


def test_grouped_train_matches_solo_per_group(spark):
    # the shared-scan fleet must produce EXACTLY the weights solo
    # training on each language slice produces — the grouped agg is
    # a pure batching of the per-group arithmetic
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg,
                                                   train_logreg_grouped)

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    xy = doc_features(docs, extra=("lang",))
    wmap = train_logreg_grouped(xy, "lang", rounds=3)
    assert len(wmap) >= 2
    for g in list(wmap)[:2]:
        solo = train_logreg(xy.filter(F.col("lang") == g), rounds=3)
        assert wmap[g] == solo, g


def test_sgd_step_replay_is_idempotent(spark, tmp_path):
    # the streaming ingest's crash window: foreachBatch wrote v{N}
    # but the checkpoint commit didn't land, so the batch replays.
    # The rebuild must read the version STRICTLY BELOW the batch id
    # (v{N-1}) even though its own v{N} now exists — replaying twice
    # yields bit-identical weights, never compounding.
    from xsarsea_spark.pipeline.classifier import (N_FEATURES,
                                                   doc_features,
                                                   gd_step,
                                                   load_weights,
                                                   save_weights)
    from xsarsea_spark.streaming.harness import version_below

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    xy0 = doc_features(docs.filter("doc_id % 3 = 0"))
    xy1 = doc_features(docs.filter("doc_id % 3 = 1"))
    save_weights(spark, gd_step(xy0, [0.0] * N_FEATURES),
                 str(tmp_path / "v0"))

    def replay_batch_1():
        prev = version_below(spark, str(tmp_path), 1)
        assert prev == str(tmp_path / "v0")
        w = load_weights(spark, prev)
        w2 = gd_step(xy1, w)
        save_weights(spark, w2, str(tmp_path / "v1"))
        return w2

    first = replay_batch_1()
    # second replay runs WITH v1 already on disk — must ignore it
    assert replay_batch_1() == first


def test_doc_features_cross_engine_adversarial(spark, tmp_path):
    # every classifier oracle hinges on split()-based feature parity
    # between Spark and DuckDB; the synthetic corpus is clean
    # single-space text, so pin the contract on adversarial inputs —
    # empty strings, empty tokens from double/leading/trailing
    # spaces, unicode, tabs inside tokens, NULL text / NULL n_chars
    import duckdb

    from xsarsea_spark.pipeline.classifier import doc_features
    from xsarsea_spark.suite.pipeline_suite import _logreg_train_ctes

    rows = [
        (1, "", "en", "s", 0),
        (2, " ", "en", "s", 1),
        (3, "a", "en", "s", 1),
        (4, "a the a", "en", "s", 7),
        (5, "the  the", "en", "s", 8),
        (6, "héllo wörld the", "fr", "s", 15),
        (7, "a ", "en", "s", 2),
        (8, " a", "en", "s", 2),
        (9, "tab\tin token the a", "en", "s", 18),
        (10, "x " * 200, "en", "s", 400),
        (11, None, "en", "s", 5),
        (12, "ok", "en", "s", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string,"
              " source string, n_chars long")
    path = str(tmp_path / "adv")
    df.repartition(1).write.parquet(path)
    got = {r["doc_id"]: (list(r["x"]), r["y"])
           for r in doc_features(spark.read.parquet(path)).collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS"
            f" SELECT * FROM '{path}/*.parquet'")
    t_cte = _logreg_train_ctes()[0][0]
    want = {r[0]: (list(r[1]), r[2]) for r in con.sql(
        "WITH " + t_cte + " SELECT doc_id, x, y FROM t").fetchall()}
    assert sorted(got) == sorted(want) == list(range(1, 11))
    assert got == want


def test_doc_features_cross_engine_random(spark, tmp_path):
    # seeded-random batch over a space/unicode/punct-heavy alphabet —
    # the statistical complement of the hand-picked adversarial cases
    import random

    import duckdb

    from xsarsea_spark.pipeline.classifier import doc_features
    from xsarsea_spark.suite.pipeline_suite import _logreg_train_ctes

    rng = random.Random(20260815)
    alphabet = "a the  x é光 ,.!?  \t-"
    rows = []
    for i in range(200):
        text = "".join(rng.choice(alphabet)
                       for _ in range(rng.randrange(0, 120)))
        rows.append((i, text, "en", "s", rng.randrange(0, 600)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string,"
              " source string, n_chars long")
    path = str(tmp_path / "rnd")
    df.repartition(1).write.parquet(path)
    got = {r["doc_id"]: (list(r["x"]), r["y"])
           for r in doc_features(spark.read.parquet(path)).collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS"
            f" SELECT * FROM '{path}/*.parquet'")
    t_cte = _logreg_train_ctes()[0][0]
    want = {r[0]: (list(r[1]), r[2]) for r in con.sql(
        "WITH " + t_cte + " SELECT doc_id, x, y FROM t").fetchall()}
    assert len(got) == len(want) == 200
    assert got == want


def test_train_is_deterministic(spark):
    from xsarsea_spark.pipeline.classifier import (doc_features,
                                                   train_logreg)

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    xy = doc_features(docs).repartition(7)
    w1 = train_logreg(xy, rounds=2)
    w2 = train_logreg(xy.repartition(3), rounds=2)
    # DECIMAL-grid gradient sums are partitioning/order independent
    assert w1 == w2
