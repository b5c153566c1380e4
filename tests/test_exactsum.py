"""exact_sum_agg must be bit-identical to the DSUM/DAVG DECIMAL path
(the representation every DuckDB oracle uses) — including negatives,
NaN guarding, and sum+avg sharing one accumulator slot; the NumPy grid
twin must round exactly like both engines' ``ROUND(x * 1e{s})``; the
NumPy vector-fold twins must equal Spark's ``aggregate(zip_with(...))``
folds bit for bit; and the exact-arithmetic module must load without
the query suite."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from xsarsea_spark.operators.exactsum import (DAVG, DSUM, ExactSumSpec,
                                              exact_sum_agg, grid,
                                              seq_dot, seq_norm,
                                              seq_sqdist, split_qr)

from .conftest import SF_DIR


def _ref(df, keys, exprs_sum, exprs_avg):
    aggs = [F.expr(DSUM(e)).alias(f"s{i}")
            for i, e in enumerate(exprs_sum)]
    aggs += [F.expr(DAVG(e)).alias(f"m{i}")
             for i, e in enumerate(exprs_avg)]
    return df.groupBy(*keys).agg(*aggs)


def test_exactsum_matches_dsum_lineitem(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exprs = ["l_quantity", "l_extendedprice * (1e0 - l_discount)"]
    got = exact_sum_agg(
        li, ["l_returnflag"],
        [ExactSumSpec("s0", exprs[0]), ExactSumSpec("s1", exprs[1]),
         ExactSumSpec("m0", exprs[0], avg=True)],
    ).toPandas().set_index("l_returnflag").sort_index()
    want = _ref(li, ["l_returnflag"], exprs, [exprs[0]]) \
        .toPandas().set_index("l_returnflag").sort_index()
    assert (got["s0"] == want["s0"]).all()
    assert (got["s1"] == want["s1"]).all()
    assert (got["m0"] == want["m0"]).all()


def test_exactsum_negative_and_nan(spark):
    # signed values exercise the floor-split on negatives; injected
    # NaNs exercise the guard (skipped, like DSUM)
    df = spark.range(10000).select(
        (F.col("id") % 7).alias("k"),
        F.expr("CASE WHEN id % 97 = 0 THEN double('NaN') "
               "ELSE (id - 5000) * 0.000123 END").alias("x"),
    )
    got = exact_sum_agg(
        df, ["k"], [ExactSumSpec("s", "x"),
                    ExactSumSpec("m", "x", avg=True)]
    ).toPandas().set_index("k").sort_index()
    want = df.groupBy("k").agg(
        F.expr(DSUM("x")).alias("s"), F.expr(DAVG("x")).alias("m")
    ).toPandas().set_index("k").sort_index()
    assert (got["s"] == want["s"]).all()
    assert (got["m"] == want["m"]).all()


def test_exactsum_all_nan_group_is_null(spark):
    df = spark.range(4).select(
        F.lit(1).alias("k"), F.expr("double('NaN')").alias("x"))
    out = exact_sum_agg(df, ["k"], [ExactSumSpec("s", "x")]).collect()
    assert out[0]["s"] is None


def test_engine_modules_load_without_the_suite():
    # the helpers used to live in suite.base, so importing the public
    # API (or a single operator) registered all 305 suite queries
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for mod in ("xsarsea_spark.api", "xsarsea_spark.operators.detrend"):
        r = subprocess.run(
            [sys.executable, "-c",
             f"import sys, {mod};"
             "print(sorted(m for m in sys.modules"
             " if m.startswith('xsarsea_spark.suite')))"],
            capture_output=True, text=True, cwd=root)
        assert r.returncode == 0, r.stderr
        assert r.stdout.strip() == "[]", (mod, r.stdout)


def _half_points(scale: int) -> np.ndarray:
    """(k + 0.5) / 10^s, its +-1-ulp neighbours, the negatives of all
    of them, and zero — the inputs where a rounding convention shows."""
    rng = np.random.default_rng(scale)
    k = np.concatenate([np.arange(64),
                        rng.integers(0, 10 ** 6, 1500)]).astype(np.float64)
    x = (k + 0.5) / 10.0 ** scale
    x = np.concatenate([x, np.nextafter(x, np.inf),
                        np.nextafter(x, -np.inf)])
    return np.concatenate([x, -x, [0.0, -0.0]])


def test_grid_twin_matches_spark_and_duckdb_round(spark):
    for scale in (6, 9):
        xs = _half_points(scale)
        pdf = pd.DataFrame({"i": np.arange(len(xs)), "x": xs})
        sql = f"CAST(ROUND(x * 1e{scale}) AS BIGINT)"
        got_spark = (
            spark.createDataFrame(pdf)
            .select("i", F.expr(sql).alias("v"))
            .toPandas().sort_values("i")["v"].to_numpy())
        con = duckdb.connect()
        try:
            got_duck = con.execute(
                f"SELECT {sql} AS v FROM pdf ORDER BY i").df()["v"]
        finally:
            con.close()
        twin = grid(xs, scale)
        assert twin.dtype == np.int64
        assert (twin == got_spark).all(), scale
        assert (twin == got_duck.to_numpy()).all(), scale
        # the q/r split recombines to the quanta, r in [0, 2^20)
        q, r = split_qr(twin)
        assert ((r >= 0) & (r < 1 << 20)).all()
        assert (q * (1 << 20) + r == twin).all()


def fold_inputs(n: int, d: int, seed: int) -> np.ndarray:
    """Rows whose fold sums depend on the add order: magnitudes spread
    over 1e-6 .. 1e6 with random signs, then, every fourth row, the
    previous row with every other sign flipped (a dot product of the
    two cancels down to rounding residue)."""
    rng = np.random.default_rng(seed)
    x = (rng.choice([-1.0, 1.0], (n, d))
         * 10.0 ** rng.uniform(-6, 6, (n, d)))
    flip = np.where(np.arange(d) % 2 == 0, 1.0, -1.0)
    x[3::4] = x[2::4] * flip
    return x


def test_vector_fold_twins_match_spark_fold(spark):
    a = fold_inputs(48, 24, 11)
    b = np.concatenate([a[:6] * (1 + 2.0 ** -40), a[2:8] * -1.0,
                        fold_inputs(6, 24, 12)])
    folds = {
        "dot": ("x * y", seq_dot(a, b)),
        "sqdist": ("(x - y) * (x - y)", seq_sqdist(a, b)),
    }
    left = spark.createDataFrame(
        [(i, a[i].tolist()) for i in range(len(a))], "i int, a array<double>")
    right = spark.createDataFrame(
        [(j, b[j].tolist()) for j in range(len(b))], "j int, b array<double>")
    pairs = left.crossJoin(right)
    for name, (term, twin) in folds.items():
        got = np.zeros_like(twin)
        for r in pairs.selectExpr(
                "i", "j", f"aggregate(zip_with(a, b, (x, y) -> {term}),"
                " 0d, (s, t) -> s + t) AS v").collect():
            got[r["i"], r["j"]] = r["v"]
        assert (twin == got).all(), name
        # the inputs tell fold orders apart: a right-to-left fold differs
        rev = (seq_dot if name == "dot" else seq_sqdist)(
            a[:, ::-1], b[:, ::-1])
        assert (rev != twin).any(), name
    norms = np.array([r["v"] for r in left.orderBy("i").selectExpr(
        "sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), 0d,"
        " (s, t) -> s + t)) AS v").collect()])
    assert (seq_norm(a) == norms).all()
