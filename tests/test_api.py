"""Reference-shaped API facade: Model dispatch, scene reader, dsig."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from xsarsea_spark import api


def test_model_scalar_grid_elementwise():
    m = api.get_model("gmf_cmod5n")
    s = m(35.0, 10.0, 45.0)
    assert isinstance(s, float) and 0 < s < 1
    grid = m([20.0, 30.0], [5.0, 10.0, 15.0], [0.0, 90.0])
    assert grid.shape == (2, 3, 2)
    ew = m(np.full((4, 4), 30.0), np.full((4, 4), 10.0),
           np.full((4, 4), 45.0))
    assert ew.shape == (4, 4)
    # grid cell == elementwise value at the same point
    assert grid[1, 1, 1] == pytest.approx(float(m(30.0, 10.0, 90.0)))


def test_model_dataframe_verb(spark):
    m = api.get_model("gmf_rs2_v2")
    df = spark.range(5).selectExpr(
        "17e0 + id AS incidence", "5e0 + id AS wspd")
    out = m("incidence", "wspd", df=df)
    rows = out.collect()
    for r in rows:
        assert r["sigma0_gmf_rs2_v2"] == pytest.approx(
            float(m(r.incidence, r.wspd)))


def test_model_alias_resolution():
    assert api.get_model("cmod5n").name == "gmf_cmod5n"
    with pytest.raises(KeyError):
        api.get_model("nope")


def test_read_owi_scene(spark, tmp_path):
    root = pd.DataFrame({
        "owiAzSize": [0, 0, 1, 1], "owiRaSize": [0, 1, 0, 1],
        "sigma0": [0.1, 0.2, 0.3, 0.4],
        "owiCalConstObsi": [9.0] * 4,
    })
    uv = pd.DataFrame({
        "owiAzSize": [0, 0, 1, 1], "owiRaSize": [0, 1, 0, 1],
        "u10": [1.0, 2.0, 3.0, 4.0],
    })
    spark.createDataFrame(root).write.mode("overwrite").parquet(
        str(tmp_path / "root"))
    spark.createDataFrame(uv).write.mode("overwrite").parquet(
        str(tmp_path / "uv"))
    sc = api.read_sarwing_owi(spark, str(tmp_path / "root"),
                              str(tmp_path / "uv"))
    assert set(sc.columns) == {"line", "sample", "sigma0", "u10"}
    assert sc.count() == 4


def test_assign_integer_coords(spark):
    from xsarsea_spark.sources.owi import assign_integer_coords

    px = spark.createDataFrame(pd.DataFrame({
        "line": [10.5, 10.5, 20.5], "sample": [3, 9, 3],
        "v": [1.0, 2.0, 3.0]}))
    out = assign_integer_coords(px).toPandas().sort_values("v")
    assert out["line"].tolist() == [0, 0, 1]
    assert out["sample"].tolist() == [0, 1, 0]


def test_get_dsig_modes():
    sql = api.get_dsig("gmf_rs2_v2", "inc", "s", "n")
    assert "power" in sql.lower() or "/" in sql
    v = api.get_dsig("gmf_rs2_v2", np.array([30.0]), np.array([1e-3]),
                     np.array([1e-4]), mode="numpy")
    assert v[0] == pytest.approx(1.0 / np.sqrt(10.0 ** 8))


def test_scd2_collapses_and_closes(spark):
    from xsarsea_spark.operators.scd import scd2_history

    rows = [
        (1, 10, 1, "a"), (1, 20, 2, "a"), (1, 30, 3, "b"),
        (1, 40, 4, "a"), (2, 10, 5, "x"),
    ]
    df = spark.createDataFrame(
        rows, "k LONG, ts LONG, seq LONG, v STRING")
    out = {(r.k, r.valid_from): r for r in scd2_history(
        df, ["k"], "ts", ["v"], "seq").collect()}
    assert set(out) == {(1, 10), (1, 30), (1, 40), (2, 10)}
    assert out[(1, 10)].valid_to == 30      # the ts=20 repeat merged
    assert out[(1, 40)].is_current and out[(1, 40)].valid_to is None
    assert out[(2, 10)].is_current


def test_doc_totals_match_registry():
    """COVERAGE.md / README.md query totals must track len(REGISTRY)
    — they drifted twice in round 5; this pins them."""
    import re

    from xsarsea_spark.suite import REGISTRY

    n = len(REGISTRY)
    cov = open("/root/repo/COVERAGE.md").read()
    m = re.search(r"Totals: (\d+) suite queries — (\d+) exact DuckDB"
                  r" oracles, (\d+) rows-only", cov)
    assert m, "COVERAGE.md totals line missing"
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == \
        (n, n_oracle, n - n_oracle)
    readme = open("/root/repo/README.md").read()
    m2 = re.search(r"suite/\s+(\d+) registered queries", readme)
    assert m2 and int(m2.group(1)) == n
