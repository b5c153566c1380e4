"""GMF probe/decorator, timing, batch LUT export."""

from __future__ import annotations

import numpy as np
import pytest

from xsarsea_spark.functions.gmfs import GMF_REGISTRY
from xsarsea_spark.functions.probe import probe_gmf, register_gmf
from xsarsea_spark.utils import timing


def test_probe_copol_and_crosspol():
    p = probe_gmf("gmf_cmod5n")
    assert p["needs_phi"] and p["phi_period"] == 360 and p["units_ok"]
    p = probe_gmf("gmf_rs2_v2")
    assert not p["needs_phi"] and p["units_ok"]


def test_register_gmf_probe_rejects_constant_phi():
    from xsarsea_spark.expr import lit

    with pytest.raises(ValueError):
        @register_gmf("gmf_bad_phi", pol="VV")
        def _bad(inc, wspd, phi):          # ignores phi
            return lit(1e-3) + inc * 0.0 + wspd * 0.0
    assert "gmf_bad_phi" not in GMF_REGISTRY


def test_register_gmf_accepts_valid_and_is_usable():
    from xsarsea_spark.expr import power

    @register_gmf("gmf_test_powerlaw", pol="VH", needs_phi=False,
                  wspd_range=(3.0, 80.0))
    def _ok(inc, wspd):
        return 1e-4 * power(wspd, 1.5) / (1.0 + inc / 100.0)

    try:
        from xsarsea_spark.functions.gmfs import gmf_numpy

        v = gmf_numpy("gmf_test_powerlaw", np.array([30.0]),
                      np.array([10.0]))
        assert v[0] == pytest.approx(1e-4 * 10 ** 1.5 / 1.3)
    finally:
        del GMF_REGISTRY["gmf_test_powerlaw"]


def test_timing_logs(caplog):
    import logging

    rec = []

    @timing(logger_fn=rec.append)
    def f(x):
        return x + 1

    assert f(1) == 2
    assert len(rec) == 1 and "timing" in rec[0]


def test_export_all_luts(spark, tmp_path):
    from xsarsea_spark.cli import export_all_luts
    from xsarsea_spark.sources.luts import read_lut_parquet

    written = export_all_luts(spark, str(tmp_path),
                              models=["gmf_dummy", "gmf_rs2_v2"])
    assert set(written) == {"gmf_dummy", "gmf_rs2_v2"}
    df, meta = read_lut_parquet(spark, str(tmp_path / "lut_gmf_dummy"))
    assert df.count() == meta["cells"]
    assert "sigma0_model" in df.columns
