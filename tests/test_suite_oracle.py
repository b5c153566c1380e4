"""Every REGISTRY query with an oracle must exactly match DuckDB at
sf0.01 — the local replica of the driver's correctness gate (stronger:
value equality after a canonical sort, not just a hash)."""

from __future__ import annotations

import pytest

from xsarsea_spark.suite import REGISTRY
from xsarsea_spark.testing.oracle import compare

from .conftest import SF_DIR, SF_DIR_LARGE

_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
_ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_match(spark, oracle_con, name):
    qs = REGISTRY[name]
    res = compare(qs.spark(spark, SF_DIR), qs.oracle, SF_DIR, name=name,
                  con=oracle_con)
    assert res.ok, res.detail


# Data edge cases sf0.01 does not contain: documents whose every line
# is a repeated line (doc_line_dedup's NULL digest) and trigram sums
# whose DECIMAL -> DOUBLE cast DuckDB rounds an ulp off
# (doc_char_trigram_entropy).
@pytest.mark.parametrize("name", ["doc_line_dedup",
                                  "doc_char_trigram_entropy"])
def test_oracle_match_sf0_1(spark, name):
    qs = REGISTRY[name]
    res = compare(qs.spark(spark, SF_DIR_LARGE), qs.oracle, SF_DIR_LARGE,
                  name=name)
    assert res.ok, res.detail


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, name):
    qs = REGISTRY[name]
    df = qs.spark(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 10
