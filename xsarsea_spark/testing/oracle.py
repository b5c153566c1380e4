"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a QuerySpec's Spark path and its oracle SQL side by side and
compares row count, schema (column names) and values after sorting
columns by name and rows by all columns — a strictly stronger check
than the driver's order-insensitive value hash.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

from xsarsea_spark.sources.tables import TABLES

__all__ = ["compare", "compare_frames", "oracle_connection",
           "CompareResult"]


def oracle_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str

    def __bool__(self):
        return self.ok


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) else s
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype(np.int64)
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def compare(spark_df, oracle_sql: str, sf_dir: str, name: str = "query",
            con=None) -> CompareResult:
    own_con = con is None
    if own_con:
        con = oracle_connection(sf_dir)
    try:
        got = spark_df.toPandas()
        want = con.execute(oracle_sql).df()
    finally:
        if own_con:
            con.close()
    return compare_frames(got, want, name)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame,
                   name: str = "query") -> CompareResult:
    """The strict check of :func:`compare` on two collected frames."""
    if sorted(got.columns) != sorted(want.columns):
        return CompareResult(
            name, False,
            f"schema mismatch: spark={sorted(got.columns)} "
            f"oracle={sorted(want.columns)}",
        )
    # The driver's value hash is dtype-sensitive (286 int vs 286.0
    # float hash differently), so an int column on one side and a
    # float column on the other (DuckDB HUGEINT sums land as float64
    # in pandas) is a FAIL even when values compare equal. Flag it
    # here rather than coercing it away.
    for c in got.columns:
        gk = ("f" if pd.api.types.is_float_dtype(got[c])
              else "i" if pd.api.types.is_integer_dtype(got[c]) else "")
        wk = ("f" if pd.api.types.is_float_dtype(want[c])
              else "i" if pd.api.types.is_integer_dtype(want[c]) else "")
        if gk != wk:
            return CompareResult(
                name, False,
                f"column {c}: numeric-kind mismatch "
                f"spark={got[c].dtype} oracle={want[c].dtype} "
                "(driver value-hash would differ; CAST both sides)",
            )
        if gk == "f" and got[c].dtype.itemsize != want[c].dtype.itemsize:
            return CompareResult(
                name, False,
                f"column {c}: float width mismatch "
                f"spark={got[c].dtype} oracle={want[c].dtype} "
                "(float32 values stringify differently; cast to double)",
            )
    if len(got) != len(want):
        return CompareResult(
            name, False, f"rowcount mismatch: spark={len(got)} oracle={len(want)}"
        )
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f":
            both_nan = np.isnan(gv) & np.isnan(wv)
            eq = (gv == wv) | both_nan
            if not eq.all():
                bad = int((~eq).sum())
                i = int(np.argmax(~eq))
                return CompareResult(
                    name, False,
                    f"column {c}: {bad}/{len(gv)} values differ "
                    f"(first: spark={gv[i]!r} oracle={wv[i]!r}, "
                    f"absdiff={abs(gv[i]-wv[i]):.3e})",
                )
        else:
            eq = gv == wv
            if not np.asarray(eq).all():
                bad = int((~np.asarray(eq)).sum())
                i = int(np.argmax(~np.asarray(eq)))
                return CompareResult(
                    name, False,
                    f"column {c}: {bad}/{len(gv)} values differ "
                    f"(first: spark={gv[i]!r} oracle={wv[i]!r})",
                )
    return CompareResult(name, True, f"{len(g)} rows x {len(g.columns)} cols match")
