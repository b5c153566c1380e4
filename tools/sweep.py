"""Whole-registry result manifest: for every registry query (or the
named ones) at one scale factor, the row count, an md5 of the
canonically sorted rows, the wall seconds and, with ``--oracle``, the
strict DuckDB oracle compare. Two manifests from two checkouts show
whether a change kept every result value-identical. Usage:

    python tools/sweep.py --sf DIR --out manifest.json [--oracle] [q ...]
    python tools/sweep.py --diff a.json b.json

The manifest is rewritten after every query, so a cut run keeps what
it measured. ``doc_pack_bfd`` and ``doc_pack_bfd_masks`` (each about
170 s at sf0.1) run last.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bench import release  # noqa: E402

LAST = ("doc_pack_bfd", "doc_pack_bfd_masks")


def digest(pdf) -> str:
    """md5 of the rows after the oracle compare's canonical sort."""
    from xsarsea_spark.testing.oracle import _normalize

    body = _normalize(pdf).to_csv(index=False)
    return hashlib.md5(body.encode("utf-8")).hexdigest()


def sweep(spark, sf_dir: str, names: list[str], out: str,
          oracle: bool) -> dict:
    from xsarsea_spark.suite import REGISTRY
    from xsarsea_spark.testing.oracle import (compare_frames,
                                              oracle_connection)

    names = ([n for n in names if n not in LAST]
             + [n for n in LAST if n in names])
    con = oracle_connection(sf_dir) if oracle else None
    manifest = {"sf_dir": sf_dir,
                "cpus": spark.sparkContext.defaultParallelism,
                "queries": {}}
    for name in names:
        spark.sparkContext.setJobGroup(f"sweep-{name}", name)
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            got = REGISTRY[name].spark(spark, sf_dir).toPandas()
            rec["wall_s"] = round(time.perf_counter() - t0, 3)
            rec["rows"] = len(got)
            rec["md5"] = digest(got)
            sql = REGISTRY[name].oracle
            if con is not None and sql is not None:
                res = compare_frames(got, con.execute(sql).df(), name)
                rec["oracle"] = {"ok": res.ok, "detail": res.detail}
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        release(spark)
        manifest["queries"][name] = rec
        print(f"sweep: {name} {rec}", file=sys.stderr, flush=True)
        with open(out, "w") as fh:
            json.dump(manifest, fh, indent=1)
    if con is not None:
        con.close()
    return manifest


def diff(a: str, b: str) -> int:
    """Print the queries whose rows or md5 differ; return their count."""
    qa = json.load(open(a))["queries"]
    qb = json.load(open(b))["queries"]
    bad = 0
    for name in sorted(set(qa) | set(qb)):
        ra, rb = qa.get(name, {}), qb.get(name, {})
        keys = ("rows", "md5", "error")
        if any(ra.get(k) != rb.get(k) for k in keys) or not ra or not rb:
            bad += 1
            print(f"{name}: {[ra.get(k) for k in keys]} != "
                  f"{[rb.get(k) for k in keys]}")
    print(f"{len(set(qa) | set(qb))} queries, {bad} differ")
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", help="scale-factor directory (required)")
    ap.add_argument("--out", default="sweep.json")
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        sys.exit(1 if diff(*args.diff) else 0)
    if not args.sf:
        ap.error("--sf is required")

    from xsarsea_spark.session import get_session
    from xsarsea_spark.suite import REGISTRY

    spark = get_session(app_name="xsarsea-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sweep(spark, args.sf, args.queries or sorted(REGISTRY), args.out,
          args.oracle)
    spark.stop()


if __name__ == "__main__":
    main()
