"""Per-query quiet-median probe: times the named registry queries
REPS times each and prints medians. Usage:

    python tools/probe.py q1 q2 ... [--reps N] [--sf DIR]

It runs bench.py's warm-up, release and rep-major timing loop with no
budget (rep 0 of every query, then rep 1, ...), so one load window
cannot bias one query; use it for interleaved A/B of named queries.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bench import median, time_queries, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from xsarsea_spark.session import get_session

    spark = get_session(app_name="xsarsea-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf)
    samples = time_queries(spark, args.sf, args.queries, args.reps)
    for name, vs in samples.items():
        print(f"{name}: median={median(vs):.2f}s samples="
              + " ".join(f"{v:.2f}" for v in vs))
    spark.stop()


if __name__ == "__main__":
    main()
