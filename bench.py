"""Benchmark harness: times every registered suite query at one SF.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_REPS (default 3),
     SPARK_GRAFT_BENCH_BUDGET_SEC (default 900);
the session itself reads SPARK_GRAFT_CPUS (default 32).
Prints ONE JSON line:
  {"metric": "suite_total", "value": N, "unit": "sec",
   "queries": {...}, "sf": ..., "cpus": ...}
and writes every per-query sample, and each labelled lead/tail
science-throughput sample, to BENCH_detail.json.

Repeat rule: rep 0 times every query and is never cut. Each later rep
times rep-0 failures first, then the cheapest queries by rep-0 time,
while their summed rep-0 time fits an equal share of the budget left,
``(budget - elapsed) / (reps - rep)``; no query of a later rep starts
once the budget is spent. Reps run rep-major (a whole pass per rep),
so one noisy load window does not bias one query, and each query
reports the MEDIAN of its samples. ``value`` is the sum of those
medians; ``wall_sec`` is the elapsed time of the whole run.

``tools/probe.py`` times named queries with the same warm-up, release
and loop (no budget: every rep times every query) for interleaved A/B.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from itertools import accumulate

# where BENCH_detail.json is written and earlier bench records are read
HERE = os.path.dirname(os.path.abspath(__file__))


def science_throughput(spark) -> dict[str, float]:
    """Fixed-size science workloads (BASELINE.md engine-baseline plan):

    - ``lut_gen_lowres_sec``: cmod5n LUT on the reference's low-res
      speed grid (inc 1.0 / wspd 0.2 / phi 2.5 -> ~930k cells,
      cmod7.py:32-34 sizing).
    - ``inversion_dualpol_sec_per_mpx``: full dual-pol Bayesian
      inversion (copol+crosspol+ancillary) on a 1024x1024 synthetic
      scene at the reference's low-res LUT steps.
    - ``gradients_sec_per_mpx``: the local_gradients stencil pyramid
      (tile+halo) on the same 1024x1024 scene.
    """
    from pyspark.sql import functions as F

    from xsarsea_spark.operators.gradients import local_gradients
    from xsarsea_spark.operators.inversion import invert_from_model
    from xsarsea_spark.operators.lut import gmf_to_lut
    from xsarsea_spark.suite.science import scene_df

    out: dict[str, float] = {}
    n = 1024
    mpx = (n * n) / 1e6

    t0 = time.perf_counter()
    lut, _ = gmf_to_lut(spark, "gmf_cmod5n", res="low")
    lut.write.format("noop").mode("overwrite").save()
    out["lut_gen_lowres_sec"] = round(time.perf_counter() - t0, 3)

    px = scene_df(
        spark,
        ["incidence", "sigma0", "sigma0_cr", "anc_re", "anc_im",
         "dsig_cr"],
        n_lines=n, n_samples=n,
    )
    t0 = time.perf_counter()
    invert_from_model(
        px,
        co_model="gmf_cmod5n", cr_model="gmf_rs2_v2",
        sigma0_co_col="sigma0", sigma0_cr_col="sigma0_cr",
        dsig_cr_col="dsig_cr",
        anc_re_col="anc_re", anc_im_col="anc_im",
        keep_cols=["line", "sample"],
    ).write.format("noop").mode("overwrite").save()
    out["inversion_dualpol_sec_per_mpx"] = round(
        (time.perf_counter() - t0) / mpx, 3)

    # 4096x2048 = 32 tiles of 512^2: one tile per local core, so the
    # number measures saturated per-core throughput (a 1024^2 scene is
    # only 4 tiles and idles 7/8 of the machine)
    gl, gs = 4096, 2048
    gpx = scene_df(spark, ["sigma0"], n_lines=gl, n_samples=gs)
    t0 = time.perf_counter()
    local_gradients(gpx, gl, gs).write.format("noop") \
        .mode("overwrite").save()
    out["gradients_sec_per_mpx"] = round(
        (time.perf_counter() - t0) / ((gl * gs) / 1e6), 3)
    return out


def run_query(spark, sf_dir: str, name: str) -> None:
    """Build one registry query and drain it to a noop sink."""
    from xsarsea_spark.suite import REGISTRY

    REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM, the parquet footers and the Python/Arrow workers,
    so the timings measure the plans, not session start-up or each
    table's first physical scan."""
    from pyspark.sql.functions import col, pandas_udf

    from xsarsea_spark.operators.lut import gmf_to_lut
    from xsarsea_spark.sources.tables import TABLES, load
    from xsarsea_spark.suite import REGISTRY

    for t in TABLES:
        load(spark, sf_dir, t).count()
    REGISTRY["q06_forecast_revenue"].spark(spark, sf_dir).collect()
    # the interpolation-join machinery: without this the first query
    # that uses it absorbs ~2-4 s of one-time codegen/JIT that isn't
    # its plan's cost (measured 4.75 s first-in-loop vs 0.8 s warm)
    run_query(spark, sf_dir, "lut_regrid")
    # the LUT build science_throughput times: cold, its first call
    # measured 1.99 s against 0.97 s warm, and that one call alone made
    # the lead/tail tp_spread canary read ~2 on a quiet host
    lut, _ = gmf_to_lut(spark, "gmf_cmod5n", res="low")
    lut.write.format("noop").mode("overwrite").save()

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(32).repartition(32).select(_warm(col("id"))).collect()


def release(spark) -> None:
    """Between-query hygiene, outside the timers: checkpointing
    queries (BPE rounds, dup-components edges, semdedup assignments)
    pin localCheckpoint blocks that would otherwise accumulate across
    the whole registry, measured as sporadic multi-second GC stalls
    landing on unrelated later queries. Queries are independent, so
    dropping another query's blocks only removes interference."""
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
    except Exception:
        pass
    try:
        spark.catalog.clearCache()
    except Exception:
        pass


def median(vals: list[float]) -> float:
    """Median of the successful samples; -1.0 when every one failed."""
    ok = [v for v in vals if v >= 0]
    return round(statistics.median(ok), 3) if ok else -1.0


def time_queries(spark, sf_dir: str, names: list[str], reps: int,
                 deadline: float | None = None, run=run_query,
                 clock=time.perf_counter) -> dict[str, list[float]]:
    """Rep-major timing loop: ``{name: [seconds, ...]}``, with -1.0
    for a sample whose query raised.

    Rep 0 times every query in ``names`` order. With a ``deadline`` (a
    ``clock()`` value), each later rep times rep-0 failures first, then
    the cheapest queries by rep-0 time, while their summed rep-0 time
    fits ``(deadline - clock()) / (reps - rep)``, and no query of a
    later rep starts past the deadline. Without one, every rep times
    every query. Each query runs under the job group ``bench-{name}``
    with the description ``{name} rep{rep}``; ``release`` follows it,
    outside the timer."""
    samples: dict[str, list[float]] = {n: [] for n in names}
    sc = spark.sparkContext
    order = list(names)
    for rep in range(reps):
        t_rep = clock()
        if rep:
            first = {n: samples[n][0] for n in names}
            order = sorted(names, key=lambda n: (first[n] >= 0, first[n]))
            if deadline is not None:
                share = (deadline - t_rep) / (reps - rep)
                # costs are >= 0, so the running sum keeps a prefix
                cum = accumulate(max(first[n], 0.0) for n in order)
                order = [n for n, c in zip(order, cum) if c <= share]
            if not order:
                print(f"bench: no query fits rep {rep}'s share of the "
                      "budget; stopping", file=sys.stderr)
                break
        for name in order:
            if rep and deadline is not None and clock() > deadline:
                print(f"bench: budget spent during rep {rep}; stopping",
                      file=sys.stderr)
                return samples
            sc.setJobGroup(f"bench-{name}", f"{name} rep{rep}")
            t0 = clock()
            try:
                run(spark, sf_dir, name)
                samples[name].append(clock() - t0)
            except Exception as exc:  # keep timing the rest
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                samples[name].append(-1.0)
            release(spark)
        print(f"bench: rep {rep}: {len(order)} queries in "
              f"{clock() - t_rep:.1f}s", file=sys.stderr)
    return samples


def _throughput_sample(spark, tp_samples: list[dict], when: str) -> None:
    """Append one labelled science_throughput sample ({"when": ...,
    metric: value, ...}); a failed pass appends nothing."""
    spark.sparkContext.setJobGroup("bench-throughput",
                                   f"science_throughput {when}")
    t0 = time.perf_counter()
    try:
        tp_samples.append({"when": when, **science_throughput(spark)})
    except Exception as exc:
        print(f"bench: {when} throughput pass FAILED: {exc}",
              file=sys.stderr)
    print(f"bench: [throughput-{when}] {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)


def _prev_medians(sf: float, cpus: int) -> dict[str, float]:
    """Per-query medians from the most recent bench on disk AT THE
    SAME SF AND CPU COUNT, the base of the ``rep0_hot_x`` canary.
    Prefers BENCH_detail.json (full query set); falls back to the
    newest BENCH_r*.json (driver-captured, slowest-queries-first
    trim). Both must match: a local sf0.01 run overwrites
    BENCH_detail.json, and an sf0.1 pass read against sf0.01 medians
    would look ~10x hot; a 4-core pass read against an 8-core base
    reads ~1.5x hot on a quiet host. A record without ``cpus`` is
    never a base."""
    import glob

    # an unparseable current sf (-1.0) must not match a file that
    # also lacks an 'sf' field and would default to the same sentinel
    if sf < 0:
        return {}
    paths = [os.path.join(HERE, "BENCH_detail.json")]
    paths += sorted(glob.glob(os.path.join(HERE, "BENCH_r*.json")),
                    reverse=True)
    for p in paths:
        try:
            with open(p) as f:
                d = json.load(f)
        except Exception:
            continue
        # driver-written BENCH_r*.json wraps the bench line under
        # 'parsed' ({'n','rc','sf','tail','parsed': {...}});
        # BENCH_detail.json is the bench line itself
        inner = d.get("parsed") if isinstance(d.get("parsed"),
                                              dict) else d
        sf_here = inner.get("sf", d.get("sf"))
        try:
            if sf_here is None or abs(float(sf_here) - sf) > 1e-9:
                continue
        except (TypeError, ValueError):
            continue
        if inner.get("cpus") != cpus:
            continue
        q = inner.get("queries") or {}
        out = {k: float(v) for k, v in q.items()
               if isinstance(v, (int, float)) and v > 0}
        if out:
            return out
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "900"))
    from xsarsea_spark.session import get_session
    from xsarsea_spark.suite import REGISTRY

    spark = get_session(app_name="xsarsea-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    t0 = time.perf_counter()
    warm_up(spark, sf_dir)
    print(f"bench: [warmup] {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    wall0 = time.perf_counter()
    # Science throughput is sampled twice, right after warm-up and
    # again at the end, so a co-tenant load window at either edge of
    # the run cannot own the median (three recorded rounds had landed
    # a single end-of-run sample in such a window: inversion 8.66
    # s/Mpx vs 4.70 quiet the same day). The lead sample counts
    # against the budget.
    tp_samples: list[dict] = []
    _throughput_sample(spark, tp_samples, "lead")
    samples = time_queries(spark, sf_dir, sorted(REGISTRY), reps,
                           deadline=wall0 + budget)
    for _ in range(2 - len(tp_samples)):
        _throughput_sample(spark, tp_samples, "tail")
    throughput = {
        k: round(statistics.median(s[k] for s in tp_samples), 3)
        for k in (tp_samples[0] if tp_samples else ()) if k != "when"
    }

    wall_sec = round(time.perf_counter() - wall0, 3)
    timings = {n: median(v) for n, v in samples.items()}
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    reps_done = max(map(len, samples.values()), default=0)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Load canaries: a co-tenant-contended window can inflate timings
    # 2-8x and masquerade as a sea of regressions. Two self-labeling
    # signals:
    # - rep0_hot_x: this run's rep-0 samples summed over the queries
    #   the last on-disk bench (same sf) also measured, divided by the
    #   sum of those prior medians — ~1.0 on a host comparable to the
    #   recorded base, >>1 in a hot window;
    # - tp_spread: max over the throughput metrics of max/min sample
    #   across the temporally-spread throughput passes — ~1.0 when both
    #   windows saw the same machine, large when load arrived mid-run.
    prev = _prev_medians(sf_val if isinstance(sf_val, float) else -1.0,
                         cpus)
    common = [n for n, v in samples.items()
              if v and v[0] >= 0 and prev.get(n, 0) > 0]
    rep0_hot_x = (round(
        sum(samples[n][0] for n in common)
        / sum(prev[n] for n in common), 3) if common else None)
    ratios = []
    for k2 in throughput:
        vals = [s[k2] for s in tp_samples if k2 in s and s[k2] > 0]
        if len(vals) >= 2:
            ratios.append(max(vals) / min(vals))
    tp_spread = round(max(ratios), 3) if ratios else None
    if rep0_hot_x is not None and rep0_hot_x > 2.0:
        print(f"bench: LOAD ALERT — rep-0 pass ran {rep0_hot_x}x the "
              "last recorded medians; this window is contended and "
              "its 1-rep timings are not comparable", file=sys.stderr)

    # The driver captures only the LAST 2000 chars of stdout and
    # parses the JSON line out of that window (round 1+2 both lost
    # the bench signal to an oversized line). Full per-query detail
    # goes to a sidecar file; the printed line carries the total plus
    # as many per-query timings as fit in ~1800 chars.
    with open(os.path.join(HERE, "BENCH_detail.json"), "w") as fh:
        json.dump({"metric": "suite_total", "value": total,
                   "unit": "sec", "queries": timings, "sf": sf_val,
                   "cpus": cpus,
                   "n_queries": len(timings), "reps": reps_done,
                   "rep0_hot_x": rep0_hot_x,
                   "tp_spread": tp_spread,
                   "wall_sec": wall_sec,
                   "samples": {n: [round(v, 3) for v in vs]
                               for n, vs in samples.items()},
                   "throughput": throughput,
                   "throughput_samples": tp_samples}, fh, indent=1)

    # Deterministic trim: slowest queries first (ties by name), so
    # every run's printed line is comparable to the last; the slow
    # tail is the part worth watching, and BENCH_detail.json keeps
    # the rest.
    order = sorted(timings, key=lambda n: (-timings[n], n))

    def line_for(k: int) -> str:
        return json.dumps({
            "metric": "suite_total",
            "value": total,
            "unit": "sec",
            "queries": {n: round(timings[n], 2) for n in order[:k]},
            "n_queries": len(timings),
            "reps": reps_done,
            "rep0_hot_x": rep0_hot_x,
            "tp_spread": tp_spread,
            "wall_sec": wall_sec,
            "throughput": throughput,
            "sf": sf_val,
            "cpus": cpus,
        }, separators=(",", ":"))

    k = len(order)
    while k > 0 and len(line_for(k)) > 1800:
        k -= 1
    print(line_for(k))
    spark.stop()


if __name__ == "__main__":
    main()
