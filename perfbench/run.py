"""sparksea benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload sar_scene --seed 7 --seconds 30 --trace 0
    python3 perfbench/run.py --selfcheck

Run it from the repository root. A run

1. creates a fresh directory under ``.perfbench_runs/`` and points the
   package's scratch root (``spark.xsarsea.scratch.dir``), Spark's
   local dirs, the JVM and Python temp dirs and the warehouse into it,
   so no two runs share checkpoints or state files; it is removed at
   the end;
2. starts ``local[nproc]`` with a fixed, pre-touched 2 GB heap and
   glibc told to keep freed memory (see ``_keep_memory``), and prepares
   the workload's inputs from the seed;
3. runs a cold pass that checks outputs against the oracle or stored
   digests, then one un-timed warm-up pass of the timed operations;
   ``setup_s`` is the wall time from process start to the end of the
   warm-up;
4. runs the timed passes that fit in ``--seconds`` (at least two) and
   reports ``setup_s``, ``pass_s`` and ``op_p50_s`` (``--trace 0``),
   or repeats the passes under spans and reports the per-layer metrics
   (``--trace 1``), the untraced passes giving the tracing overhead
   and the peak RSS.

The last line of standard output is the result object. When an output
check failed, ``correct`` is false, the failed operations are listed by
name on standard error and the exit code is 1.
``--selfcheck`` runs every workload at its fast size (sf0.001, a
128x160 scene, 3 queries of which one streams) with and without
tracing, and checks that every metric of ``BENCHMARK.json`` is printed
with its unit.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as the ``perfbench`` package from the checkout
# root, so its module names cannot shadow standard-library modules
sys.path[0] = ROOT
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


# ----------------------------------------------------------------------
# processes
# ----------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in [me] + descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, what remains."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                    and not _is_zombie(p)]
            if not pids:
                return
            time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ----------------------------------------------------------------------
# one run
# ----------------------------------------------------------------------

# The Spark JVM's heap: fixed in size, touched once at start
DRIVER_HEAP = "2g"
# glibc malloc settings of every process of a run: keep freed memory in
# the heap instead of handing it back to the kernel
MALLOC = {"MALLOC_TRIM_THRESHOLD_": 1 << 30,
          "MALLOC_MMAP_THRESHOLD_": 1 << 25}


def _keep_memory() -> str:
    """Make the run reuse the memory it has touched; returns the JVM
    options for it, for a heap of ``DRIVER_HEAP``.

    Memory given back and touched again costs a page fault per page; in
    a virtual machine that returns freed pages to its host, that cost
    follows the host's load. With the program's default 8 GB heap, which
    G1 grows and shrinks, the JVM took 100-300 thousand page faults per
    ``suite_mix`` pass. A fixed, pre-touched heap on huge pages and a
    glibc that keeps freed memory (in this process, the JVM and the
    Python workers) bring that to about ten thousand, and the pass takes
    about a third less time."""
    os.environ.update({k: str(v) for k, v in MALLOC.items()})
    libc = ctypes.CDLL(None)
    libc.mallopt(-1, MALLOC["MALLOC_TRIM_THRESHOLD_"])  # M_TRIM_THRESHOLD
    libc.mallopt(-3, MALLOC["MALLOC_MMAP_THRESHOLD_"])  # M_MMAP_THRESHOLD
    return (f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
            "-XX:+UseTransparentHugePages")


def _isolate(run_dir: str) -> dict:
    """Point every writable location of the run into ``run_dir``;
    returns the Spark confs. Must run before the JVM starts."""
    for sub in ("scratch", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.xsarsea.scratch.dir": os.path.join(run_dir, "scratch"),
        "spark.driver.memory": DRIVER_HEAP,
        # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {_keep_memory()}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def jvm_gc_s(spark) -> float:
    """Total time the Spark JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1e3


def _fits(t0: float, seconds: float, passes: list) -> bool:
    """Whether another pass, as long as the longest so far, ends within
    ``seconds`` of ``t0``; the first two passes always run."""
    return len(passes) < 2 or time.perf_counter() + max(passes) <= t0 + seconds


def _collect_garbage(spark) -> None:
    """Full collections in this process and in the JVM, outside timers,
    so one pass's garbage is not collected inside the next."""
    gc.collect()
    spark._jvm.System.gc()


def _one_pass(spark, wl, rng: random.Random, out: dict,
              timed: bool = True) -> float:
    """One pass over the workload's operations; returns its time. An
    operation may return a check of its output, which runs untimed.
    An un-timed (warm-up) pass is checked but its times are not kept."""
    _collect_garbage(spark)
    total = 0.0
    times = []
    gc0 = jvm_gc_s(spark)
    for name, fn in wl.ops(rng):
        out["attempted"] += 1
        t0 = time.perf_counter()
        verify = None
        try:
            verify = fn()
        except Exception as exc:  # count it, keep measuring
            out["failures"].append(f"{name}: {type(exc).__name__}: "
                                   f"{exc}"[:300])
        dt = time.perf_counter() - t0
        bad = verify() if verify is not None else []
        if bad:
            out["failures"].append(f"{name}: " + "; ".join(bad))
        total += dt
        if timed:
            out["op_s"].setdefault(name, []).append(dt)
        times.append(f"{name}={dt:.2f}s")
        wl.after_op()
    print(f"perfbench: {'pass' if timed else 'warm-up pass'} {total:.2f}s"
          f" (jvm gc {jvm_gc_s(spark) - gc0:.2f}s): " + " ".join(times),
          file=sys.stderr)
    return total


def _timed_passes(spark, wl, seconds: float, rng: random.Random,
                  out: dict) -> None:
    """Whole passes while they fit in ``seconds`` (at least two)."""
    t_start = time.perf_counter()
    while _fits(t_start, seconds, out["passes"]):
        out["passes"].append(_one_pass(spark, wl, rng, out))


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            fast: bool) -> dict:
    run_dir = os.path.join(RUNS_DIR, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _isolate(run_dir)
    from perfbench.workloads import SIZES, WORKLOADS

    from pyspark import SparkContext
    from xsarsea_spark.session import get_session

    nproc = len(os.sched_getaffinity(0))
    spark = get_session(app_name=f"perfbench-{workload}", cpus=nproc,
                        extra_conf=conf)
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - T_START
        wl = WORKLOADS[workload](spark, SIZES["fast" if fast else "full"],
                                 seed, run_dir)
        t0 = time.perf_counter()
        wl.prepare()
        t_prepare = time.perf_counter() - t0
        t0 = time.perf_counter()
        checked, failures = wl.check()
        t_cold = time.perf_counter() - t0
        res = {"attempted": checked, "failures": failures, "passes": [],
               "op_s": {}}
        rng = random.Random(seed)
        # the pass after the cold one still runs 20-25 % slower than
        # later ones (the JVM keeps compiling), so one more un-timed
        # pass belongs to the set-up
        t0 = time.perf_counter()
        _one_pass(spark, wl, rng, res, timed=False)
        t_warm = time.perf_counter() - t0
        res["setup_s"] = time.perf_counter() - T_START
        print(f"perfbench: setup session={t_session:.2f}s prepare="
              f"{t_prepare:.2f}s cold={t_cold:.2f}s warm={t_warm:.2f}s",
              file=sys.stderr)
        if trace:
            # /proc sampling costs CPU, so only traced runs sample RSS
            with RssSampler() as rss:
                _timed_passes(spark, wl, seconds, rng, res)
            res["layers"] = _traced(spark, wl, seconds, rng, res, run_dir)
            res["layers"]["process.peak_rss_mb"] = rss.peak_kb / 1024.0
        else:
            _timed_passes(spark, wl, seconds, rng, res)
        return res
    finally:
        pids = descendants(os.getpid())
        spark.stop()
        SparkContext._gateway.shutdown()
        if gateway_proc is not None:
            gateway_proc.stdin.close()
            gateway_proc.wait(timeout=60)
        _wait_gone(pids, 20.0)
        shutil.rmtree(run_dir, ignore_errors=True)


def _traced(spark, wl, seconds, rng, res, run_dir) -> dict:
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    traced = []
    gc0 = jvm_gc_s(spark)
    t_start = time.perf_counter()
    while _fits(t_start, seconds, traced):
        _collect_garbage(spark)
        t0 = time.perf_counter()
        wl.traced_pass(tracer, rng)
        traced.append(time.perf_counter() - t0)
    gc_s = jvm_gc_s(spark) - gc0
    os.makedirs(os.path.join(RUNS_DIR, "traces"), exist_ok=True)
    tracer.dump(os.path.join(RUNS_DIR, "traces",
                             os.path.basename(run_dir) + ".json"))
    n = len(traced)
    per = 1.0 / n
    mb = 1.0 / 2**20
    ops = [t for ts in res["op_s"].values() for t in ts]
    m = {
        "spark.jobs": tracer.roots_total("jobs") * per,
        "spark.tasks": tracer.roots_total("tasks") * per,
        "executor.cpu_s": tracer.roots_total("cpu_s") * per,
        "executor.run_s": tracer.roots_total("run_s") * per,
        "executor.gc_s": gc_s * per,
        "spark.shuffle_write_mb":
            tracer.roots_total("shuffle_write_b") * per * mb,
        "sources.input_mb": tracer.roots_total("input_b") * per * mb,
        "python.run_s": tracer.roots_sql_total("python_run_s") * per,
        "python.boot_s": tracer.roots_sql_total("python_boot_s") * per,
        "python.init_s": tracer.roots_sql_total("python_init_s") * per,
        "python.sent_mb": tracer.roots_sql_total("python_sent_b") * per * mb,
        "python.recv_mb": tracer.roots_sql_total("python_recv_b") * per * mb,
        "ops.p90_s": statistics.quantiles(ops, n=10, method="inclusive")[-1],
        "trace.untraced_pass_s": statistics.median(res["passes"]),
        "trace.traced_pass_s": statistics.median(traced),
        "trace.overhead_s":
            statistics.median(traced) - statistics.median(res["passes"]),
    }
    m.update(wl.layer_metrics(tracer, n, res["op_s"]))
    return m


def result_line(res: dict, workload: str, trace: bool, units: dict) -> dict:
    from perfbench.workloads import WORKLOADS

    failed = len(res["failures"])
    attempted = res["attempted"]
    if trace:
        layers = dict(res["layers"], **{
            "checks.ops_failed_frac": failed / attempted})
        unknown = set(layers) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
        # only the layers another workload owns read 0
        others = {k for name, wl in WORKLOADS.items() if name != workload
                  for k in wl.LAYERS}
        missing = set(units) - set(layers) - others
        if missing:
            raise KeyError(f"{workload} did not measure {sorted(missing)}")
        metrics = {k: layers.get(k, 0.0) for k in units}
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "pass_s": statistics.median(res["passes"]),
            # median over operations of each one's median over passes
            "op_p50_s": statistics.median(
                statistics.median(ts) for ts in res["op_s"].values()),
        }
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


def declared_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


# ----------------------------------------------------------------------
# self-check
# ----------------------------------------------------------------------

# per-layer metrics, besides each workload's own, that must read above
# 0 when the workload is traced
EXERCISED = {
    "sar_scene": ("spark.jobs", "spark.tasks", "executor.run_s",
                  "spark.shuffle_write_mb", "python.run_s",
                  "python.sent_mb", "python.recv_mb", "ops.p90_s"),
    "suite_mix": ("spark.jobs", "spark.tasks", "executor.run_s",
                  "sources.input_mb", "ops.p90_s"),
}


def selfcheck() -> int:
    """Run every workload at its fast size, untraced and traced, and
    check each printed metric set against BENCHMARK.json, and that every
    per-layer metric a workload exercises reads above 0."""
    from perfbench.workloads import WORKLOADS

    e2e, layers = declared_units()
    bad = []
    for w in ("sar_scene", "suite_mix"):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--fast"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                bad.append(f"{w} trace={trace}: exit {p.returncode}\n"
                           f"{p.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            want = layers if trace else e2e
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                bad.append(f"{w} trace={trace}: metrics {sorted(got.items())}"
                           f" != declared {sorted(want.items())}")
            if trace:
                zero = [k for k in WORKLOADS[w].LAYERS + EXERCISED[w]
                        if not out["metrics"].get(k, {}).get("value", 0) > 0]
                if zero:
                    bad.append(f"{w} trace=1: {zero} not above 0")
            if not out["correct"]:
                bad.append(f"{w} trace={trace}: output check failed\n"
                           f"{p.stderr[-2000:]}")
            print(f"selfcheck {w} trace={trace}: "
                  f"{len(got)} metrics, correct={out['correct']}",
                  flush=True)
    for b in bad:
        print(f"selfcheck FAILED: {b}", file=sys.stderr)
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["sar_scene", "suite_mix"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fast", action="store_true",
                    help="self-check sizes: sf0.001, 128x160 scene, "
                         "3 queries")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if args.selfcheck:
        return selfcheck()
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "xsarsea_spark")):
        print(f"perfbench: no xsarsea_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    e2e, layers = declared_units()
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.fast)
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    out = result_line(res, args.workload, bool(args.trace),
                      layers if args.trace else e2e)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
