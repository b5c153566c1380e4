"""The benchmark's two workloads.

Each workload is driven from one thread (a closed loop with one
client). It prepares its inputs from the seed, runs an un-timed cold
pass that checks outputs, then runs timed passes over a fixed set of
operations. With tracing on, a second set of passes runs every call
into the program inside a :class:`perfbench.trace.Tracer` span.

- ``sar_scene``: the paper's two products, as two operations per pass
  on one synthetic dual-pol scene: the wind field (``sigma0_detrend``
  then the cmod5n + rs2_v2 Bayesian ``invert_from_model``) and the
  wind-streak directions (2x2 block downscale for ds 1 and 2,
  ``local_gradients``, ``gradient_histogram``, stacked mean,
  ``streak_direction``). The inversion kernel sets the wind time; the
  streaks chain, at this scene size, is mostly per-job overhead.
- ``suite_mix``: a fixed sample of registry queries, each planned and
  written to a noop sink, in a seeded order. Per-query fixed overhead
  dominates: plan building with eager side jobs, scheduling, AQE. Two
  of the queries are ``stream_*`` queries (``availableNow`` runs over
  parquet arrival files, ``foreachBatch`` steps, versioned JSON state
  and parquet appends, replays over one checkpoint), so the write path
  runs beside the reads.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics

import numpy as np

from perfbench import scene as scene_mod
from perfbench.tables import write_tables

__all__ = ["WORKLOADS", "SIZES"]

HERE = os.path.dirname(os.path.abspath(__file__))

# Sizes per workload, for the timed benchmark and for the fast self-check.
SIZES = {
    "full": {"scene": (256, 384), "sf": 0.01, "suite_n": 2, "stream_n": 2},
    "fast": {"scene": (128, 160), "sf": 0.001, "suite_n": 2, "stream_n": 1},
}

# The fixed query sample of suite_mix. Each list is the head of one
# seeded permutation of its frame, random.Random(2).sample(frame,
# len(frame)) over the sorted names; the frames are the 294 non-stream
# registry queries and the 11 stream_* queries, the five known sf0.1
# oracle mismatches included. SIZES takes the first n of each; the
# third non-stream query, doc_infinigram_sa_lm (about 20 s cold, 5 s
# warm), is left out for the benchmark's time budget. A fixed
# sample keeps the work of a pass the same for every seed; the seed sets
# the generated data and the order of every pass.
SUITE_SAMPLE = ["doc_dsir_select", "doc_lang_confusion"]
STREAM_SAMPLE = ["stream_classifier_train", "stream_curated_ingest"]

# a scene is read from this many parquet files, each a block of lines,
# as a scene reader would hand it over; the file source packs them into
# about one partition per core
SCENE_FILES = 8
# mean |retrieved - true| dual-pol wind speed on sar_scene, m/s
WIND_ERR_BOUND_MS = 1.0
# the 2x2 downscale factors and the histogram window of the streaks
# chain; local_gradients keeps its default tiling (512 + 20 halo)
STREAK_SCALES = (1, 2)
HIST_WINDOW = 8


def _release(spark) -> None:
    """Drop blocks a query pinned (checkpoints, caches), outside timers,
    so one query's leftovers do not slow the next."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------------
# sar_scene
# ----------------------------------------------------------------------

def _fused(name, build):
    return build()


def wind_product(px, stage=_fused):
    """Wind field: detrended roughness plus the dual-pol inversion."""
    from xsarsea_spark.operators.detrend import sigma0_detrend
    from xsarsea_spark.operators.inversion import invert_from_model

    det = stage("operators.detrend", lambda: sigma0_detrend(
        px, model=scene_mod.CO_MODEL))
    return stage("operators.inversion", lambda: invert_from_model(
        det, co_model=scene_mod.CO_MODEL, cr_model=scene_mod.CR_MODEL,
        sigma0_co_col="sigma0", sigma0_cr_col="sigma0_cr",
        dsig_cr_col="dsig_cr", anc_re_col="anc_re", anc_im_col="anc_im",
        keep_cols=["line", "sample", "sigma0_detrend"]))


def streaks_product(px, n_lines: int, n_samples: int, stage=_fused):
    """Streak direction per window over the multi-scale gradient stack."""
    from pyspark.sql import functions as F

    from xsarsea_spark.operators.gradients import (gradient_histogram,
                                                   local_gradients,
                                                   streak_direction)

    stacked = None
    for ds in STREAK_SCALES:
        if ds == 1:
            img = px.select("line", "sample", "sigma0")
        else:
            # fixed-order 2x2 block mean (each conditional MAX picks one
            # pixel, so the addition order is deterministic)
            cell = ("MAX(CASE WHEN line % 2 = {a} AND sample % 2 = {b}"
                    " THEN sigma0 END)")
            mean = " + ".join(cell.format(a=a, b=b)
                              for a in (0, 1) for b in (0, 1))
            img = stage("scene.downscale", lambda: px.groupBy(
                F.expr("CAST(FLOOR(line / 2) AS BIGINT)").alias("line"),
                F.expr("CAST(FLOOR(sample / 2) AS BIGINT)").alias("sample"),
            ).agg(F.expr(f"({mean}) / 4e0").alias("sigma0")))
        nl, ns = n_lines // ds, n_samples // ds
        lg = stage("operators.gradients.local_gradients",
                   lambda: local_gradients(img, nl, ns))
        hist = stage("operators.gradients.gradient_histogram",
                     lambda: gradient_histogram(lg, window=HIST_WINDOW,
                                                step=HIST_WINDOW))
        part = hist.select((F.col("win_line") * ds).alias("win_line"),
                           (F.col("win_sample") * ds).alias("win_sample"),
                           "angle", "weight")
        stacked = part if stacked is None else stacked.unionByName(part)
    start = float(-np.pi / 2 + (np.pi / 72) / 2.0)
    bstep = float(np.pi / 72)
    dense = stage("scene.stack", lambda: stacked.groupBy(
        "win_line", "win_sample", "angle").agg(
        F.avg("weight").alias("weight")).withColumn(
        "angle_idx", F.expr(f"CAST(FLOOR((angle - ({start!r})) / "
                            f"({bstep!r}) + 5e-1) AS INT)")))
    return stage("operators.gradients.streak_direction",
                 lambda: streak_direction(dense, n_angles=72))


def _digest(*cols: np.ndarray) -> str:
    h = hashlib.sha256()
    for c in cols:
        h.update(np.ascontiguousarray(c, dtype=np.int64).tobytes())
    return h.hexdigest()[:16]


def wind_digest(w) -> tuple[str, np.ndarray]:
    """Digest of the dual-pol wind (speed to 0.01 m/s, direction to
    0.1 deg; both come off LUT grids) and the wind as complex numbers
    in line-major order."""
    w = w.sort_values(["line", "sample"])
    wind = w["wind_dual_re"].to_numpy() + 1j * w["wind_dual_im"].to_numpy()
    spd = np.nan_to_num(np.round(np.abs(wind) * 100), nan=-1)
    ang = np.nan_to_num(np.round(np.degrees(np.angle(wind)) * 10), nan=-1)
    return _digest(w["line"], w["sample"], spd, ang), wind


def streaks_digest(s) -> str:
    s = s.sort_values(["win_line", "win_sample"])
    return _digest(s["win_line"], s["win_sample"],
                   np.round(s["streak_angle"].to_numpy() * 1e6))


class SarScene:
    name = "sar_scene"
    # the per-layer metrics only this workload exercises
    LAYERS = (
        "operators.inversion.prepare_luts_s", "operators.inversion.s",
        "operators.inversion.task_max_s", "operators.inversion.task_p50_s",
        "operators.detrend.s", "operators.gradients.local_s",
        "operators.gradients.hist_s", "operators.gradients.streak_s",
        "operators.gradients.halo_rows_ratio", "scene.wind_s_per_mpx",
        "scene.streaks_s_per_mpx", "scene.valid_px_frac",
        "scene.wind_abs_err_ms",
    )

    def __init__(self, spark, size: dict, seed: int, run_dir: str):
        self.spark = spark
        self.n_lines, self.n_samples = size["scene"]
        self.seed = seed
        self.mpx = self.n_lines * self.n_samples / 1e6
        self.data_dir = os.path.join(run_dir, "data")
        self.info: dict = {}

    def _load(self, pdf, name: str):
        """Write a scene as SCENE_FILES parquet files of whole lines and
        read it back."""
        path = os.path.join(self.data_dir, name)
        os.makedirs(path)
        n_lines = int(pdf["line"].max()) + 1
        block = -(-n_lines // SCENE_FILES)
        for i in range(SCENE_FILES):
            part = pdf[(pdf["line"] >= i * block)
                       & (pdf["line"] < (i + 1) * block)]
            part.to_parquet(os.path.join(path, f"part-{i:03d}.parquet"),
                            index=False)
        return self.spark.read.parquet(path)

    def prepare(self) -> None:
        pdf, self.truth = scene_mod.make_scene(self.n_lines, self.n_samples,
                                               self.seed)
        self.info["scene.valid_px_frac"] = scene_mod.valid_px_frac(pdf)
        self.px = self._load(pdf, "scene.parquet")

    def check(self) -> tuple[int, list[str]]:
        """Cold pass: both products on the check scene (fixed size and
        seed), whose digests must match ``digests.json``; returns the
        number of checks and the failed ones."""
        failed = []
        if self.info["scene.valid_px_frac"] < 1.0:
            failed.append("scene.valid_px_frac")
        with open(os.path.join(HERE, "digests.json")) as f:
            ref = json.load(f)
        nl, ns = ref["n_lines"], ref["n_samples"]
        cpdf, _ = scene_mod.make_scene(nl, ns, ref["seed"])
        cpx = self._load(cpdf, "check_scene.parquet")
        got_w, _ = wind_digest(wind_product(cpx).toPandas())
        got_s = streaks_digest(streaks_product(cpx, nl, ns).toPandas())
        if got_w != ref["wind"]:
            failed.append(f"wind_digest: {got_w} != {ref['wind']}")
        if got_s != ref["streaks"]:
            failed.append(f"streaks_digest: {got_s} != {ref['streaks']}")
        return 3, failed

    def ops(self, rng: random.Random) -> list:
        return [("wind", self._wind), ("streaks", self._streaks)]

    def _wind(self):
        """The wind field of this run's scene, collected into this
        process; returns the un-timed check of what was collected."""
        pdf = wind_product(self.px).toPandas()
        return lambda: self._verify_wind(pdf)

    def _streaks(self):
        pdf = streaks_product(self.px, self.n_lines,
                              self.n_samples).toPandas()
        return lambda: self._verify_streaks(pdf)

    def after_op(self) -> None:
        pass

    def _verify_wind(self, pdf) -> list[str]:
        _, wind = wind_digest(pdf)
        if len(wind) != len(self.truth):
            return [f"wind_pixels: {len(wind)} != {len(self.truth)}"]
        if np.isnan(wind).any():
            return ["wind_nan"]
        err = float(np.mean(np.abs(np.abs(wind) - np.abs(self.truth))))
        self.info["scene.wind_abs_err_ms"] = err
        if not err < WIND_ERR_BOUND_MS:
            return [f"wind_abs_err: {err:.3f} m/s"]
        return []

    def _verify_streaks(self, pdf) -> list[str]:
        # one streak direction per window of the /4 grid
        n_win = (self.n_lines // 4 // HIST_WINDOW) * (
            self.n_samples // 4 // HIST_WINDOW)
        if len(pdf) != n_win or pdf.isna().any(axis=None):
            return ["streaks_windows"]
        return []

    def traced_pass(self, tracer, rng: random.Random) -> None:
        """Both products with each operator's input persisted first, so
        each operator span covers only its own work."""
        from xsarsea_spark.operators import inversion

        held = []

        def stage(name, build):
            with tracer.span(name):
                df = build().persist()
                df.count()
            held.append(df)
            return df

        px = self.px.persist()
        px.count()
        held.append(px)
        real = inversion.prepare_luts

        def traced_luts(*a, **k):
            with tracer.span("operators.inversion.prepare_luts"):
                return real(*a, **k)

        inversion.prepare_luts = traced_luts
        try:
            with tracer.span("scene.wind"):
                wind_product(px, stage).toPandas()
        finally:
            inversion.prepare_luts = real
        with tracer.span("scene.streaks"):
            streaks_product(px, self.n_lines, self.n_samples,
                            stage).toPandas()
        for df in held:
            df.unpersist()

    def layer_metrics(self, tracer, n_passes: int, op_s: dict) -> dict:
        from perfbench.trace import SQL_METRICS

        # the scene plans hold every node the tracer reads SQL metrics of
        # (Python UDF nodes, shuffles): a label missing here is a label
        # Spark does not use, whose metric would silently read 0
        unseen = set(SQL_METRICS) - tracer.sql_labels
        if unseen:
            raise KeyError(f"SQL metrics not found in any plan: {unseen}")
        per = 1.0 / n_passes
        inv = tracer.named("operators.inversion")
        tasks = [t for s in inv for t in s["task_s"]]
        lg = tracer.named("operators.gradients.local_gradients")
        lg_px = self.n_lines * self.n_samples * sum(
            1.0 / ds ** 2 for ds in STREAK_SCALES) * n_passes
        return {
            "operators.inversion.prepare_luts_s":
                tracer.total("operators.inversion.prepare_luts", "s") * per,
            "operators.inversion.s":
                tracer.total("operators.inversion", "s") * per,
            "operators.inversion.task_max_s": max(tasks, default=0.0),
            "operators.inversion.task_p50_s":
                statistics.median(tasks) if tasks else 0.0,
            "operators.detrend.s":
                tracer.total("operators.detrend", "s") * per,
            "operators.gradients.local_s":
                tracer.total("operators.gradients.local_gradients", "s") * per,
            "operators.gradients.hist_s": tracer.total(
                "operators.gradients.gradient_histogram", "s") * per,
            "operators.gradients.streak_s": tracer.total(
                "operators.gradients.streak_direction", "s") * per,
            "operators.gradients.halo_rows_ratio": sum(
                s["sql"]["shuffle_records"] for s in lg) / lg_px,
            "scene.wind_s_per_mpx": statistics.median(op_s["wind"]) / self.mpx,
            "scene.streaks_s_per_mpx":
                statistics.median(op_s["streaks"]) / self.mpx,
            "scene.valid_px_frac": self.info["scene.valid_px_frac"],
            "scene.wind_abs_err_ms": self.info["scene.wind_abs_err_ms"],
        }


# ----------------------------------------------------------------------
# suite_mix
# ----------------------------------------------------------------------

class SuiteMix:
    """A fixed sample of registry queries over seeded generated tables."""

    name = "suite_mix"
    LAYERS = (
        "suite.build_s", "suite.build_jobs", "suite.exec_s",
        "suite.exec_jobs", "streaming.batches", "streaming.batch_p50_s",
        "streaming.add_batch_s", "streaming.rows_in", "engine.state_files",
        "engine.state_bytes",
    )

    def __init__(self, spark, size: dict, seed: int, run_dir: str):
        self.spark = spark
        self.sf = size["sf"]
        self.queries = (SUITE_SAMPLE[:size["suite_n"]]
                        + STREAM_SAMPLE[:size["stream_n"]])
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        # the package's scratch root (spark.xsarsea.scratch.dir), where
        # the stream queries keep checkpoints and state files
        self.scratch_dir = os.path.join(run_dir, "scratch")
        self.progress = None

    def prepare(self) -> None:
        rows = write_tables(self.data_dir, self.sf, self.seed)
        # read every footer once, as a user's first query would
        for name in rows:
            self.spark.read.parquet(
                os.path.join(self.data_dir, f"{name}.parquet")).schema

    def check(self) -> tuple[int, list[str]]:
        """Cold pass: plan each query, collect its result and compare
        that with the DuckDB oracle on the same tables."""
        from xsarsea_spark.suite import REGISTRY
        from xsarsea_spark.testing.oracle import compare, oracle_connection

        failed = []
        con = oracle_connection(self.data_dir)
        try:
            for q in self.queries:
                spec = REGISTRY[q]
                try:
                    df = spec.spark(self.spark, self.data_dir)
                    if spec.oracle:
                        res = compare(df, spec.oracle, self.data_dir, name=q,
                                      con=con)
                        if not res.ok:
                            failed.append(f"{q}: {res.detail}")
                except Exception as exc:  # report, keep checking the rest
                    failed.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
                _release(self.spark)
        finally:
            con.close()
        return len(self.queries), failed

    def ops(self, rng: random.Random) -> list:
        order = list(self.queries)
        rng.shuffle(order)
        return [(q, lambda q=q: self._run(q)) for q in order]

    def _run(self, q: str) -> None:
        from xsarsea_spark.suite import REGISTRY

        _noop(REGISTRY[q].spark(self.spark, self.data_dir))

    def after_op(self) -> None:
        _release(self.spark)

    def traced_pass(self, tracer, rng: random.Random) -> None:
        from perfbench.trace import StreamProgress
        from xsarsea_spark.suite import REGISTRY

        if self.progress is None:
            self.progress = StreamProgress(self.spark)
        order = list(self.queries)
        rng.shuffle(order)
        for q in order:
            with tracer.span("suite.build", query=q):
                df = REGISTRY[q].spark(self.spark, self.data_dir)
            with tracer.span("suite.exec", query=q):
                _noop(df)
            _release(self.spark)

    def layer_metrics(self, tracer, n_passes: int, op_s: dict) -> dict:
        per = 1.0 / n_passes
        stream = self.progress.summary()
        self.progress.close()
        files = size = 0
        for base, _, names in os.walk(self.scratch_dir):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(base, n))
        return {
            "suite.build_s": tracer.total("suite.build", "s") * per,
            "suite.build_jobs": tracer.total("suite.build", "jobs") * per,
            "suite.exec_s": tracer.total("suite.exec", "s") * per,
            "suite.exec_jobs": tracer.total("suite.exec", "jobs") * per,
            "streaming.batches": stream["batches"] * per,
            "streaming.batch_p50_s": stream["batch_p50_s"],
            "streaming.add_batch_s": stream["add_batch_s"] * per,
            "streaming.rows_in": stream["rows_in"] * per,
            "engine.state_files": files,
            "engine.state_bytes": size,
        }


WORKLOADS = {w.name: w for w in (SarScene, SuiteMix)}
