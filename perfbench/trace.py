"""Outside-in tracing: spans around calls into the program, with the
Spark work each span caused read back from Spark's own status stores.

A :class:`Tracer` records one span per call the benchmark makes into a
program layer (``REGISTRY[q].spark``, the noop write, each science
operator). Each span runs under its own Spark job group, and at its end
the tracer reads what Spark did meanwhile:

- jobs, stages and tasks from the core ``AppStatusStore``: task count,
  executor run and CPU time, shuffle bytes written, input bytes and the
  task durations of the span's longest stage;
- the SQL metrics of every plan node from the ``SQLAppStatusStore``,
  summed by metric name, which gives the Python/Arrow worker numbers of
  ``MapInPandas`` and ``FlatMapGroupsInPandas`` and the records written
  by each shuffle.

The benchmark drives the program from one thread, so every job and SQL
execution whose id appears during a span belongs to it (streaming
micro-batches run under their own job group, which is why ids and not
groups decide attribution). Spans stay in memory; :meth:`Tracer.dump`
writes them out at the end.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from contextlib import contextmanager

__all__ = ["Tracer", "StreamProgress", "parse_metric", "SQL_METRICS"]

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40, "": 1.0}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL metric name -> key in a span's ``sql`` dict
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_recv_b",
    "shuffle records written": "shuffle_records",
}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric in base units (s, bytes, count).

    Spark formats accumulated metrics as ``"12,345"`` (sums) or as
    ``"total (min, med, max ...)\\n9.9 s (2.4 s, ...)"`` (timings and
    sizes); the total is the first figure after the line break.
    """
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(body)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._core = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # the SQL metric labels of SQL_METRICS seen in any plan so far
        self.sql_labels: set[str] = set()

    # -- status-store cursors ------------------------------------------
    def _job_ids(self) -> list[int]:
        jobs = self._core.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def _exec_ids(self) -> list[int]:
        ex = self._sql.executionsList()
        return [ex.apply(i).executionId() for i in range(ex.size())]

    def _drain(self) -> None:
        # listener events are delivered asynchronously; wait until the
        # status stores have seen everything the span caused
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the body; yields the span dict."""
        self._drain()
        jobs0 = set(self._job_ids())
        execs0 = set(self._exec_ids())
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self._drain()
            rec["job_ids"] = sorted(set(self._job_ids()) - jobs0)
            rec["exec_ids"] = sorted(set(self._exec_ids()) - execs0)
            rec.update(self._spark_work(rec["job_ids"], rec["exec_ids"]))

    def _spark_work(self, job_ids: list[int], exec_ids: list[int]) -> dict:
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_b": 0.0,
               "input_b": 0.0, "task_s": []}
        longest = -1.0
        seen = set()
        for jid in job_ids:
            job = self._core.job(jid)
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._core.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                run_s = st.executorRunTime() / 1e3
                out["run_s"] += run_s
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["input_b"] += st.inputBytes()
                if run_s > longest:
                    longest = run_s
                    tasks = self._core.taskList(sid, st.attemptId(), 100000)
                    out["task_s"] = [
                        tasks.apply(i).duration().get() / 1e3
                        for i in range(tasks.size())
                        if tasks.apply(i).duration().isDefined()]
        sql = {v: 0.0 for v in SQL_METRICS.values()}
        for eid in exec_ids:
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    self.sql_labels.add(m.name())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        sql[key] += parse_metric(v.get())
        out["sql"] = sql
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    # -- aggregation -----------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str) -> float:
        return float(sum(s[key] for s in self.named(name)))

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def roots_total(self, key: str) -> float:
        """Sum over top-level spans, so nested spans are not counted twice."""
        return float(sum(s[key] for s in self.roots()))

    def roots_sql_total(self, key: str) -> float:
        return float(sum(s["sql"][key] for s in self.roots()))


class StreamProgress:
    """Collects ``StreamingQueryProgress`` events through a listener the
    benchmark registers on the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.events: list[dict] = []
        lock = threading.Lock()
        events = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    events.append({"rows": int(p.numInputRows),
                                   "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def summary(self) -> dict:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        batches = [e for e in self.events if e["rows"] > 0
                   or e["duration_ms"].get("addBatch", 0) > 0]
        trig = [e["duration_ms"].get("triggerExecution", 0) / 1e3
                for e in batches]
        return {
            "batches": len(batches),
            "batch_p50_s": statistics.median(trig) if trig else 0.0,
            "add_batch_s": sum(e["duration_ms"].get("addBatch", 0)
                               for e in batches) / 1e3,
            "rows_in": sum(e["rows"] for e in batches),
        }
