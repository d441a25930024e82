"""Traced-run recorder: spans around the benchmark's calls into each
layer, Spark job labels, and stage metrics, all taken from outside the
engine (no package file changes).

* A span is (name, start, end, parent, iteration, jobs).  Spans stay in
  memory and are written out by `dump` when the run ends.
* Each span labels the Spark jobs started inside it with `setJobGroup`
  (restoring the enclosing span's label on exit), so a span's job count
  is the status tracker's job ids for its label plus its children's.
* Stage, task, shuffle, spill and CPU numbers come from the local UI REST
  API for the jobs of one iteration; planning time comes from the
  QueryPlanningTracker phases of each frame handed to a sink; Python
  worker time comes from the UDF perf profiler.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from collections import defaultdict


def _epoch(ts: str | None) -> float | None:
    # REST timestamps look like 2026-10-17T03:21:22.123GMT
    if not ts:
        return None
    return dt.datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.iteration: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self._ui = self.sc.uiWebUrl
        self._app = self.sc.applicationId
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark._profiler_collector.clear_perf_profiles()

    # -- spans --------------------------------------------------------------

    def _wait_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _set_group(self, label: str | None) -> None:
        if label is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(label, label)

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "label": f"it{self.iteration}:{name}:{self._seq}",
               "parent": parent["label"] if parent else None, "iteration": self.iteration,
               "start": time.time(), "children_jobs": 0}
        self._stack.append(rec)
        self._set_group(rec["label"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent["label"] if parent else None)
            self._wait_listeners()
            own = len(self.sc.statusTracker().getJobIdsForGroup(rec["label"]))
            rec["jobs"] = own + rec.pop("children_jobs")
            if parent:
                parent["children_jobs"] += rec["jobs"]
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace module.attr with a wrapper that runs it in a span."""
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        setattr(module, attr, wrapped)

    # -- per-sink and per-iteration counters -------------------------------

    def plan_seconds(self, df) -> float:
        """Analysis + optimization + planning of `df`, from its
        QueryPlanningTracker (forces physical planning)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        jvm = self.sc._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        s = sum(phases[k].durationMs() for k in ("analysis", "optimization", "planning") if k in phases)
        self.counts["spark.plan_s"] += s / 1000.0
        return s / 1000.0

    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self._ui}/api/v1/applications/{self._app}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def stage_metrics(self, k: int, t_start: float, t_end: float) -> dict[str, float]:
        """Stage/task/shuffle numbers for the jobs labelled with
        iteration k, plus the seconds of [t_start, t_end] (epoch) during
        which no stage ran."""
        self._wait_listeners()
        prefix = f"it{k}:"
        jobs = [j for j in self._rest("jobs") if str(j.get("jobGroup", "")).startswith(prefix)]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._rest("stages?status=complete") if s["stageId"] in ids]
        intervals, single = [], 0.0
        for s in stages:
            a = _epoch(s.get("submissionTime"))
            b = _epoch(s.get("completionTime"))
            if a is None or b is None:
                continue
            intervals.append((a, b))
            if s["numTasks"] == 1:
                single = max(single, b - (_epoch(s.get("firstTaskLaunchedTime")) or a))
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                     for s in stages),
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "spark.single_task_stage_s": single,
            "spark.no_stage_s": (t_end - t_start) - _covered(intervals, t_start, t_end),
        }

    def pyworker_seconds(self) -> float:
        """Python-worker time the UDF perf profiler saw since the last
        call (cleared after reading)."""
        coll = self.spark._profiler_collector
        total = sum(st.total_tt for st in coll._perf_profile_results.values())
        coll.clear_perf_profiles()
        return total

    # -- iterations ---------------------------------------------------------

    @contextlib.contextmanager
    def iteration_scope(self, k: int):
        """Trace one iteration; yields the dict that `collect` fills."""
        self.iteration = k
        self.counts = defaultdict(float)
        rec: dict = {"iteration": k, "t_start": time.time()}
        with self.span("iteration"):
            yield rec
        rec["t_end"] = time.time()

    def collect(self, rec: dict) -> None:
        """Per-layer numbers of the iteration in `rec` (untimed)."""
        k = rec["iteration"]
        for s in self.spans:
            if s["iteration"] == k and s["name"] != "iteration":
                rec[f"{s['name']}_s"] = rec.get(f"{s['name']}_s", 0.0) + s["seconds"]
                rec[f"{s['name']}_jobs"] = rec.get(f"{s['name']}_jobs", 0) + s["jobs"]
        rec.update(self.counts)
        rec.update(self.stage_metrics(k, rec["t_start"], rec["t_end"]))
        rec["pyworker_s"] = self.pyworker_seconds()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
