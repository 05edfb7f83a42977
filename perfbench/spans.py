"""Spans around calls into the engine, attributed to Spark's jobs.

Each span gets its own job group (``SparkContext.setJobGroup``), so
every job Spark runs while the span is open is charged to it. When the
span ends, its jobs and their stages are read from the driver's status
store at once — the store keeps only the most recent jobs — and the
span keeps the job intervals and summed stage metrics. Spans stay in
memory; ``Tracer.dump`` writes them out at the end of the run. A span
records its name, start, end, parent, the top-level span (the pass) it
belongs to, its Spark counts, and its self time (wall minus the time
its children cover).
"""

from __future__ import annotations

import contextlib
import json
import time

# Stage metrics summed per span: name -> (StageData accessor, scale).
STAGE_METRICS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": (("shuffleRemoteBytesRead", "shuffleLocalBytesRead"), 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "input_mb": ("inputBytes", 1e-6),
}


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": parent["pass"] if parent else f"span-{len(self.spans)}",
            **tags,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self._collect(rec)

    def _collect(self, rec: dict) -> None:
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(rec["id"]))
        jobs, stages = [], set()
        for jid in ids:
            jd = self.store.job(jid)
            start, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if start is not None and end is not None:
                jobs.append((start.getTime() / 1e3, end.getTime() / 1e3))
            info = self.sc.statusTracker().getJobInfo(jid)
            stages.update(info.stageIds if info else ())
        sums = dict.fromkeys(STAGE_METRICS, 0.0)
        ran = tasks = 0
        py_rss = 0.0
        for sid in sorted(stages):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — never submitted (skipped)
                continue
            if str(st.status()) == "SKIPPED":
                continue
            ran += 1
            tasks += st.numCompleteTasks()
            peak = _opt(st.peakExecutorMetrics())
            if peak is not None:
                py_rss = max(py_rss, peak.getMetricValue("ProcessTreePythonRSSMemory") / 1e6)
            for key, (acc, scale) in STAGE_METRICS.items():
                accs = acc if isinstance(acc, tuple) else (acc,)
                sums[key] += sum(getattr(st, a)() for a in accs) * scale
        rec.update(jobs=len(ids), job_intervals=jobs, stages=ran, tasks=tasks,
                   python_rss_mb=py_rss, **sums)

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def descendants(self, rec: dict) -> list[dict]:
        out, frontier = [], {rec["id"]}
        for s in self.spans:  # spans are recorded parents-first
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def totals(self, rec: dict) -> dict:
        """The span's Spark counts with every descendant's included."""
        group = [rec, *self.descendants(rec)]
        out = {k: sum(s.get(k, 0) for s in group) for k in ("jobs", "stages", "tasks", *STAGE_METRICS)}
        out["busy_s"] = busy_seconds([iv for s in group for iv in s.get("job_intervals", [])])
        return out

    def self_time(self, rec: dict) -> float:
        kids = [(s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]]
        return self.wall(rec) - busy_seconds(kids)

    def dump(self, fh) -> None:
        for s in self.spans:
            s = dict(s, wall_s=self.wall(s), self_s=self.self_time(s))
            s.pop("job_intervals", None)
            fh.write(json.dumps(s, sort_keys=True) + "\n")


def busy_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals: AQE runs some jobs
    concurrently, so their durations must not be summed."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def peak_executor_metric(spark, name: str) -> float:
    """Peak of one executor memory metric over the whole run, from the
    status store's executor summaries (bytes)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    best = 0.0
    for i in range(execs.size()):
        peak = _opt(execs.apply(i).peakMemoryMetrics())
        if peak is not None:
            best = max(best, float(peak.getMetricValue(name)))
    return best
