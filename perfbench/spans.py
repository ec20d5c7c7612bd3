"""Spans around layer calls, plus the Spark job/stage probe.

A span records name, layer, start, end, parent and request id. Spans stay
in memory; `Tracer.dump` writes them as JSON lines when the run ends.

With tracing off (`Tracer(enabled=False)`) a span only times the call, so
untraced runs pay one `time.time()` pair per call and nothing else.

With tracing on, a span that wraps Spark work (`spark=True`) sets a job
group before the call. On exit it reads the group's jobs from the status
tracker, plus the jobs with no group that were submitted inside the span
(build_index submits some jobs from its own worker threads, which do not
inherit the group). Each job's interval and each stage's task metrics
come from the application status store, read right after the call
because the store evicts old jobs.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


class SparkProbe:
    """Reads job and stage metrics that Spark already records."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.seen: set[int] = set()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, t0: float, t1: float) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        ids = set(self.tracker.getJobIdsForGroup(group))
        for j in self.tracker.getJobIdsForGroup(None):
            if j not in self.seen and j not in ids:
                sub = self._interval(j)[0]
                if sub is not None and t0 - 0.001 <= sub <= t1 + 0.001:
                    ids.add(j)
        self.seen |= ids
        jobs = [self._job(j) for j in sorted(ids)]
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        n_stages = 0
        for jb in jobs:
            n_stages += len(jb["stages"])
            for st in jb["stages"]:
                for k in STAGE_FIELDS:
                    totals[k] += st[k]
        busy = _union([(jb["start"], jb["end"]) for jb in jobs], t0, t1)
        return {
            "jobs": len(jobs),
            "job_ids": sorted(ids),
            "stages": n_stages,
            "job_busy_s": busy,
            "driver_s": max(0.0, (t1 - t0) - busy),
            **totals,
        }

    def _interval(self, job_id: int) -> tuple[float | None, float | None]:
        jd = self.store.job(job_id)
        sub, comp = jd.submissionTime(), jd.completionTime()
        return (
            sub.get().getTime() / 1e3 if sub.isDefined() else None,
            comp.get().getTime() / 1e3 if comp.isDefined() else None,
        )

    def _job(self, job_id: int) -> dict:
        # the status listener runs asynchronously: wait (briefly) until it
        # has seen the job end, so the stage metrics are final
        deadline = time.time() + 5.0
        while True:
            start, end = self._interval(job_id)
            if end is not None or time.time() > deadline:
                break
            time.sleep(0.005)
        jd = self.store.job(job_id)
        sids = jd.stageIds()
        stages = []
        for i in range(sids.size()):
            st = self.store.lastStageAttempt(sids.apply(i))
            if st.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle output) or failed
            stages.append(
                {
                    "tasks": st.numTasks(),
                    "executor_run_ms": st.executorRunTime(),
                    "executor_cpu_ns": st.executorCpuTime(),
                    "gc_ms": st.jvmGcTime(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.diskBytesSpilled() + st.memoryBytesSpilled(),
                    "output_bytes": st.outputBytes(),
                }
            )
        return {"id": job_id, "start": start, "end": end, "stages": stages}

    def jobs_submitted_between(self, t0: float, t1: float) -> set[int]:
        out = set()
        jl = self.store.jobsList(None)
        for i in range(jl.size()):
            jd = jl.apply(i)
            sub = jd.submissionTime()
            if sub.isDefined() and t0 <= sub.get().getTime() / 1e3 <= t1:
                out.add(jd.jobId())
        return out


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    segs = sorted(
        (max(a, lo), min(b, hi))
        for a, b in intervals
        if a is not None and b is not None
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.probe = SparkProbe(spark) if (enabled and spark is not None) else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, layer: str, rid=None, spark: bool = False):
        """Time the enclosed call; with tracing on, record it as a span.
        Yields a dict the caller may add attributes to."""
        attrs: dict = {}
        if not self.enabled:
            t0 = time.time()
            yield attrs
            attrs["wall_s"] = time.time() - t0
            return
        c0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "rid": rid,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        if spark and self.probe:
            self.probe.begin(group)
        self.overhead_s += time.perf_counter() - c0
        t0 = time.time()
        try:
            yield attrs
        finally:
            t1 = time.time()
            c1 = time.perf_counter()
            self._stack.pop()
            rec["start"], rec["end"] = t0, t1
            attrs["wall_s"] = t1 - t0
            if spark and self.probe:
                rec["spark"] = self.probe.end(group, t0, t1)
            rec["attrs"] = attrs
            self.overhead_s += time.perf_counter() - c1

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s.get("parent") is not None and "end" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - _union(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
            if "end" in s
        }

    def attributed_jobs(self) -> set[int]:
        out: set[int] = set()
        for s in self.spans:
            out |= set(s.get("spark", {}).get("job_ids", []))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")
