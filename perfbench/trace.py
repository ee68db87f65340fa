"""In-memory spans and per-operation Spark counters for the traced run.

Spans are recorded only here, in the benchmark, around its calls into the
engine's public functions. A span has an id, a parent, a name, a layer, a
start and an end (epoch seconds) and the id of the operation it belongs to.
Spark jobs become child spans of the innermost span that was open when the
job was submitted.

Spark counters are attributed to an operation by the range of job ids it
spanned: the DAG scheduler's next job id is read before and after the
operation, and each job's stages are read from the status store
(``statusStore().lastStageAttempt``), which works with the UI disabled.
Job groups are not used: ``TierPipeline.run`` submits jobs from pool
threads that would not inherit a group.

A disabled tracer records nothing and makes no JVM calls, so the
end-to-end run pays nothing for it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_run_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes")


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, enabled: bool, cores: int) -> None:
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._op: int | None = None
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer or name.split(".")[0],
               "op": self._op, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, name: str, kind: str):
        """One operation: a root span plus the Spark counters of its jobs."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        j0 = self._next_job_id()
        op_id = len(self.ops)
        self._op = op_id
        first_span = len(self.spans)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            with self.span(name, layer="bench"):
                yield
        finally:
            t = time.perf_counter()
            self._op = None
            root = self.spans[first_span]
            rec = {"op": op_id, "name": name, "kind": kind,
                   "wall_s": root["end"] - root["start"]}
            rec.update(self._attribute(op_id, j0, self._next_job_id(),
                                       self.spans[first_span:]))
            rec["busy_ratio"] = rec["executor_run_s"] / max(
                1e-9, rec["wall_s"] * self.cores)
            self.ops.append(rec)
            self.bookkeeping_s += time.perf_counter() - t

    # ------------------------------------------------------------ spark side

    def _next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().numTotalJobs())

    def _attribute(self, op_id: int, j0: int, j1: int, op_spans) -> dict:
        store = self._sc._jsc.sc().statusStore()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = j1 - j0
        seen: set[int] = set()
        for j in range(j0, j1):
            jd = self._await_job(store, j)
            sub = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            parent = self._innermost(op_spans, sub)
            self.spans.append({
                "id": len(self.spans), "parent": parent, "name": "spark.job",
                "layer": "spark", "op": op_id, "start": sub, "end": end,
                "job": j})
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                if s in seen:
                    continue
                seen.add(s)
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    @staticmethod
    def _await_job(store, j: int, timeout_s: float = 10.0):
        """The status store is fed by an asynchronous listener: wait until
        it has seen the job end."""
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                jd = store.job(j)
                if jd.completionTime().isDefined():
                    return jd
            except Exception:  # py4j error: job not yet in the store
                if time.monotonic() > deadline:
                    raise
            if time.monotonic() > deadline:
                raise TimeoutError(f"spark job {j} never completed")
            time.sleep(0.01)

    @staticmethod
    def _innermost(op_spans, t: float) -> int | None:
        best = None
        for s in op_spans:
            if s["start"] <= t <= (s["end"] or t) and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return None if best is None else best["id"]

    def jvm_gc_s(self) -> float:
        """Total collection time of the engine JVM so far (driver and, in
        local mode, executors), from its GarbageCollectorMXBeans."""
        mf = self._sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    # -------------------------------------------------------------- reports

    def self_times(self) -> dict[str, float]:
        """Per-layer self time (s): a span's duration minus the part of it
        its children cover. Spark time is the union of its job spans under
        each parent, so concurrent jobs are not counted twice."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["layer"] == "spark":
                continue
            lo, hi = s["start"], s["end"]
            clip = [(max(c["start"], lo), min(c["end"], hi))
                    for c in kids[s["id"]]]
            out[s["layer"]] += (hi - lo) - _union(clip)
            out["spark"] += _union(
                iv for iv, c in zip(clip, kids[s["id"]])
                if c["layer"] == "spark")
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans, "ops": self.ops,
                       "self_s": self.self_times()}, f, indent=1)
