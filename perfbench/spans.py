"""Outside-in tracing: spans around calls into the package, with
Spark's own counters read per span.

Each span opens a Spark job group, so every job the call submits is
attributable to it. Counters come from Spark's status tracker and
status store once the run ends: jobs, tasks, shuffle write, spill,
failed tasks, task skew (max / median task run time over the span's
stages) and the driver-only share of the wall (time no job of the span
was running). Spans stay in memory (name, start, end, parent, request
id) until :meth:`Tracer.write`.

Streaming queries run their micro-batches on their own thread under a
job group named by the query's run id; :class:`StreamProgress`, a
``StreamingQueryListener``, records those run ids and each batch's
progress so a streaming gate is attributable the same way.

With ``enabled=False`` every span is a no-op and no listener is
registered, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: per-span counters, in report order
FIELDS = (
    "wall_s", "self_s", "driver_s", "jobs", "tasks",
    "shuffle_write_mb", "spill_mb", "task_skew", "failed_tasks",
)
_MB = 1 << 20


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        rec = self.open(name, request)
        try:
            yield rec
        finally:
            self.close(rec)

    def open(self, name: str, request: str | None = None) -> dict | None:
        """Start a span (the innermost open span is its parent)."""
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "group": f"perfbench-{len(self.spans)}",
            "groups": [],
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        return rec

    def close(self, rec: dict | None) -> None:
        """End ``rec``, the innermost open span."""
        if rec is None:
            return
        rec["end"] = time.time()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent:
            self.sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.sc._jsc.clearJobGroup()

    def add(self, name: str, start: float, end: float, groups: list[str],
            parent: dict | None = None) -> dict:
        """Record a span the benchmark did not open itself (a streaming
        gate), whose jobs ran under ``groups``."""
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else None,
            "group": None, "groups": list(groups), "start": start, "end": end,
        }
        self.spans.append(rec)
        return rec

    # ------------------------------------------------------ counters
    def drain(self) -> None:
        """Wait until every listener has seen every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job(self, store, jid: int) -> dict:
        j = store.job(jid)
        sub, done = j.submissionTime(), j.completionTime()
        return {
            "stages": [j.stageIds().apply(i) for i in range(j.stageIds().size())],
            "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000 if done.isDefined() else None,
        }

    def _stage(self, store, sid: int) -> dict | None:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted
            return None
        if str(s.status()) == "SKIPPED":
            return None
        skew = 1.0
        q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(sid, s.attemptId(), q)
        if s.numCompleteTasks() > 1 and summ.isDefined():
            rt = summ.get().executorRunTime()
            skew = rt.apply(1) / max(rt.apply(0), 1.0)
        return {
            "tasks": s.numCompleteTasks(),
            "failed": s.numFailedTasks(),
            "shuffle": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "skew": skew,
        }

    def counters(self) -> None:
        """Fill each span's counters from the status store (its own
        job groups plus every descendant's)."""
        if not self.spans:
            return
        self.drain()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs: dict[int, dict] = {}
        stages: dict[int, dict | None] = {}
        own: dict[int, list[int]] = {}
        for s in self.spans:
            groups = ([s["group"]] if s["group"] else []) + s["groups"]
            own[s["id"]] = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
            for j in own[s["id"]]:
                if j not in jobs:
                    jobs[j] = self._job(store, j)
                    for sid in jobs[j]["stages"]:
                        if sid not in stages:
                            stages[sid] = self._stage(store, sid)
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def subtree_jobs(s: dict) -> list[int]:
            out = list(own[s["id"]])
            for c in children.get(s["id"], []):
                out += subtree_jobs(c)
            return out

        for s in self.spans:
            js = sorted(set(subtree_jobs(s)))
            sts = [stages[sid] for j in js for sid in jobs[j]["stages"] if stages.get(sid)]
            wall = s["end"] - s["start"]
            s["wall_s"] = wall
            s["self_s"] = wall - _covered(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])], s
            )
            s["driver_s"] = wall - _covered(
                [(jobs[j]["start"], jobs[j]["end"]) for j in js
                 if jobs[j]["start"] is not None and jobs[j]["end"] is not None], s
            )
            s["jobs"] = len(js)
            s["tasks"] = sum(x["tasks"] for x in sts)
            s["failed_tasks"] = sum(x["failed"] for x in sts)
            s["shuffle_write_mb"] = sum(x["shuffle"] for x in sts) / _MB
            s["spill_mb"] = sum(x["spill"] for x in sts) / _MB
            s["task_skew"] = max((x["skew"] for x in sts), default=1.0)

    def summary(self) -> dict[str, float]:
        """``<span>.<field>`` → median over the span's occurrences."""
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        out: dict[str, float] = {}
        for name, ss in by_name.items():
            for f in FIELDS:
                out[f"{name}.{f}"] = statistics.median(s[f] for s in ss)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items() if k != "groups"}) + "\n")


def _covered(intervals: list[tuple[float, float]], span: dict) -> float:
    """Length of the union of ``intervals`` clipped to ``span``."""
    lo, hi = span["start"], span["end"]
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


class StreamProgress(StreamingQueryListener):
    """Records every streaming query's run id (its micro-batches' job
    group) and per-batch progress: wall, addBatch and commit time."""

    def __init__(self):
        self.queries: list[dict] = []
        self._by_run: dict[str, dict] = {}

    def onQueryStarted(self, event):
        q = {"run": str(event.runId), "batches": []}
        self.queries.append(q)
        self._by_run[q["run"]] = q

    def onQueryProgress(self, event):
        p = event.progress
        q = self._by_run.get(str(p.runId))
        if q is not None:
            d = p.durationMs
            q["batches"].append({
                "rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_ms": d.get("addBatch", 0),
            })

    def onQueryTerminated(self, event):
        pass
