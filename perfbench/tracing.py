"""Traced-run instruments, all attached from outside the program: spans around
calls into each layer, a StreamingQueryListener, per-operation job groups
counted through the status tracker, and JVM GC/heap figures read through the
py4j ``ManagementFactory`` beans."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class SpanRecorder:
    """In-memory spans: name, kind, start, end, parent and pass id.  The
    stack gives each span its parent; spans are written once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str, kind: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str, kind: str):
        """``fn`` with a span around every call."""

        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class ProgressCapture(StreamingQueryListener):
    """Keeps the fields of every streaming progress event the per-layer
    metrics need, tagged with the pass that was running when it arrived."""

    def __init__(self, recorder: SpanRecorder) -> None:
        self._recorder = recorder
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        states = p.stateOperators or []
        rec = {
            "pass": self._recorder.pass_id,
            "query": str(p.id),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_mem_bytes": sum(s.memoryUsedBytes for s in states),
            "state_commit_ms": sum(s.commitTimeMs for s in states),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def per_pass(self, pass_id: int) -> dict:
        with self._lock:
            evs = [e for e in self.events if e["pass"] == pass_id]
        # state size is a level, not a flow: take each query's last batch
        last: dict[str, dict] = {}
        for e in evs:
            last[e["query"]] = e
        return {
            "streaming.batches": len(evs),
            "streaming.input_rows": sum(e["input_rows"] for e in evs),
            "streaming.add_batch_ms": sum(e["add_batch_ms"] for e in evs),
            "streaming.planning_ms": sum(e["planning_ms"] for e in evs),
            "streaming.commit_ms": sum(e["commit_ms"] for e in evs),
            "streaming.state_rows": sum(e["state_rows"] for e in last.values()),
            "streaming.state_mem_mb": sum(e["state_mem_bytes"] for e in last.values()) / 2**20,
            "streaming.state_commit_ms": sum(e["state_commit_ms"] for e in evs),
        }


class JobCounter:
    """Counts the jobs, stages and tasks one operation launched, through a
    job group per operation and the status tracker."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._n = 0

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self._sc.setJobGroup(group, name)
        return group

    def count(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class JvmMeter:
    """GC time and heap peak of the driver JVM through the management beans."""

    def __init__(self, spark) -> None:
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_seconds(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def reset_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20
