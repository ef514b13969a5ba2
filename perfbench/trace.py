"""In-memory span tracing around the benchmark's calls into the program.

A span records name, start, end, parent span and the id of the operation
it belongs to. Spans and counters stay in memory and are written out once,
when the run ends. With tracing off every method is a cheap no-op, so the
untraced run pays nothing for the hooks.

Spark work is attributed to an operation by giving each traced operation
its own job group and reading ``SparkContext.statusTracker()`` afterwards.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


def jsonable(obj):
    """json.dump fallback: dataclasses as dicts, anything else as str."""
    return getattr(obj, "__dict__", None) or str(obj)


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: List[dict] = []
        self.ops: List[dict] = []
        self._stack: List[int] = []
        self._op: Optional[str] = None
        # wall time the tracer spends on its own work (job groups, listener
        # drains, trace-only probes); not a traced-minus-untraced difference
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str):
        """One operation of the workload: its spans share an id and its
        Spark jobs a job group, read back into per-operation counts."""
        if not self.enabled:
            yield
            return
        op_id = f"{kind}-{len(self.ops)}"
        t = time.perf_counter()
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        self.bookkeeping_s += time.perf_counter() - t
        self._op = op_id
        try:
            with self.span(kind):
                yield
        finally:
            self._op = None
            t = time.perf_counter()
            self.ops.append({"id": op_id, "kind": kind, **self._spark_counts(op_id)})
            self.bookkeeping_s += time.perf_counter() - t

    def _spark_counts(self, group: str) -> Dict[str, int]:
        sc = self.spark.sparkContext
        # listener events are delivered asynchronously; drain them so the
        # counts are complete and repeat exactly
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    @contextmanager
    def bookkeeping(self):
        """Extra work done only for the trace (e.g. count probes)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t

    @contextmanager
    def paused(self):
        """No tracing inside (an untimed warm-up operation)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str, meta: dict) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "ops": self.ops}, f,
                      default=jsonable)
