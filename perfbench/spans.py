"""In-memory spans and Spark job accounting for the benchmark.

Spans are recorded only around the calls the benchmark makes into the
engine's modules; nothing inside the engine is instrumented. Each span has
a name, start, end, parent span and run id; they stay in memory and are
written out once, when the run ends.

Job accounting uses only Spark's public status tracker. Every engine call
runs under its own job group — in traced and untraced operations alike, so
the two differ only by the spans — and each group's jobs, stages and tasks
are counted right after the operation that ran them, while the status
store still holds them.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Span recorder and job-group allocator. While ``enabled`` is false
    no span is recorded; job groups are still assigned."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.calls: list[dict] = []  # one per engine call: op, name, group, counts
        self.sc = None
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def call(self, name: str, group: str | None = None, **attrs):
        """One call into an engine module: its Spark jobs run under a job
        group of their own (or are looked up under ``group`` when the engine
        sets the group itself, as a streaming query does), and a span is
        recorded when tracing is on."""
        rec = {"op": self.op_id, "name": name, "group": group, "counts": None, **attrs}
        if group is None:
            rec["group"] = f"{self.run_id}/{self.op_id}/{len(self.calls)}/{name}"
            self.sc.setJobGroup(rec["group"], name)
        self.calls.append(rec)
        with self.span(name, op=self.op_id, **attrs):
            yield rec

    def count_op(self, op_id: int) -> None:
        """Count the jobs of every call of one operation. Called right
        after the operation, before the status store evicts them."""
        for c in self.calls:
            if c["op"] == op_id and c["counts"] is None:
                c["counts"] = job_counts(self.sc, c["group"])

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, ensure_ascii=False) + "\n")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def job_counts(sc, group: str, timeout_s: float = 10.0) -> dict:
    """Jobs, stages, completed and failed tasks of one job group, read from
    the public status tracker once none of the group's jobs is running (job
    end events reach the tracker shortly after an action returns)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        infos = [i for i in infos if i is not None]
        if all(i.status not in ("RUNNING", "UNKNOWN") for i in infos) or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for info in infos:
        out["jobs"] += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
    return out
