"""Measurement helpers: percentiles, spans, Spark's status stores, RSS.

Nothing here changes what the program does. Spark's accounting is read
from outside, through the session's status stores (the SparkContext
``AppStatusStore`` and the SQL ``SQLAppStatusStore``), which answer even
with the web UI disabled.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from contextlib import contextmanager

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    if not n:
        raise ValueError("median of no samples")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1, nearest rank), or None unless at
    least ten samples lie above it. The median is always reported."""
    v = sorted(values)
    n = len(v)
    if not n:
        return None
    if q == 0.5:
        return median(v)
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    if n - rank < 10:
        return None
    return v[rank - 1]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) and counts,
    written out once at the end. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **counts):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id
            or (self.spans[self._stack[-1]]["trace"] if self._stack else None),
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, start: float, end: float, parent: int | None,
            trace_id: str | None, **counts) -> None:
        """A span observed after the fact (e.g. a SQL execution's times)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": parent,
                "trace": trace_id, "start": start, "end": end,
                "counts": dict(counts),
            })

    def wall_to_rel(self, epoch_s: float) -> float:
        """Map a wall-clock epoch time onto the span clock."""
        return epoch_s - (time.time() - (time.perf_counter() - self._t0))

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f)


# ---------------------------------------------------------------------------
# Spark accounting
# ---------------------------------------------------------------------------


class SparkAccounting:
    """Jobs, stages and SQL executions that ran between two marks.

    The load is one closed-loop client, so every job started between
    ``mark()`` and ``since(mark)`` belongs to the operation in between."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _job_ids(self) -> list[int]:
        # the program sets no job group, so this is every retained job
        return list(self._tracker.getJobIdsForGroup(None))

    def mark(self) -> tuple[int, int]:
        return max(self._job_ids(), default=-1), self._sql.executionsCount()

    def since(self, mark: tuple[int, int], plans: bool = True) -> dict:
        """{jobs, stages, tasks, executor_run_s, input_bytes,
        shuffle_write_bytes, spill_bytes, executions}
        for everything after ``mark``; ``executions`` lists
        {id, start, end, jobs, plan} per SQL execution (``plan`` is the
        formatted physical plan, or "" unless ``plans``)."""
        job_mark, exec_mark = mark
        jobs = [self._store.job(i) for i in sorted(self._job_ids()) if i > job_mark]
        stage_ids = sorted({
            int(s) for j in jobs for s in self._conv.asJava(j.stageIds())
        })
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages never ran
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        n = self._sql.executionsCount()
        out["executions"] = []
        for e in self._conv.asJava(self._sql.executionsList(exec_mark, n - exec_mark)):
            end = e.completionTime()
            out["executions"].append({
                "id": e.executionId(),
                "start": e.submissionTime() / 1000.0,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "jobs": sorted(int(k) for k in self._conv.asJava(e.jobs().keySet())),
                "plan": e.physicalPlanDescription() if plans else "",
            })
        return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
