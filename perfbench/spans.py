"""In-memory spans around calls into the engine's layers.

The benchmark wraps public functions of the engine from outside (the engine
itself is not modified). Each call becomes a span: name, start, end, parent
span and operation id. While tracing, every span runs under its own Spark job
group, so the jobs, tasks and failed tasks it launched can be read back from
the status tracker afterwards; job groups are per thread, so the counts stay
exact with several client threads.

Self time is a span's duration minus the part of it that its child spans
cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


class Tracer:
    """Span recorder. With `sc=None` it records timings only (no job groups)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- per-thread state ------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def operation(self, op_id):
        """Spans opened inside share `op_id` (one request, batch or build)."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": getattr(self._local, "op", None),
            "thread": threading.get_ident(),
            "group": f"{name}#{sid}",
        }
        self._set_group(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (rec["start"] - t_in) + (
                    time.perf_counter() - rec["end"]
                )

    @contextmanager
    def untimed(self):
        """Bookkeeping done on the tracer's behalf: counted as overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    # -- wrapping public functions ---------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace owner.attr by a traced version. `after(rec, args, result)`
        runs when the call returns, outside the span, as tracer overhead."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                with tracer.untimed():
                    after(rec, args, out)
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- Spark job counts --------------------------------------------------------
    def attach_job_counts(self) -> None:
        """Fill jobs/tasks/failed_tasks into every span from its job group.
        Call once the traced work has finished."""
        sc = self.sc
        try:  # let the listener bus deliver the last job/stage end events
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        tracker = sc.statusTracker()
        seen_stages: set[int] = set()
        for rec in self.spans:
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None or sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = len(job_ids), tasks, failed

    # -- aggregation -------------------------------------------------------------
    def by_name(self) -> dict[str, dict]:
        """name -> {calls, total_s, self_s, jobs, tasks, failed_tasks}."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            a = out.setdefault(
                s["name"],
                {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0,
                 "failed_tasks": 0},
            )
            a["calls"] += 1
            a["total_s"] += s["end"] - s["start"]
            a["self_s"] += selfs[s["id"]]
            for k in ("jobs", "tasks", "failed_tasks"):
                a[k] += s.get(k, 0)
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self_times(self.spans)
        rows = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0, self=selfs[s["id"]])
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump(rows, f, default=str)
