"""Spans around the calls the benchmark makes into the program.

A :class:`Tracer` records, for each span, its name, start, end, parent and
run id, and the Spark jobs, stages and tasks launched while it was the
innermost open span (one status-tracker job group per span). Spans stay in
memory; :meth:`Tracer.layer_totals` folds them into per-layer self time and
counts when the run ends. :meth:`Tracer.wrap` replaces a function or
method by name for the traced run only, so no source file changes.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

from perfbench.stats import self_times


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None  # span the current operation hangs from
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "run": self.run_id, "parent": parent["id"] if parent else self.root,
                   "start": time.perf_counter(), "end": None, **counts}
            self.spans.append(rec)
        group = f"{self.run_id}:{sid}"
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", f"{self.run_id}:{stack[-1]['id']}" if stack else None)
            rec.update(self._job_counts(group))

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stages += 1
                stage = tracker.getStageInfo(stage_id)
                tasks += stage.numTasks if stage else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """{span name: {calls, s (self time), jobs, stages, tasks, ...}};
        spans carrying a ``stratum`` also add to ``"<name>@<stratum>"``."""
        own = self_times([s for s in self.spans if s["end"] is not None])
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            keys = [s["name"]] + ([f"{s['name']}@{s['stratum']}"] if "stratum" in s else [])
            for key in keys:
                agg = out.setdefault(key, {"calls": 0, "s": 0.0})
                agg["calls"] += 1
                agg["s"] += own[s["id"]]
                for k, v in s.items():
                    if k not in ("id", "parent", "start", "end") and isinstance(v, (int, float)):
                        agg[k] = agg.get(k, 0) + v
        return out
