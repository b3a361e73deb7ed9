"""In-memory spans for the traced run.

A span is one call into a layer: its name, start, end, parent span and
the run id every span of the run shares. Each span runs its calls under
a job group of its own, so the Spark jobs, stages and tasks it records
are those started while it was the innermost open span (its self
counts). Counts are read from ``statusTracker()`` in ``resolve()``, which
runs between query calls so the bookkeeping stays out of the spans.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._unresolved: list[dict] = []

    def _enter_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty(_JOB_GROUP, None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "parent": parent["id"] if parent else None,
               "run": self.run_id, "name": name, **attrs}
        self.spans.append(rec)
        self._open.append(rec)
        self._unresolved.append(rec)
        self._enter_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._enter_group(parent)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span timed before the tracer could exist (session start)."""
        self.spans.append({"id": len(self.spans), "parent": None, "run": self.run_id,
                           "name": name, "start": start, "end": end,
                           "jobs": 0, "stages": 0, "tasks": 0, **attrs})

    def resolve(self) -> None:
        """Attach self job/stage/task counts to every span closed so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self._unresolved:
            stages: set[int] = set()
            jobs = tracker.getJobIdsForGroup(f"{self.run_id}:{rec['id']}")
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = ran = 0
            for stage in stages:
                info = tracker.getStageInfo(stage)
                if info is not None and info.numCompletedTasks > 0:
                    ran += 1
                    tasks += info.numCompletedTasks
            rec.update(jobs=len(jobs), stages=ran, tasks=tasks)
        self._unresolved = [r for r in self._unresolved if "end" not in r]

    def finished(self) -> list[dict]:
        """Spans with inclusive counts and self time (duration minus the
        time its children cover; children run one after another)."""
        kids: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec)
        out = []
        for rec in reversed(self.spans):  # children have larger ids
            ch = kids.get(rec["id"], [])
            for k in ("jobs", "stages", "tasks"):
                rec[f"incl_{k}"] = rec[k] + sum(c[f"incl_{k}"] for c in ch)
            dur = rec["end"] - rec["start"]
            out.append(dict(rec, dur_s=dur,
                            self_s=dur - sum(c["end"] - c["start"] for c in ch)))
        return out[::-1]


@contextmanager
def layer_spans(tracer: Tracer, targets: list[tuple[str, object, str]]):
    """Wrap each ``(layer, owner, attr)`` function in a span named after
    its layer, for the duration of the block.

    A module-level function is replaced in every loaded ``cpx_etl_spark``
    module that imported it by name, so calls made through those imports
    are timed too; a method is replaced on its class.
    """
    patched: list[tuple[object, str, object]] = []
    for layer, owner, attr in targets:
        orig = getattr(owner, attr)

        def wrapper(*args, _orig=orig, _layer=layer, _attr=attr, **kwargs):
            with tracer.span(_layer, call=_attr):
                return _orig(*args, **kwargs)

        functools.update_wrapper(wrapper, orig)
        if isinstance(owner, type):
            holders = [owner]
        else:
            holders = [m for n, m in list(sys.modules.items())
                       if n.startswith("cpx_etl_spark") and getattr(m, attr, None) is orig]
        for holder in holders:
            patched.append((holder, attr, orig))
            setattr(holder, attr, wrapper)
    try:
        yield
    finally:
        for holder, attr, orig in reversed(patched):
            setattr(holder, attr, orig)
