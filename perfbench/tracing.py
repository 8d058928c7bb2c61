"""Spans and Spark job counts, recorded from outside the library.

A span is ``(name, start, end, parent, op id)``.  Spans stay in memory
until the run ends; then they are reduced to per-layer self times (a span's
self time is its duration minus the time its child spans cover) and written
out as JSON lines.

Layer spans come from wrapping the library's public functions at the name
each caller looks them up by.  ``search()`` and ``plans.merge`` resolve
``plans.search.prune_blocks`` / ``scan_blocks`` at call time, while
``plans.needles`` binds ``scan_blocks`` at import, so that name is wrapped
in both modules.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext


class JobCounter:
    """Counts the Spark jobs started in a window.

    Job ids are assigned in submission order, so the jobs a call started are
    the ids above the highest id seen before it.  The ids are read from the
    status store behind ``sparkContext.statusTracker()``, which lists every
    job whatever its job group or the thread that launched it (the library's
    commit thread pools carry no job-group tag)."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def last_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1


class NullTracer:
    """Tracing off: no spans, no job counting."""

    enabled = False

    def span(self, name: str):
        return nullcontext()

    def op(self, kind: str):
        return nullcontext({})


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.jobs = JobCounter(spark)
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self.ops: list[dict] = []  # op_id -> {"kind", "jobs"}
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        # while False, wrapped functions and op() record nothing (the
        # untraced half of the overhead replay)
        self.recording = True

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op_id = len(self.ops) - 1
        self.spans.append([name, time.perf_counter(), None, parent, op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation: a root span plus the jobs it started."""
        if not self.recording:
            yield {}
            return
        rec = {"kind": kind}
        self.ops.append(rec)
        first = self.jobs.last_id()
        with self.span("op." + kind):
            yield rec
        rec["jobs"] = self.jobs.last_id() - first

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._undo.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._undo):
            setattr(module, attr, fn)
        self._undo.clear()

    def dump(self, path: str) -> None:
        """Write the ops and spans out, one JSON object a line."""
        with open(path, "w") as f:
            for i, rec in enumerate(self.ops):
                f.write(json.dumps({"op": i, **rec}) + "\n")
            for i, (name, start, end, parent, op_id) in enumerate(self.spans):
                f.write(json.dumps({"span": i, "name": name, "start": start, "end": end,
                                    "parent": parent, "op": op_id}) + "\n")

    def self_ms(self, name: str, op_kinds: set[str] | None = None) -> list[float]:
        """Self times (ms) of every ``name`` span, optionally only inside
        ops of the given kinds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out = []
        for i, s in enumerate(self.spans):
            if s[0] != name or s[2] is None:
                continue
            if op_kinds is not None and self.ops[s[4]]["kind"] not in op_kinds:
                continue
            out.append((s[2] - s[1] - child[i]) * 1000.0)
        return out
