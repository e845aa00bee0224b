"""Benchmark-side spans and Spark job tagging.

A span is recorded around each public call the benchmark makes into
the program: name, start, end, parent span and the workload run id.
While a span is open, the Spark job group of the calling thread is the
span's module, so the event-log reducer can attribute every job the
call starts to that module. Spans stay in memory and are written out
when the run ends. With tracing off, ``span`` only yields.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, module: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "module": module or (parent["module"] if parent else None),
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self._stack.append(rec)
        self._set_group(rec["module"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent is not None:
                self._set_group(parent["module"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def retag(self, module: str) -> None:
        """Attribute the jobs started from now until the innermost
        span closes to ``module``: for a layer that runs inside a call
        the benchmark cannot split, from the moment the program
        enters it."""
        if self.enabled and self._stack:
            self._set_group(module, self._stack[-1]["name"])

    @contextmanager
    def retag_on_call(self, owner, fn_name: str, module: str):
        """While open, a call to ``owner.<fn_name>`` retags the jobs
        that follow it to ``module`` (see ``retag``)."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, fn_name)

        def entered(*args, **kwargs):
            self.retag(module)
            return orig(*args, **kwargs)

        setattr(owner, fn_name, entered)
        try:
            yield
        finally:
            setattr(owner, fn_name, orig)

    @contextmanager
    def span_on_call(self, obj, fn_name: str, name: str, module: str):
        """While open, each call to ``obj.<fn_name>`` runs inside a
        span ``name``. Only this instance is wrapped, so the calls the
        program makes itself (``self.<fn_name>``) are spanned too."""
        if not self.enabled:
            yield
            return
        orig = getattr(obj, fn_name)

        def spanned(*args, **kwargs):
            with self.span(name, module):
                return orig(*args, **kwargs)

        setattr(obj, fn_name, spanned)
        try:
            yield
        finally:
            delattr(obj, fn_name)

    def _set_group(self, module: str | None, name: str) -> None:
        if module is not None:
            self.sc.setJobGroup(module, name)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: span time minus the part of it
        that its child spans cover (children never overlap here, the
        benchmark calls are sequential)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (
                    child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": sorted(self.spans, key=lambda s: s["start"]),
                 "self_s": self.self_times()},
                f, indent=1,
            )
