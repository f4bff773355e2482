"""Spans around the calls into each ``betl_spark`` layer, recorded from
outside the engine.

A layer is a ``betl_spark`` package or module (``LAYERS``). ``Tracer``
wraps every public function and public method that a layer module
defines, and patches each name that refers to the original in every
loaded ``betl_spark`` module, because callers bind layer functions with
``from ... import``. ``uninstall`` puts every original back, so untraced
passes run the engine as shipped.

A span holds name, layer, start, end, parent, query id and the Spark
job ids it saw start. Spans stay in memory until ``dump``. A layer's
self time is its spans' durations minus the time their child spans
cover; its self jobs are counted the same way.
"""

from __future__ import annotations

import collections
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time

LAYERS = ("dataflow", "defaults", "io", "operators", "streaming", "pipeline")
# DataFrame methods that materialize a frame; counted per innermost span
MATERIALIZE = ("localCheckpoint", "checkpoint", "persist", "cache")


class Span:
    __slots__ = ("idx", "name", "layer", "start", "end", "parent", "entry",
                 "query", "jobs0", "jobs1", "child_s", "child_jobs", "marks")

    def __init__(self, idx, name, layer, start, parent, query, jobs0):
        self.idx, self.name, self.layer, self.start = idx, name, layer, start
        self.parent, self.query, self.jobs0 = parent, query, jobs0
        # entered from another layer (or from the benchmark itself)
        self.entry = parent is None or parent.layer != layer
        self.end = self.jobs1 = None
        self.child_s = 0.0
        self.child_jobs = 0
        self.marks = 0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s

    @property
    def self_jobs(self) -> int:
        return (self.jobs1 - self.jobs0) - self.child_jobs


def _layer_modules(layer: str) -> list:
    root = importlib.import_module(f"betl_spark.{layer}")
    mods = [root]
    if hasattr(root, "__path__"):
        for info in pkgutil.walk_packages(root.__path__, root.__name__ + "."):
            mods.append(importlib.import_module(info.name))
    return mods


class Tracer:
    """``next_job_id`` returns the id the next Spark job will get, so a
    span's job count is the difference at its two ends."""

    def __init__(self, next_job_id, dataframe_cls):
        self.next_job_id = next_job_id
        self.dataframe_cls = dataframe_cls
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.query = None
        self._patches: list[tuple[object, str, object]] = []
        self._targets = self._collect_targets()

    # -- recording -------------------------------------------------------
    def open(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, layer, time.perf_counter(), parent,
                    self.query, self.next_job_id())
        self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.jobs1 = self.next_job_id()
        span.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            parent = self.stack[-1]
            parent.child_s += span.end - span.start
            parent.child_jobs += span.jobs1 - span.jobs0

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def _mark(self, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if self.stack:
                self.stack[-1].marks += 1
            return fn(*args, **kwargs)

        return counted

    # -- patching --------------------------------------------------------
    def _collect_targets(self) -> list[tuple]:
        """(owner, attribute, original, span name, layer) for every
        public function and method the layers define."""
        targets = []
        for layer in LAYERS:
            for mod in _layer_modules(layer):
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj):
                        targets.append((mod, attr, obj, f"{mod.__name__[11:]}.{attr}", layer))
                    elif inspect.isclass(obj):
                        for m, fn in list(vars(obj).items()):
                            if not m.startswith("_") and inspect.isfunction(fn):
                                targets.append((obj, m, fn, f"{mod.__name__[11:]}.{attr}.{m}", layer))
        return targets

    def _set(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        if self._patches:
            return
        by_id = {}
        for owner, attr, fn, name, layer in self._targets:
            wrapper = self._wrap(fn, name, layer)
            if inspect.isclass(owner):
                self._set(owner, attr, wrapper)
            else:
                by_id[id(fn)] = (fn, wrapper)
        # rebind module-level names wherever they were imported to
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith("betl_spark")]:
            for attr, obj in list(vars(mod).items()):
                hit = by_id.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, attr, hit[1])
        for m in MATERIALIZE:
            self._set(self.dataframe_cls, m, self._mark(vars(self.dataframe_cls)[m]))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results ---------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.idx, "name": s.name, "layer": s.layer,
                    "start": s.start, "end": s.end,
                    "parent": s.parent and s.parent.idx,
                    "query": s.query, "jobs": s.jobs1 - s.jobs0,
                    "materializations": s.marks,
                }) + "\n")


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: entries from outside the layer, self time, self jobs,
    materialization calls, and the inclusive time of io reads/writes."""
    out = collections.defaultdict(lambda: {
        "calls": 0, "self_s": 0.0, "jobs": 0, "materializations": 0,
        "read_calls": 0, "write_calls": 0, "write_s": 0.0})
    for s in spans:
        t = out[s.layer]
        t["calls"] += s.entry
        t["self_s"] += s.self_s
        t["jobs"] += s.self_jobs
        t["materializations"] += s.marks
        if s.layer == "io" and s.entry:
            short = s.name.rsplit(".", 1)[-1]
            if short.startswith("read") or short == "excel_table":
                t["read_calls"] += 1
            elif short.startswith("write"):
                t["write_calls"] += 1
                t["write_s"] += s.end - s.start
    return out
