"""In-memory span recorder for the benchmark's traced runs.

Spans are opened by the benchmark's own code around its calls into the
citykg layers; nothing inside the package is instrumented. A span keeps
its name, start, end, parent span and the counts its call site attaches.
The list lives in memory and is written out once, when the run ends.

Spark is lazy, so a call such as ``extract.extract_triples`` only builds a
plan. ``Tracer.call`` therefore materializes a DataFrame result (persist
plus one count) inside the span, so the span covers the layer's real work
and the next layer reads the cached result instead of recomputing it. That
extra materialization is part of the tracing overhead the run reports.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time


class NullTracer:
    """Tracing off: every hook is a plain call. Used for the untraced runs
    that give the end-to-end metrics."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def call(self, name: str, fn, *args, force: bool = True, **kwargs):
        return fn(*args, **kwargs)

    @contextlib.contextmanager
    def patched(self, targets):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._cached: list = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def call(self, name: str, fn, *args, force: bool = True, **kwargs):
        """``fn(*args, **kwargs)`` inside a span; with ``force``, a DataFrame
        result is persisted and counted inside the span."""
        from pyspark.sql import DataFrame

        with self.span(name) as attrs:
            out = fn(*args, **kwargs)
            if force and isinstance(out, DataFrame):
                out = out.persist()
                attrs["rows"] = out.count()
                with self._lock:
                    self._cached.append(out)
        return out

    @contextlib.contextmanager
    def patched(self, targets):
        """Wrap ``(owner, attribute, span name, force)`` targets so calls
        that the package makes internally (pipeline -> extract, the HTTP
        handler -> agents) are recorded too. Restored on exit."""
        saved = []
        for owner, attr, name, force in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, force))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name, force):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, force=force, **kwargs)

        return wrapper

    def release(self) -> None:
        with self._lock:
            cached, self._cached = self._cached, []
        for df in cached:
            df.unpersist()

    # -- analysis ---------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of its interval that its
        child spans cover (children of one parent may overlap when they run
        on other threads, so the covered part is a union of intervals)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def median_self(self, name: str) -> float:
        """Median self time in seconds of the spans called ``name`` (0 when
        the workload never made that call)."""
        st = self.self_times()
        vals = [st[s["id"]] for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def last_attrs(self, name: str) -> dict:
        named = [s for s in self.spans if s["name"] == name]
        return max(named, key=lambda s: s["end"])["attrs"] if named else {}

    def write(self, path: str, extra: dict) -> None:
        st = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "thread": s["thread"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(st[s["id"]], 6),
                "attrs": s["attrs"],
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1, default=str)
