"""Span tracer that wraps the engine's public callables from outside.

``Tracer.install()`` replaces every public function of the traced modules
with a wrapper that records a span (name, start, end, parent, op id) while
tracing is on.  The replacement is made in every loaded module of the
package that holds a reference to the function, so ``from x import f``
bindings are traced too.  Nothing in the package is edited on disk.

Spans are kept in memory (``Tracer.spans``) and written out by the caller.
A span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PKG = "gcp_cloudsql_airflow_bigquery_spark"

#: module (relative to the package) → layer name of its spans
TRACED_MODULES = {
    "catalog": "catalog",
    "sources.files": "sources",
    "sources.jdbc": "sources",
    "functions.repair": "functions",
    "functions.typemap": "functions",
    "functions.sanitize": "functions",
    "pipeline": "pipeline",
    "operators.graph": "operators.graph",
    "operators.similarity": "operators.similarity",
    "operators.tokenizer": "operators.tokenizer",
    "operators.dedup": "operators.dedup",
    "operators.linalg": "operators.linalg",
    "operators.textstats": "operators.textstats",
    "streaming.streams": "streaming",
    "streaming.windows": "streaming",
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "layer": self.layer,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op,
        }


class Tracer:
    """Holds the spans of one run.

    Each thread keeps its own span stack.  A span opened on a thread with
    no open span (a pipeline attempt thread, a ``foreachBatch`` callback)
    becomes a child of the innermost open span of the thread that created
    the tracer, which is blocked waiting for that work in a closed loop."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()
        self._main: list[int] = []
        self._local.stack = self._main
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, layer: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        outer = stack or self._main
        with self._lock:
            sid = len(self.spans)
            parent = outer[-1] if outer else None
            self.spans.append(
                Span(name, layer, time.perf_counter(), 0.0, parent, self.op, sid)
            )
        stack.append(sid)
        return sid

    def _close(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid].end = time.perf_counter()
        self._stack().pop()

    # -- wrapping --------------------------------------------------------

    def install(self) -> None:
        """Wrap the public functions of :data:`TRACED_MODULES` in place."""
        global _ACTIVE
        _ACTIVE = self
        originals: dict[int, tuple[object, object]] = {}
        for rel, layer in TRACED_MODULES.items():
            mod = importlib.import_module(f"{PKG}.{rel}")
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                originals[id(fn)] = (fn, _wrap(fn, f"{layer}.{name}", layer))
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._installed.append((mod, attr, val))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        global _ACTIVE
        for mod, attr, val in reversed(self._installed):
            setattr(mod, attr, val)
        self._installed.clear()
        _ACTIVE = None

    # -- analysis --------------------------------------------------------

    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """Self time of each span: duration minus the time its direct
        children cover (children run one at a time in a closed loop, so
        that is the sum of their durations)."""
        child_sum: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_sum[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child_sum[s.sid] for s in spans}

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.sid: int | None = None

    def __enter__(self):
        self.sid = self.tracer._open(self.name, self.layer)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sid)


#: the installed tracer; read through this module so that a wrapper that
#: gets pickled into a Python worker finds no tracer there and just calls
_ACTIVE: Tracer | None = None


def _call(name: str, layer: str, fn, args, kwargs):
    tracer = _ACTIVE
    if tracer is None:
        return fn(*args, **kwargs)
    sid = tracer._open(name, layer)
    try:
        return fn(*args, **kwargs)
    finally:
        tracer._close(sid)


def _wrap(fn, name: str, layer: str):
    def traced(*args, **kwargs):
        return _call(name, layer, fn, args, kwargs)

    traced.__name__ = fn.__name__
    traced.__qualname__ = fn.__qualname__
    traced.__doc__ = fn.__doc__
    traced.__wrapped__ = fn
    return traced
