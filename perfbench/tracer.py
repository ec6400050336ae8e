"""Layer spans recorded from outside the engine.

``Tracer.install`` wraps the public functions and methods of each layer
module (and the suite's query builders) with a span: layer, start, end,
parent span and query name. A span opens only where a call crosses into
a different layer, so calls inside one layer cost one check. Spans are
kept in memory and aggregated after each pass; ``uninstall`` puts every
original object back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time

PACKAGE = "go_pandas_spark"

# layer name -> modules whose public callables belong to it
LAYER_MODULES = {
    "session": ("session",),
    "suite": (),  # the QUERIES builders, wrapped one by one
    "sources.io": ("sources.io",),
    "frame": ("frame",),
    "series": ("series",),
    "groupby": ("groupby",),
    "window": ("window",),
    "indexing": ("indexing",),
    "functions": ("functions", "functions.datetimes", "functions.strings",
                  "functions.dtypes"),
    "operators.joins": ("operators.joins",),
    "operators.distwindow": ("operators.distwindow",),
    "operators.missing": ("operators.missing",),
    "operators.reshape": ("operators.reshape",),
    "operators.aggregates": ("operators.aggregates",),
    "operators.ranks": ("operators.ranks",),
    "operators.text": ("operators.text",),
    "operators.dedup": ("operators.dedup",),
    "operators.similarity": ("operators.similarity",),
    "operators.multimodal": ("operators.multimodal",),
}
LAYERS = tuple(LAYER_MODULES)

# Operator dunders are the public API of Frame/Series (indexing,
# arithmetic, comparison); other dunders are object plumbing.
_DUNDERS = frozenset(
    f"__{n}__" for n in (
        "getitem setitem add radd sub rsub mul rmul truediv rtruediv "
        "floordiv rfloordiv mod rmod pow rpow eq ne lt le gt ge and rand "
        "or ror xor invert neg abs").split())


def _public(name: str) -> bool:
    return not name.startswith("_") or name in _DUNDERS


class Tracer:
    """In-memory span recorder for the driver thread."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [layer, start, end, parent, query]
        self.query: str | None = None
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, layer: str, fn):
        spans, stack = self.spans, self._stack

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if (stack and spans[stack[-1]][0] == layer) or \
                    threading.get_ident() != self._thread:
                return fn(*args, **kwargs)
            idx = len(spans)
            spans.append([layer, time.perf_counter(), None,
                          stack[-1] if stack else -1, self.query])
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                spans[idx][2] = time.perf_counter()
                stack.pop()

        return traced

    def _set(self, owner, name: str, value) -> None:
        self._patches.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def install(self, queries: dict) -> None:
        """Wrap every layer module, then the given query builders."""
        wrapped: dict[int, object] = {}  # id(original function) -> wrapper
        for layer, modules in LAYER_MODULES.items():
            for mod_name in modules:
                mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
                for name, obj in list(vars(mod).items()):
                    if getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj) and _public(name):
                        wrapped[id(obj)] = self.wrap(layer, obj)
                    elif inspect.isclass(obj):
                        self._wrap_class(layer, obj)
        # Rebind every module-level reference to a wrapped function,
        # including names other modules imported with ``from x import f``.
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    self._set(mod, name, w)
        for name, fn in list(queries.items()):
            self._patches.append((queries, name, fn))
            queries[name] = self.wrap("suite", fn)

    def _wrap_class(self, layer: str, cls) -> None:
        for name, attr in list(vars(cls).items()):
            if not _public(name):
                continue
            if isinstance(attr, staticmethod):
                new = staticmethod(self.wrap(layer, attr.__func__))
            elif isinstance(attr, classmethod):
                new = classmethod(self.wrap(layer, attr.__func__))
            elif isinstance(attr, property) and attr.fget is not None:
                new = property(self.wrap(layer, attr.fget), attr.fset, attr.fdel, attr.__doc__)
            elif inspect.isfunction(attr):
                new = self.wrap(layer, attr)
            else:
                continue
            self._set(cls, name, new)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[name] = original
            else:
                setattr(owner, name, original)
        self._patches.clear()

    def take(self) -> list[list]:
        """Return the spans recorded so far and start a new list."""
        out = list(self.spans)
        self.spans.clear()
        return out


def aggregate(spans: list[list], jobs: list[dict], epoch_offset: float) -> dict:
    """Per-layer calls, self time, jobs and result bytes for one pass,
    and calls and self time per (query, layer).

    ``jobs`` are the engine-issued jobs of the pass (submission time in
    epoch ms); each is charged to the innermost span open when it was
    submitted. ``epoch_offset`` maps perf_counter to epoch seconds.
    """
    out = {layer: {"calls": 0, "self_s": 0.0, "jobs": 0, "result_bytes": 0}
           for layer in LAYERS}
    by_query: dict[tuple, list] = {}
    child = [0.0] * len(spans)
    for layer, start, end, parent, _q in spans:
        if parent >= 0:
            child[parent] += end - start
    for i, (layer, start, end, _p, query) in enumerate(spans):
        own = (end - start) - child[i]
        out[layer]["calls"] += 1
        out[layer]["self_s"] += own
        acc = by_query.setdefault((query, layer), [0, 0.0])
        acc[0] += 1
        acc[1] += own
    unattributed = 0
    for job in jobs:
        t = job["submitted_ms"] / 1000.0 - epoch_offset
        best = None
        for layer, start, end, _p, _q in spans:
            if start - 0.001 <= t <= end and (best is None or start >= best[1]):
                best = (layer, start)
        if best is None:
            unattributed += 1
            continue
        out[best[0]]["jobs"] += 1
        out[best[0]]["result_bytes"] += job["result_bytes"]
    return {"layers": out, "by_query": by_query, "unattributed_jobs": unattributed}
