"""Spans around the engine's public functions, recorded from outside.

``install(package)`` replaces every public function of the traced
modules with a :class:`Traced` callable that records a span (name,
layer, start, end, parent, thread, operation) and then calls the
original. Names other package modules bound with ``from ... import``
and the query registry are rebound to the same wrappers, so every call
path is seen. Spans stay in memory; the run writes them out at the end.

A traced callable pickles as the original function, so Python UDF
bodies that reference traced helpers ship unchanged to the workers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import threading
import time
from dataclasses import dataclass

# Module prefix (under the package) -> layer name. Operators get one
# layer per module: ``operators.<module>``.
LAYERS = ("plans", "staging", "sources", "functions", "operators", "streaming")


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float
    wall0: float
    thread: int
    op: str | None
    note: object = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        # when False the wrappers call straight through and record nothing
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        # name -> fn(args, result): a value kept on the span
        self.probes = {}

    def call(self, name: str, layer: str, fn, args, kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        note = None
        wall0, t0 = time.time(), time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            probe = self.probes.get(name)
            if probe is not None:
                note = probe(args, result)
            return result
        finally:
            t1 = time.perf_counter()
            stack.pop()
            span = Span(sid, parent, name, layer, t0, t1, wall0,
                        threading.get_ident(), self.op, note)
            with self._lock:
                self.spans.append(span)


class Traced:
    """A traced stand-in for one module-level function."""

    def __init__(self, tracer: Tracer, layer: str, fn) -> None:
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._layer = layer
        self._name = f"{fn.__module__}.{fn.__qualname__}"

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self.__wrapped__(*args, **kwargs)
        return self._tracer.call(self._name, self._layer, self.__wrapped__, args, kwargs)

    def __reduce__(self):
        # pickled by reference: ``module.name`` resolves to this wrapper
        # here and to the plain function in a fresh Python worker
        return self.__wrapped__.__qualname__


def layer_of(package: str, module: str) -> str | None:
    rel = module[len(package) + 1:]
    head, _, rest = rel.partition(".")
    if head not in LAYERS:
        return None
    if head == "operators":
        return f"operators.{rest}" if rest else None
    return head


def _package_modules(package: str) -> list:
    pkg = importlib.import_module(package)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, package + "."):
        mods.append(importlib.import_module(info.name))
    return mods


def install(tracer: Tracer, package: str = "pulsar_internal_spark") -> None:
    """Wrap the public functions of the traced layers."""
    mods = _package_modules(package)
    wrapped: dict[int, Traced] = {}
    for mod in mods:
        layer = layer_of(package, mod.__name__)
        if layer is None:
            continue
        for name, obj in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
            ):
                continue
            wrapped[id(obj)] = Traced(tracer, layer, obj)
    # rebind every alias (``from ..staging import stage``) and the query
    # registry to the wrappers
    for mod in mods:
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, name, w)
    queries = importlib.import_module(f"{package}.plans.queries")
    for name, fn in list(queries.QUERIES.items()):
        w = wrapped.get(id(fn))
        if w is not None:
            queries.QUERIES[name] = w

