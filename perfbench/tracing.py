"""In-memory spans around the calls into each layer's public functions.

The benchmark installs these wrappers from its own files, in its own
server launcher and corpus worker; the package is not edited. A span
records its name, start, end, parent span and attributes. Spans stay in
memory and are written out once, when the process shuts down.

Times come from ``time.monotonic()``, which on Linux is one clock for
every process on the host, so client and server spans line up.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.marks: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "inherited", None)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; ``attrs`` may be filled in
        by the body (the yielded dict is stored with the span)."""
        sid = next(self._ids)
        parent = self.current()
        stack = self._stack()
        stack.append(sid)
        t0 = time.monotonic()
        try:
            yield attrs
        finally:
            t1 = time.monotonic()
            stack.pop()
            # list.append is atomic under the GIL
            self.spans.append(
                {"id": sid, "parent": parent, "name": name,
                 "t0": t0, "t1": t1, **attrs})

    def mark(self, name: str, **attrs) -> None:
        """A point record (no duration) under the current span."""
        self.marks.append({"name": name, "parent": self.current(),
                           "t": time.monotonic(), **attrs})

    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` (a function or plain method) with a
        wrapper that records span ``name`` around every call.
        ``attrs_fn(*args, **kwargs)`` may return attributes for it."""
        orig = inspect.getattr_static(owner, attr)
        if not inspect.isfunction(orig):
            raise TypeError(f"{owner}.{attr} is not a plain function")

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def wrap_public(self, owner, prefix: str) -> None:
        """Wrap every public plain function of a class or module."""
        for attr, value in list(vars(owner).items()):
            if attr.startswith("_"):
                continue
            if inspect.isfunction(value) and (
                    inspect.isclass(owner)
                    or value.__module__ == owner.__name__):
                self.wrap(owner, attr, f"{prefix}.{attr}")

    def inherit_threads(self) -> None:
        """Threads started inside a span get that span as their parent
        (the engine materializes results on a worker thread)."""
        tracer = self
        orig_init = threading.Thread.__init__

        @functools.wraps(orig_init)
        def init(thread, *args, **kwargs):
            target = kwargs.get("target")
            parent = tracer.current()
            if target is not None and parent is not None:
                def run_under_parent(*a, **k):
                    tracer._local.inherited = parent
                    return target(*a, **k)
                kwargs["target"] = run_under_parent
            orig_init(thread, *args, **kwargs)

        threading.Thread.__init__ = init
        self._patched.append((threading.Thread, "__init__", orig_init))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write spans and marks; the file appears complete or not at all."""
        with open(path + ".tmp", "w") as f:
            json.dump({"spans": list(self.spans), "marks": list(self.marks)},
                      f)
        os.replace(path + ".tmp", path)


def span_overhead_s(n: int = 20000) -> float:
    """Bookkeeping cost of one span, timed on an idle tracer."""
    tracer = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def heap_sampler(spark, stop: threading.Event, out: dict) -> None:
    """Track the driver JVM's peak used heap in ``out["heap_mb"]``,
    sampled every 0.5 s until ``stop`` is set."""
    bean = spark.sparkContext._jvm.java.lang.management \
        .ManagementFactory.getMemoryMXBean()
    while True:
        used = bean.getHeapMemoryUsage().getUsed() / (1024 * 1024)
        out["heap_mb"] = max(out.get("heap_mb", 0.0), used)
        if stop.wait(0.5):
            return


def no_span(*_args, **_attrs):
    """Stands in for ``Tracer.span`` in an untraced run."""
    return nullcontext({})


def plan_nodes(plan) -> int:
    """Node count of a JVM ``SparkPlan`` (lines of its tree string)."""
    return sum(1 for line in plan.treeString().splitlines() if line.strip())
