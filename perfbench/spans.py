"""In-memory span tracer for the traced run.

The tracer wraps the public functions of each engine layer from outside the
package (``Tracer.patch``): the package's files are never changed, and
nothing is wrapped in an untraced run. Every call of a wrapped function
records a span (name, start, end, parent span, request id) in memory;
``dump`` writes them out when the run ends.

A span's self time is its duration minus the time its child spans cover.
Children always run on the parent's thread (a span stack per thread), so
child intervals never overlap and the subtraction is exact.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    #: summed duration of the direct children
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        #: (count name, request id) -> total
        self.counts: dict[tuple[str, str | None], float] = defaultdict(float)
        #: request id -> Spark job group its jobs ran under
        self.groups: dict[str, str] = {}
        #: request id -> when the server's tracked-query window opened
        self.entered: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request(self) -> str | None:
        return getattr(self._local, "request", None)

    @request.setter
    def request(self, rid: str | None) -> None:
        self._local.request = rid

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None,
                    self.request)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack().pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.end - span.start

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[(name, self.request)] += n

    def wrap(self, fn, name, after=None):
        """``fn`` recording a span per call. ``name`` may be a callable of
        the call's arguments; ``after(result)`` may record counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name(*args, **kwargs) if callable(name) else name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if after is not None:
                after(out)
            return out

        return traced

    def patch(self, owner, attr: str, name, after=None) -> None:
        """Replace the function ``owner.attr`` by its traced wrapper until
        ``unpatch``."""
        self.replace(owner, attr, self.wrap(inspect.getattr_static(owner, attr), name, after))

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` to ``value`` until ``unpatch``."""
        self._restore.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, value)

    def patch_public(self, module, name: str) -> None:
        """Trace every public function of ``module`` and every public
        method of its public classes under one span name."""
        for attr, obj in list(vars(module).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != module.__name__:
                continue
            if inspect.isfunction(obj):
                self.patch(module, attr, name)
            elif inspect.isclass(obj):
                for m, fn in list(vars(obj).items()):
                    if not m.startswith("_") and inspect.isfunction(fn):
                        self.patch(obj, m, name)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- reports -----------------------------------------------------------

    @staticmethod
    def self_times(spans) -> dict[str, float]:
        """Summed self time of ``spans`` by span name."""
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += s.self_s
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request": s.request,
                }) + "\n")
