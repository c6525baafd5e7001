"""In-memory span tracing by wrapping public functions.

Nothing is recorded inside the package: :class:`Tracer` swaps a public
function for a wrapper at the place it is looked up (a module global or
a class attribute), records one span per call, and puts the original
back on :meth:`Tracer.uninstall`. Spans stay in memory until
:meth:`Tracer.dump` writes them out at the end of a run.

A span carries a name, start and end (``perf_counter`` seconds), the id
of its parent span on the same thread, and a request id shared by every
span under the same root span.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object, bool]] = []

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        """Context manager recording one span around its body."""
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        s = Span(sid, name, time.perf_counter(), 0.0,
                 parent.id if parent else None, parent.request if parent else sid)
        stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- patching --------------------------------------------------------

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper. A classmethod stays
        one; an inherited method is shadowed on ``owner`` and the shadow
        removed on uninstall."""
        own = isinstance(owner, type) and attr in owner.__dict__
        raw = owner.__dict__[attr] if own else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(raw.__func__, name))
        else:
            new = self.wrap(raw, name)
        self._patched.append((owner, attr, raw, own or not isinstance(owner, type)))
        setattr(owner, attr, new)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` (a module global or a class's own attribute)
        to ``new`` until :meth:`uninstall`."""
        self._patched.append((owner, attr, vars(owner)[attr], True))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, raw, restore in reversed(self._patched):
            if restore:
                setattr(owner, attr, raw)
            else:
                delattr(owner, attr)
        self._patched.clear()

    # -- output ----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per-span self time: its duration minus its direct children's."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.id: max(0.0, (s.end - s.start) - child[s.id]) for s in spans}


def durations(spans: list[Span], name: str) -> list[float]:
    """Wall durations (s) of every span called ``name``, in start order."""
    return [s.end - s.start for s in sorted(spans, key=lambda s: s.start) if s.name == name]
