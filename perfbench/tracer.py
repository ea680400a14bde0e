"""In-memory span tracer that wraps the program's public functions.

Nothing inside the package is edited: `Tracer.install` replaces a
function at the name its callers look it up by (a module attribute or a
class attribute) with a wrapper that records a span around the call,
and `Tracer.uninstall` puts the original back. A span is
(name, start, end, parent, statement id); spans stay in memory until
`dump` writes them out at the end of a run. A target may also name a
key under which the wrapper keeps the value the call last returned.

Self time of a span is its duration minus the time its direct children
cover. The driver runs every wrapped call on one thread and each call
blocks until Spark returns, so children never overlap and the self
times of all spans under a root sum to the root's duration.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "stmt", "child_time",
                 "last")

    def __init__(self, name: str, start: float, parent: int | None,
                 stmt: str | None):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.stmt = stmt
        self.child_time = 0.0
        self.last = -1      # index of the last span of this subtree

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - self.child_time


class Tracer:
    """Records nested spans; wraps targets only while installed."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []
        self.stmt: str | None = None
        self.kept: dict[str, object] = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, self.clock(), parent, self.stmt)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            sp.last = len(self.spans) - 1
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_time += sp.duration

    def _wrapper(self, fn, name: str, keep: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if keep is not None:
                tracer.kept[keep] = out
            return out

        return traced

    def install(self, targets) -> None:
        """Wrap each (owner, attribute, span name[, keep]) target;
        `owner` is a module path string or an object (class, module).
        With `keep`, the call's last return value is `self.kept[keep]`."""
        for owner, attr, name, *keep in targets:
            if isinstance(owner, str):
                owner = importlib.import_module(owner)
            fn = getattr(owner, attr)
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self._wrapper(fn, name, *keep))

    def uninstall(self) -> None:
        while self._originals:
            owner, attr, fn = self._originals.pop()
            setattr(owner, attr, fn)

    def descendants(self, root: int) -> list[Span]:
        """Spans under `root` (inclusive): spans are appended in start
        order, so a closed subtree is the run up to its `last` index."""
        return self.spans[root:self.spans[root].last + 1]

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree of `root`."""
        totals: dict[str, float] = {}
        for sp in self.descendants(root):
            totals[sp.name] = totals.get(sp.name, 0.0) + sp.self_time
        return totals

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "stmt": s.stmt}
                       for s in self.spans], fh)
