"""In-memory spans around the package's layer boundaries.

The tracer wraps module attributes of the package from the outside, so
the package itself is not edited: every package module that holds the
original function (by ``from x import f`` or as ``x.f``) gets the wrapper.
The wrappers stay for the life of the process, which is one run.
Each span runs under its own Spark job group, so jobs are charged to the
innermost open span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "jobs", "counts")

    def __init__(self, sid: int, name: str, parent: "Span | None") -> None:
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs = 0
        self.counts: dict[str, int] = {}

    @property
    def group(self) -> str:
        return f"span-{self.sid}-{self.name}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, counters) -> None:
        self.counters = counters
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._by_group: dict[str, Span] = {}
        self.cached_mb_peak = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent)
        self.spans.append(s)
        self._by_group[s.group] = s
        self._stack.append(s)
        self.counters.set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.counters.set_group(parent.group if parent else None)

    def count(self, key: str) -> None:
        """Add one to `key` on the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0) + 1

    def sample_cached(self) -> None:
        if self.enabled:
            self.cached_mb_peak = max(self.cached_mb_peak,
                                      self.counters.cached_mb())

    def charge(self, work, fallback: Span) -> None:
        """Charge the jobs of a counters read to the spans that ran them;
        jobs of no span (a streaming query's own thread) go to `fallback`."""
        for group, ids in work.groups.items():
            self._by_group.get(group, fallback).jobs += len(ids)

    def wrap(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None and self.enabled:
                    after()
                return out

        return wrapper

    def patch(self, package: str, module, attr: str, name: str, after=None) -> None:
        """Wrap `module.attr` in a span named `name`, everywhere in `package`."""
        orig = getattr(module, attr)
        self.replace(package, orig, self.wrap(orig, name, after))

    def replace(self, package: str, orig, new) -> None:
        """Point every loaded module of `package` that refers to `orig`
        (as ``x.f`` or through ``from x import f``) at `new`."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, new)

    def patch_counter(self, owner, attr: str, key: str, when=None) -> None:
        """Count calls of `owner.attr` on the innermost span; `when`
        filters on the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            if when is None or when(*args, **kwargs):
                self.count(key)
            return orig(*args, **kwargs)

        setattr(owner, attr, counted)

    # -- reading spans back ------------------------------------------------

    def self_time(self, s: Span) -> float:
        # children of one span run one after another on this thread
        return s.duration - sum(c.duration for c in self.children(s))

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent is s]

    def within(self, root: Span, name: str | None = None) -> list[Span]:
        """Spans below `root` (any depth), optionally only those named `name`."""
        out = []
        for s in self.spans[root.sid + 1:]:
            p = s.parent
            while p is not None and p is not root:
                p = p.parent
            if p is root and (name is None or s.name == name):
                out.append(s)
        return out
