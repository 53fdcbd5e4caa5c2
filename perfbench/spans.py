"""In-memory span recorder for the traced run.

Spans are recorded around the public functions of each layer by wrapping
them from the benchmark's side (``install``/``uninstall`` swap the class or
module attributes); nothing inside the program is instrumented.  A span is
``(name, start, end, parent, op)``: ``parent`` is the index of the enclosing
span, ``op`` the id of the op that caused it (``-1`` during set-up).  Spans
stay in memory and are written out once when the run ends.

A layer's self time is its span's duration minus the time covered by its
child spans of the layers named (only the outermost such descendant counts,
so a Spark action under a dialect call is not subtracted twice).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    op: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        return traced

    # -- patching ----------------------------------------------------------

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap ``getattr(owner, attr)`` as span ``name`` for each target."""
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            kids.setdefault(s.parent, []).append(i)
        return kids

    def covered_ms(self, idx: int, names: set[str], kids=None) -> float:
        """Time inside span ``idx`` covered by its outermost descendants
        named in ``names``."""
        kids = self.children() if kids is None else kids
        total = 0.0
        stack = list(kids.get(idx, ()))
        while stack:
            i = stack.pop()
            if self.spans[i].name in names:
                total += self.spans[i].ms
            else:
                stack.extend(kids.get(i, ()))
        return total

    def descendants(self, idx: int, kids=None):
        kids = self.children() if kids is None else kids
        stack = list(kids.get(idx, ()))
        while stack:
            i = stack.pop()
            yield i
            stack.extend(kids.get(i, ()))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps([s.name, s.start, s.end, s.parent, s.op]) + "\n")
