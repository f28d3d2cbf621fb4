"""In-memory span tracer that times calls into the program from outside.

The program stays uninstrumented: the tracer replaces module or class
attributes with timing wrappers for the duration of a traced section and
puts the originals back afterwards. A wrapped name that no longer exists
(a function renamed or removed by a later change) is recorded as absent
and its stage reports zero; the run never fails because of it.

A span is (name, start, end, parent index). A span's self time is its
duration minus the durations of its direct children; calls are nested on
one thread, so children always lie inside their parent.
"""

from __future__ import annotations

import functools
import importlib
import math
import time
from contextlib import contextmanager
from typing import Callable


_INHERITED = object()


class Tracer:
    def __init__(self) -> None:
        self.names: list[str] = []
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.parents: list[int] = []
        self.counts: dict[str, float] = {}
        self.absent: list[str] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------
    def _open(self, name: str) -> int:
        idx = len(self.names)
        self.names.append(name)
        self.parents.append(self._stack[-1] if self._stack else -1)
        self.ends.append(0.0)
        self._stack.append(idx)
        self.starts.append(time.perf_counter())
        return idx

    def _close(self, idx: int) -> None:
        self.ends[idx] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    # -- patching ------------------------------------------------------------
    def wrap(self, target: str, name: str, on_call: Callable | None = None) -> bool:
        """Time every call of ``target`` ("pkg.module:attr" or
        "pkg.module:Class.attr") as span ``name``. ``on_call(args,
        result)`` may record counts. Returns False, and records ``name``
        as absent, when the target does not exist."""
        mod_name, _, path = target.partition(":")
        try:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
        except (ImportError, AttributeError):
            self.absent.append(name)
            return False
        if not callable(fn):
            self.absent.append(name)
            return False
        tracer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            idx = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if on_call is not None:
                on_call(args, result)
            return result

        # a class attribute may be inherited: restore by deleting the
        # override rather than copying the base's function onto the class
        original = owner.__dict__.get(attr, _INHERITED) if isinstance(owner, type) else fn
        self._patched.append((owner, attr, original))
        setattr(owner, attr, timed)
        return True

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            if original is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # -- analysis ------------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e in zip(self.names, self.starts, self.ends) if n == name]

    def self_times(self) -> list[float]:
        own = [e - s for s, e in zip(self.starts, self.ends)]
        for i, p in enumerate(self.parents):
            if p >= 0:
                own[p] -= self.ends[i] - self.starts[i]
        return own

    def self_total(self, *names: str) -> float:
        own = self.self_times()
        wanted = set(names)
        return sum(t for n, t in zip(self.names, own) if n in wanted)

    def total(self, *names: str) -> float:
        return sum(sum(self.durations(n)) for n in names)

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (name, start, end, parent)."""
        import json

        t0 = min(self.starts, default=0.0)
        with open(path, "w") as f:
            for i, n in enumerate(self.names):
                f.write(json.dumps({"id": i, "name": n, "start": self.starts[i] - t0,
                                    "end": self.ends[i] - t0, "parent": self.parents[i]}) + "\n")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 for an empty list."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]
