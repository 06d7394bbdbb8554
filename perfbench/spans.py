"""In-memory span recording around the program's public entry points.

The traced run installs wrappers from here; nothing inside `cantine_spark`
is changed. A span has a name, start and end (perf_counter seconds), the
span that was open on the same thread when it started (its parent), an
optional request id and free-form attributes (a batch span carries its
batch size). Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.duration - covered(kids.get(s.sid, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans; `wrap` patches a callable attribute in place for the
    rest of the process."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0  # time spent recording, not in the callee

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, request: str | None = None, **attrs) -> Span:
        t0 = time.perf_counter()
        st = self._stack()
        sp = Span(next(self._ids), name, 0.0,
                  parent=st[-1].sid if st else None,
                  request=request, attrs=attrs)
        st.append(sp)
        sp.start = time.perf_counter()
        self._account(sp.start - t0)
        return sp

    def close(self, sp: Span, **attrs) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        sp.attrs.update(attrs)
        with self._lock:
            self.spans.append(sp)
        self._account(time.perf_counter() - sp.end)

    def _account(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    def wrap(self, owner, attr: str, name: str, on_result=None,
             on_call=None) -> None:
        """Patch `owner.attr` to run inside a span `name`. `on_call(args,
        kwargs)` and `on_result(result)` return extra span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = on_call(args, kwargs) if on_call else {}
            sp = tracer.open(name, **extra)
            try:
                res = orig(*args, **kwargs)
            except BaseException:
                tracer.close(sp, error=True)
                raise
            tracer.close(sp, **(on_result(res) if on_result else {}))
            return res

        setattr(owner, attr, traced)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
