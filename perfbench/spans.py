"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent and step id. A span's self time is its
duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # time.time() seconds, comparable with Spark event-log ms / 1000
    end: float
    parent: int | None
    step: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (children may overlap when calls run
    on several threads)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals,
    each child clipped to the parent."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {s.id: s.duration - covered(kids.get(s.id, [])) for s in spans}


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing, so the
    untraced path pays one attribute check per wrapped call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.step: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), 0.0, parent, self.step)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.time()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap``.

        Wrapping a module attribute reaches every caller that looks the name
        up in that module at call time. The span stack is not shared safely
        across threads: wrap only calls made from the driver's main thread."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")
