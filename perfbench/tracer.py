"""In-memory span recorder for the traced runs.

A span is (name, start, end, parent, query id); timestamps come from
``time.monotonic`` (CLOCK_MONOTONIC on Linux), which is one clock for every
process on the host, so spans recorded in the API server line up with the
client's request spans. Parents are tracked per thread; the query id is
inherited from the parent unless a span sets its own. Spans stay in memory
until the run ends, when :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """``enabled`` switches recording for the whole run; :meth:`set_active`
    switches it per thread, so traced and untraced queries can interleave
    in one process."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def set_active(self, flag: bool) -> None:
        self._local.active = flag

    def active(self) -> bool:
        return self.enabled and getattr(self._local, "active", True)

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, qid=None):
        """Open a span on this thread (None when tracing is off); close it
        with :meth:`end`. The query id defaults to the parent's."""
        if not self.active():
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": parent["id"] if parent else None,
               "qid": qid if qid is not None else
               (parent["qid"] if parent else None)}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        return rec

    def end(self, rec) -> None:
        if rec is not None:
            rec["end"] = time.monotonic()
            self._stack().remove(rec)

    @contextmanager
    def span(self, name: str, qid=None):
        rec = self.begin(name, qid)
        try:
            yield rec
        finally:
            self.end(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union(intervals) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it covered by child spans."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(
                (s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _union(children.get(s["id"], [])) for s in spans}


def coverage(root: dict, spans: list[dict]) -> float:
    """Share of ``root``'s wall time covered by the other spans of its
    query (clipped to the root's interval)."""
    lo, hi = root["start"], root["end"]
    inner = [(max(s["start"], lo), min(s["end"], hi)) for s in spans
             if s is not root and s["qid"] == root["qid"]
             and s["end"] > lo and s["start"] < hi]
    return _union(inner) / (hi - lo) if hi > lo else 1.0
