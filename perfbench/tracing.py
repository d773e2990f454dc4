"""In-memory span recorder for the traced benchmark run.

Spans are recorded only in the benchmark's own code, around each call into
a layer's public function and around each action. A span has a name, a
start, an end, a parent and a request id; spans stay in memory and are
written out once, at exit. With tracing off, ``span`` is a no-op context
manager, so the untraced run pays nothing measurable.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "request_id": request_id or (parent["request_id"] if parent else None),
            "parent": parent["id"] if parent else None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def self_times(self) -> dict[str, float]:
        """Self time per layer: a span's duration minus the part of it
        covered by its children, summed by layer (the name's first dotted
        component)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" not in s:
                continue
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "counts": dict(self.counts), "spans": self.spans}, f)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
