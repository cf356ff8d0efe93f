"""In-memory span recorder for the benchmark's traced runs.

A span is ``(id, name, start, end, parent, op)``: ``parent`` is the span
open when it started and ``op`` the id of the enclosing operation span, so
all spans of one operation share an identifier. Spans stay in memory; the
run writes them out once, at exit, in its run record.

With ``enabled=False`` every call is a no-op, so the untraced run pays one
attribute test per boundary.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        # one stack for all threads: a foreachBatch callback runs on a py4j
        # thread while the main thread waits inside the trigger span, so the
        # callback's spans nest under that trigger
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            op = sid if name == "op" else (self.spans[parent]["op"] if parent is not None else None)
            rec = {"id": sid, "name": name, "start": None, "end": None,
                   "parent": parent, "op": op}
            self.spans.append(rec)
            self._stack.append(sid)
        rec["start"] = t1 = time.perf_counter()
        self.cost_s += t1 - t0
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.remove(sid)
            self.cost_s += time.perf_counter() - rec["end"]

    def totals(self, since: int = 0, until: int | None = None) -> dict[str, dict[str, float]]:
        """Per span name over the spans recorded between two marks
        (``len(spans)`` at the time): count, total seconds and self seconds
        (duration minus the union of its direct children's intervals)."""
        spans = self.spans[since:until]
        children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
        for s in spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"] or s["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            t = out[s["name"]]
            t["n"] += 1
            t["total_s"] += dur
            t["self_s"] += dur - covered
        return dict(out)
