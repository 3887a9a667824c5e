"""In-memory spans around the engine's public functions.

A span records name, start, end, parent span and run id.  Spans are
opened by wrappers that the benchmark installs on public functions from
outside the engine (``Tracer.wrap``), kept in memory and written out once
at the end.  Parents nest per thread; a span opened on a worker thread
(the engine's asynchronous table commits) has no parent but carries the
run id of the operation that was running when it started.

Most wrapped calls build lazy DataFrames, so their spans measure
driver-side plan construction; the Spark jobs they define run later,
inside whichever span triggers them.

The benchmark's own checks between and after the timed segments call the
same functions; ``timed`` and ``totals`` keep only the spans that start
inside the timed windows.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.run_id = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._next_id = 0
        # converts perf_counter() readings to epoch seconds (the windows)
        self._epoch = time.time() - time.perf_counter()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, kwargs: dict | None = None) -> dict:
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        stack = self._stack()
        span = {"id": sid, "name": name, "run": self.run_id,
                "parent": stack[-1]["id"] if stack else None,
                "start": time.perf_counter(), "end": None}
        if kwargs:
            span["kwargs"] = kwargs
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str,
             keep_kwargs: tuple = ()) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = self.start(name,
                              {k: kwargs.get(k) for k in keep_kwargs})
            try:
                return orig(*args, **kwargs)
            finally:
                self.end(span)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def timed(self, windows) -> list[dict]:
        """The spans that start inside one of the windows
        [(start_epoch_s, end_epoch_s, ...)]."""
        wins = [(w[0] - self._epoch, w[1] - self._epoch) for w in windows]
        return [s for s in self.spans
                if any(a <= s["start"] <= b for a, b in wins)]

    def totals(self, windows) -> dict[str, dict]:
        """Per span name, over the spans inside the windows: count, total
        seconds and self seconds (the span minus the time its child spans
        cover)."""
        spans = self.timed(windows)
        child_s: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for s in spans:
            d = s["end"] - s["start"]
            o = out[s["name"]]
            o["count"] += 1
            o["total_s"] += d
            o["self_s"] += max(d - child_s[s["id"]], 0.0)
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({
                    **s, "start": round(s["start"] - t0, 6),
                    "end": round(s["end"] - t0, 6)}) + "\n")

