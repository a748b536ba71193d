"""In-memory spans around calls into the engine's layers.

The benchmark installs wrappers on public callables from its own files
(no library code is edited). A wrapper records a span only while the
tracer is enabled, so an untraced run pays one attribute check per call.

One client drives the engine in a closed loop and the server runs one
statement at a time, so the spans of a request nest in time even when
they run on different threads (client, HTTP handler, broker worker).
That lets one stack, guarded by a lock, give every span its parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request = 0  # id shared by the spans of one timed operation
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; yields the span dict (or
        ``None`` when disabled) so callers can attach counters."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        with self._lock:
            sp = {
                "name": name,
                "parent": self._stack[-1]["idx"] if self._stack else None,
                "req": self.request,
                "idx": len(self.spans),
            }
            self.spans.append(sp)
            self._stack.append(sp)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp["end"] = t1
            with self._lock:
                self._stack.remove(sp)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.
        ``on_exit(span, args, result)`` may attach counters; its run time
        is counted as tracing overhead."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_exit is not None:
                    t0 = time.perf_counter()
                    on_exit(sp, args, out)
                    dt = time.perf_counter() - t0
                    tracer.overhead_s += dt
                    sp["hook_s"] = sp.get("hook_s", 0.0) + dt
                return out

        setattr(owner, attr, wrapper)

    # ------------------------------------------------------------- reports
    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part its
        children cover (and minus time in its own counter hooks)."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None and "end" in sp:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if "end" in sp:
                out[sp["name"]] += sp["end"] - sp["start"] - child[sp["idx"]] - sp.get("hook_s", 0.0)
        return dict(out)

    def totals(self, name: str) -> list[float]:
        return [sp["end"] - sp["start"] for sp in self.spans if sp["name"] == name and "end" in sp]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
