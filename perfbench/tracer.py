"""Span recorder for the traced benchmark run.

The traced run wraps the engine's public functions and methods by
patching module and class attributes from here, so no program code
changes. Every wrapped call becomes a span ``(id, parent, op, name,
start, end, thread)``: ``parent`` is the enclosing span on the same
thread and ``op`` the id of that thread's outermost span, so all spans
of one benchmark operation share it. Spans stay in memory until
:meth:`Tracer.write` dumps them with the report.

A layer's self time is the summed duration of its spans minus the part
of each span covered by its children.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.open: dict[str, tuple[int, int]] = {}  # keyed open spans
        self.paused = False  # while set, wrapped calls record nothing

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, after=None, adopt=None, key=None):
        """Run ``fn`` inside a span; ``after(result, args, kwargs)`` may
        record counts once the call returned (its time is overhead).
        ``adopt`` is a ``(span id, op id)`` from another thread that
        becomes the parent when this thread has no open span (work the
        engine hands to its own threads); a span opened with ``key`` is
        listed under it in :attr:`open` for such children to find."""
        if self.paused:
            return fn(*args, **kwargs)
        t_in = time.perf_counter()
        st = self._stack()
        sid = next(self._ids)
        outer = st[-1] if st else adopt
        parent = outer[0] if outer else None
        op = outer[1] if outer else sid
        st.append((sid, op))
        if key is not None:
            self.open[key] = (sid, op)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            return_value = fn(*args, **kwargs)
        except Exception as e:
            self.count(f"exc:{type(e).__name__}")
            raise
        finally:
            t1 = time.perf_counter()
            st.pop()
            if key is not None:
                self.open.pop(key, None)
            with self._lock:
                self.spans.append(
                    (sid, parent, op, name, t0, t1, threading.get_ident())
                )
        if after is not None:
            after(return_value, args, kwargs)
        self.overhead_s += time.perf_counter() - t1
        return return_value

    def span(self, name: str, fn, *args, adopt=None, **kwargs):
        return self.call(name, fn, args, kwargs, adopt=adopt)

    def adopt(self, key: str) -> tuple[int, int] | None:
        return self.open.get(key)

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += value

    def sample(self, name: str, value: float) -> None:
        with self._lock:
            self.samples[name].append(value)

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None,
             name_of=None, adopt=None, key_of=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.

        ``before(args, kwargs)`` runs ahead of the call and returns a
        context handed to ``after(result, args, kwargs, ctx)``; both count
        as tracer overhead. ``name_of(args, kwargs)`` may refine the span
        name per call (e.g. by write mode); ``adopt(args, kwargs)`` may
        name a cross-thread parent and ``key_of(args, kwargs)`` the key
        this span is listed under (see :meth:`call`)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if tracer.paused:
                return original(*args, **kwargs)
            t = time.perf_counter()
            span_name = name_of(args, kwargs) if name_of else name
            ctx = before(args, kwargs) if before else None
            tracer.overhead_s += time.perf_counter() - t
            cb = (lambda r, a, k: after(r, a, k, ctx)) if after else None
            parent = adopt(args, kwargs) if adopt else None
            key = key_of(args, kwargs) if key_of else None
            return tracer.call(span_name, original, args, kwargs, cb, parent, key)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- report ----------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s[5] - s[4] for s in self.spans if s[3] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the union of the
        children's intervals (children on other threads may overlap)."""
        by_id = {s[0]: s for s in self.spans}
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            p = by_id.get(s[1])
            if p is not None:
                children[p[0]].append((max(s[4], p[4]), min(s[5], p[5])))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, float("-inf")
            for lo, hi in sorted(children[s[0]]):
                lo = max(lo, reach)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s[3]] += (s[5] - s[4]) - covered
        return dict(out)

    def layer_table(self) -> dict[str, dict]:
        """Self time and call count per layer (the span-name prefix
        before ``:``)."""
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            calls[s[3].split(":", 1)[0]] += 1
        table: dict[str, dict] = defaultdict(lambda: {"self_s": 0.0, "calls": 0})
        for name, t in self.self_times().items():
            table[name.split(":", 1)[0]]["self_s"] += t
        for layer, n in calls.items():
            table[layer]["calls"] = n
        return dict(table)

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s[4] for s in self.spans), default=0.0)
        doc = {
            **extra,
            "layers": self.layer_table(),
            "self_time_by_span": self.self_times(),
            "counts": dict(self.counts),
            "tracer_overhead_s": self.overhead_s,
            "spans": [
                {"id": s[0], "parent": s[1], "op": s[2], "name": s[3],
                 "start": s[4] - t0, "end": s[5] - t0, "thread": s[6]}
                for s in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f)
