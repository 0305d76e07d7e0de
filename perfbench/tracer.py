"""Spans recorded from the benchmark's own files.

A span has a name, a start, an end and the span that was open on the same
thread when it began (its parent).  `Tracer.span` records the benchmark's
own phases; `Tracer.instrument` wraps functions and methods of the engine's
modules in place, so every call into a layer records a span named after the
layer.  Spans stay in memory until `Tracer.dump`.

Only calls made in this process are seen: Spark tasks run in worker
processes, so the Spark-side layers are measured by in-process probes that
call the same per-split and per-segment functions the tasks run.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []   # [id, parent, name, t0, t1, attrs]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, object]] = []
        self.t0 = time.perf_counter()

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, attrs: dict | None,
              parent: list | None = None) -> list:
        st = self._stack()
        if parent is None and st:
            parent = st[-1]
        with self._lock:
            rec = [len(self.spans), parent[0] if parent else None, name,
                   time.perf_counter(), None, attrs]
            self.spans.append(rec)
        st.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[4] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, parent: list | None = None, **attrs):
        """A benchmark phase; recorded in traced and untraced runs alike.
        `parent` links a span opened on a worker thread to the span that
        started the worker."""
        rec = self._open(name, attrs or None, parent)
        try:
            yield rec
        finally:
            self._close(rec)

    # -- instrumentation ----------------------------------------------------
    def instrument(self, owner, attr: str, name: str, before=None,
                   after=None) -> None:
        """Replace `owner.attr` with a wrapper that records span `name`
        around each call.  `before(args, kwargs)` may return a dict of
        attributes stored on the span; `after(result, attrs)` may add to
        it once the call returned."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = before(args, kwargs) if before is not None else None
            rec = tracer._open(name, attrs)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(rec)
            if after is not None:
                if rec[5] is None:
                    rec[5] = {}
                after(result, rec[5])
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, wrapper))

    def restore(self) -> None:
        """Undo every `instrument` (last first)."""
        for owner, attr, orig, _ in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------
    def closed(self) -> list[list]:
        return [s for s in self.spans if s[4] is not None]

    def self_times(self, within: list | None = None) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover.
        `within`: restrict to descendants of these spans (inclusive)."""
        spans = self.closed()
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s[1] is not None:
                child_time[s[1]] += s[4] - s[3]
        keep = None if within is None else self.descendants(within)
        return {s[0]: (s[4] - s[3]) - child_time[s[0]]
                for s in spans if keep is None or s[0] in keep}

    def descendants(self, roots: list) -> set[int]:
        ids = {r[0] for r in roots}
        for s in self.spans:          # parents are recorded before children
            if s[1] in ids:
                ids.add(s[0])
        return ids

    def table(self, within: list | None = None) -> dict[str, dict]:
        """Per span name: calls, total seconds, self seconds."""
        selfs = self.self_times(within)
        out: dict[str, dict] = {}
        for s in self.closed():
            if s[0] not in selfs:
                continue
            row = out.setdefault(s[2], {"calls": 0, "total_s": 0.0,
                                        "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s[4] - s[3]
            row["self_s"] += selfs[s[0]]
        return out

    def by_name(self, name: str, within: list | None = None) -> list[list]:
        keep = None if within is None else self.descendants(within)
        return [s for s in self.closed()
                if s[2] == name and (keep is None or s[0] in keep)]

    def top_level_totals(self) -> dict[str, float]:
        """Seconds per name of the spans without a parent (the phases)."""
        out: dict[str, float] = {}
        for s in self.closed():
            if s[1] is None:
                out[s[2]] = out.get(s[2], 0.0) + s[4] - s[3]
        return out

    def top_level_coverage(self, t_start: float, t_end: float) -> float:
        """Share of [t_start, t_end] covered by spans without a parent."""
        iv = sorted((max(s[3], t_start), min(s[4], t_end))
                    for s in self.closed() if s[1] is None)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / max(t_end - t_start, 1e-9)

    def dump(self) -> list[dict]:
        return [{"id": s[0], "parent": s[1], "name": s[2],
                 "start_s": s[3] - self.t0, "end_s": s[4] - self.t0,
                 **({"attrs": s[5]} if s[5] else {})}
                for s in self.closed()]
