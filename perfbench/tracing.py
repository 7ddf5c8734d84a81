"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files only: ``Tracer.patch``
replaces chosen public functions of a program module with a wrapper that
opens a span around each call, and ``Tracer.span`` marks the benchmark's own
operations. Only driver-side functions are wrapped; code that runs inside
Spark's Python workers is timed by the Spark-free kernel leg instead.

A span is ``(id, name, start_ns, end_ns, parent, run)``. The Spark driver
process is single threaded around Spark calls, so nesting follows one
stack. A span's self time is its duration minus the union of its children's
intervals.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start_ns": time.perf_counter_ns(),
               "end_ns": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_ns"] = time.perf_counter_ns()

    def patch(self, module, label: str, names: list[str]) -> None:
        """Wrap ``module.<name>`` for each name; ``set_enabled`` turns the
        wrappers on and off by swapping the module attribute."""
        for name in names:
            orig = getattr(module, name)

            @functools.wraps(orig)
            def wrapper(*a, _orig=orig, _span=f"{label}.{name}", **kw):
                with self.span(_span):
                    return _orig(*a, **kw)
            self._patches.append((module, name, orig, wrapper))

    def set_enabled(self, on: bool) -> None:
        self.enabled = on
        for module, name, orig, wrapper in self._patches:
            setattr(module, name, wrapper if on else orig)

    # -- analysis --------------------------------------------------------

    def self_ns(self) -> dict[int, int]:
        """Self time of every closed span, by span id (a run that failed
        mid-operation leaves its open spans out)."""
        closed = [s for s in self.spans if s["end_ns"] is not None]
        children: dict[int, list[dict]] = {}
        for s in closed:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in closed:
            covered, cur_lo, cur_hi = 0, None, None
            for c in sorted(children.get(s["id"], []),
                            key=lambda c: c["start_ns"]):
                if cur_hi is None or c["start_ns"] > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = c["start_ns"], c["end_ns"]
                else:
                    cur_hi = max(cur_hi, c["end_ns"])
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
        return out

    def durations(self, name: str, after_ns: int | None = None) -> list[float]:
        """Seconds of every closed span called ``name`` (optionally only
        those starting at or after ``after_ns``)."""
        return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in self.spans
                if s["name"] == name and s["end_ns"] is not None
                and (after_ns is None or s["start_ns"] >= after_ns)]

    def median_s(self, name: str, after_ns: int | None = None
                 ) -> float | None:
        """Median call time of ``name``: calls at/after ``after_ns`` when
        there are any, else every call in the run; None if never called."""
        vals = self.durations(name, after_ns) or self.durations(name)
        return statistics.median(vals) if vals else None

    def summary(self) -> dict[str, dict]:
        selfs = self.self_ns()
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end_ns"] is None:
                continue
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0,
                                           "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
            d["self_s"] += selfs[s["id"]] / 1e9
        return out

    def write(self, path: str) -> None:
        selfs = self.self_ns()
        spans = [dict(s, self_ns=selfs[s["id"]]) for s in self.spans
                 if s["end_ns"] is not None]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans,
                       "summary": self.summary()}, f)
