"""Spans, counters and the statistics the benchmark reports.

A span has a name, a start, an end, a parent span and the id of the
operation (one sync, ingest or query) that caused it. Spans stay in
memory and are written once, when the run ends. With tracing off,
``Tracer.span`` is a no-op context manager, so untraced runs pay nothing
for the hooks.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from collections import defaultdict


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def summary(values) -> dict:
    """Median and sample count; quartiles once there are four samples."""
    values = sorted(values)
    out = {"median": median(values), "n": len(values)}
    if len(values) >= 4:
        q1, _q2, q3 = statistics.quantiles(values, n=4)
        out["q1"], out["q3"] = q1, q3
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[tuple[str, int, str, float]] = []
        self.ops: list[tuple[str, int]] = []
        self._local = threading.local()
        self._op: tuple[str, int] | None = None
        self._next_op = 0
        self._next_span = 0
        self._root: int | None = None

    # -- operations -----------------------------------------------------------
    @contextlib.contextmanager
    def operation(self, kind: str):
        """Every span opened until this block exits, on any thread, shares
        the operation's id; the operation itself is the root span."""
        self._next_op += 1
        self._op = (kind, self._next_op)
        self.ops.append(self._op)
        try:
            with self.span(kind, root=True):
                yield
        finally:
            self._op = self._root = None

    def current_op(self) -> tuple[str, int]:
        return self._op or ("none", 0)

    def count(self, name: str, value: float, op: tuple[str, int] | None = None) -> None:
        """Record a count against ``op``, by default the operation running now."""
        if self.enabled:
            kind, op_id = op or self.current_op()
            self.counts.append((kind, op_id, name, value))

    def per_op(self, kind: str, name: str, spans: bool) -> list[float]:
        """For each operation of ``kind``: the summed duration of its spans
        called ``name`` (``spans=True``), each clipped to the operation's
        own interval (a span another thread opened during the operation
        may outlast it), or the sum of its counts called ``name``; 0 where
        it has none."""
        ids = [i for k, i in self.ops if k == kind]
        tot = dict.fromkeys(ids, 0.0)
        if spans:
            bounds = {s["op"]: (s["start"], s["end"]) for s in self.spans
                      if s["parent"] is None and s["op"] in tot}
            items = ((s["op"], s["name"], max(0.0, min(s["end"], bounds[s["op"]][1])
                                              - max(s["start"], bounds[s["op"]][0])))
                     for s in self.spans if s["op"] in bounds)
        else:
            items = ((op, n, v) for _k, op, n, v in self.counts)
        for op, n, v in items:
            if n == name and op in tot:
                tot[op] += v
        return [tot[i] for i in ids]

    # -- spans ------------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else (None if root else self._root)
        self._next_span += 1
        sid = self._next_span
        kind, op_id = self.current_op()
        rec = {"id": sid, "name": name, "parent": parent, "op": op_id,
               "op_kind": kind, "start": time.perf_counter(), "end": None}
        if root:
            self._root = sid
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per operation type and span name: self time summed over each
        operation, then the median over operations of that type."""
        per_op: dict[tuple[str, int], dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for kind, op_id, name, secs in self_times(self.spans):
            per_op[(kind, op_id)][name] += secs
        by_kind: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        for (kind, _op), names in per_op.items():
            for name, secs in names.items():
                by_kind[kind][name].append(secs)
        return {kind: {name: median(v) for name, v in sorted(names.items())}
                for kind, names in sorted(by_kind.items())}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "layers": self.layer_table(), **extra}, f)


def self_times(spans: list[dict]):
    """(op_kind, op, name, self seconds) per span: its duration minus the
    part of its interval that its children cover. Children running in
    parallel on other threads may overlap each other; the covered part
    is the union of their intervals, clipped to the parent's."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        yield s["op_kind"], s["op"], s["name"], (s["end"] - s["start"]) - covered
