"""In-process spans around calls into the engine's modules.

The tracer replaces module attributes and class methods with wrappers
that time each call and count the Spark jobs it launched.  Jobs are
counted by the delta of the DAG scheduler's next job id, which also
sees jobs launched from other threads (streaming), unlike job groups.
Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans ``{name, start, end, parent, jobs, ...}``.

    ``context`` (workload, pass, batch) is copied into every span
    started while it is set.  Only calls on the thread that created
    the tracer nest under one another; the benchmark is single-client.
    """

    def __init__(self, spark, workload: str, seed: int):
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self.context: dict = {"workload": workload, "seed": seed}
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self._thread = threading.get_ident()
        self.enabled = False

    def jobs(self) -> int:
        return int(self._sched.nextJobId())

    @contextmanager
    def span(self, name: str, **fields):
        """Record one span around the ``with`` body (when enabled)."""
        if not self.enabled or threading.get_ident() != self._thread:
            yield fields
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **self.context,
            **fields,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        j0 = self.jobs()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as err:
            rec["error"] = type(err).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.jobs() - j0
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` by a spanned twin until ``restore``.

        A boolean return value is kept in the span as ``result``;
        ``annotate(span, return_value)`` may add more fields.
        """
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, bool):
                    rec["result"] = out
                if annotate is not None:
                    annotate(rec, out)
                return out

        # A class attribute must be read from __dict__ so staticmethods
        # and plain functions are restored exactly as they were.
        original = owner.__dict__[attr] if isinstance(owner, type) else fn
        self._undo.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def layer_totals(spans: list[dict], name_of) -> dict[str, dict]:
    """Per-layer ``{s, jobs, calls}`` from ``spans``.

    ``name_of(span)`` maps a span to its layer name.  A span
    nested inside another span of the same layer is not added again, so
    a layer's time is the wall time it was busy.
    """
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        layer = name_of(s)
        p = s["parent"]
        nested = False
        while p is not None:
            if name_of(by_id[p]) == layer:
                nested = True
                break
            p = by_id[p]["parent"]
        tot = out.setdefault(layer, {"s": 0.0, "jobs": 0, "calls": 0})
        tot["calls"] += 1
        if not nested:
            tot["s"] += s["end"] - s["start"]
            tot["jobs"] += s["jobs"]
    return out


def self_time(spans: list[dict], name: str) -> float:
    """Sum over spans called ``name`` of their duration minus the time
    their direct children cover (children run one after another)."""
    kids: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    return sum(
        s["end"] - s["start"] - kids.get(s["id"], 0.0)
        for s in spans
        if s["name"] == name
    )
