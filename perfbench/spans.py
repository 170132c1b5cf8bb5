"""In-memory span recording for the traced run.

A span is one call into a layer: its name, start, end, the span that
caused it, and the run it belongs to. Spans nest per thread; a layer's
self time is its span's duration minus the part of that interval its
child spans cover. Spans stay in memory until the run writes them out.

Layers are traced from the outside: :meth:`Tracer.wrap` replaces a
public function or method with a wrapper that opens a span around it,
and returns the callable that puts the original back. Nothing in the
program under test is edited.

The tracing's own work (job-window reads of the status store, the
Catalyst re-plan) runs in spans named ``trace.*``. They are children of
the layer open around them, so they come out of that layer's self time
and wall, and no layer counts them. The root spans (``key`` for a
registry key, ``cli.run`` for a CLI process) hold what no layer covers:
their self time is the residual, not a layer's.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict

TRACE = "trace."
ROOTS = ("key", "cli.run")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        # Parent of spans opened on a thread with no open span: a worker
        # thread's calls belong to the span that started the work.
        self.root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; the yielded dict takes extra attributes
        (counts measured at the same boundary)."""
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else self.root,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, around=None):
        """Trace every call of ``owner.attr`` as span ``name``.

        ``around(rec, call)``, when given, runs the call itself (``call()``
        returns the wrapped function's result) so it can measure counts
        at the boundary and store them in ``rec``. Returns an undo
        callable that restores the original attribute.
        """
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                call = functools.partial(original, *args, **kwargs)
                return around(rec, call, *args, **kwargs) if around else call()

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, original)


def merge(span_lists) -> list[dict]:
    """Spans of several processes as one list, with ids made unique."""
    out = []
    for n, spans in enumerate(span_lists):
        for s in spans:
            parent = s["parent"]
            out.append({**s, "id": f"{n}:{s['id']}",
                        "parent": None if parent is None else f"{n}:{parent}"})
    return out


def covered(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cursor = 0.0, start
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, cursor), min(hi, end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


def _children(spans) -> dict:
    out = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


def self_times(spans) -> dict:
    """Span id -> duration minus the time its direct children cover."""
    kids = _children(spans)
    return {
        s["id"]: (s["end"] - s["start"])
        - covered([(c["start"], c["end"]) for c in kids[s["id"]]], s["start"], s["end"])
        for s in spans
    }


def walls(spans) -> dict:
    """Span id -> duration minus the time ``trace.*`` spans below it
    cover: the time inside the call, children included, tracing not."""
    kids = _children(spans)

    def traced(sid):
        for c in kids[sid]:
            if c["name"].startswith(TRACE):
                yield c["start"], c["end"]
            else:
                yield from traced(c["id"])

    return {
        s["id"]: (s["end"] - s["start"]) - covered(list(traced(s["id"])), s["start"], s["end"])
        for s in spans
    }


def layer_totals(spans) -> dict[str, dict]:
    """Per span name: call count, summed self time and summed wall
    (``walls``: tracing left out)."""
    own, inside = self_times(spans), walls(spans)
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"calls": 0, "self_s": 0.0, "wall_s": 0.0})
        agg["calls"] += 1
        agg["self_s"] += own[s["id"]]
        agg["wall_s"] += inside[s["id"]]
    return out


def accounting(spans, wall: float) -> dict:
    """How the traced wall ``wall`` splits: the share the layers' self
    times account for, the share tracing took, and the rest (root
    residual, plus anything outside every root span)."""
    totals = layer_totals(spans)
    tracing = sum(t["self_s"] for n, t in totals.items() if n.startswith(TRACE))
    layers = sum(t["self_s"] for n, t in totals.items()
                 if n not in ROOTS and not n.startswith(TRACE))
    return {
        "trace.self_time_share": layers / wall,
        "trace.tracing_share": tracing / wall,
        "trace.residual_share": 1 - (layers + tracing) / wall,
    }


def layer_metrics(spans, n: int) -> dict:
    """The per-layer metrics of ``n`` passes or cycles, per pass or
    cycle: span self times, plus the counts each layer's spans carry."""
    from sparkstats import EXEC_FIELDS

    totals = layer_totals(spans)

    def self_s(name):
        return totals.get(name, {}).get("self_s", 0.0) / n

    def summed(name, field):
        return sum(s.get(field, 0) for s in spans if s["name"] == name) / n

    out = {
        "sources.load_table_s": self_s("sources.load_table"),
        "sources.load_table_calls": totals.get("sources.load_table", {}).get("calls", 0) / n,
        "operators.build_s": self_s("operators.build"),
        "operators.build_jobs": summed("operators.build", "jobs"),
        "operators.build_stages": summed("operators.build", "stages"),
        "operators.build_cpu_s": summed("operators.build", "cpu_s"),
        "catalyst.phases_s": summed("trace.catalyst", "phases_s"),
        "catalyst.exchanges": summed("trace.catalyst", "exchanges"),
        "catalyst.range_exchanges": summed("trace.catalyst", "range_exchanges"),
        "catalyst.sorts": summed("trace.catalyst", "sorts"),
        "exec.wall_s": self_s("exec.write"),
    }
    for field in EXEC_FIELDS:
        out[f"exec.{field}"] = summed("exec.write", field)
    out["exec.cpu_over_run"] = out["exec.cpu_s"] / out["exec.run_s"] if out["exec.run_s"] else 0.0
    return out
