"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: public entry points of
the engine are wrapped from outside (``instrument``), and the benchmark
opens spans around its own steps (``span``). A span has a name, a layer,
start and end (seconds, ``time.perf_counter``), its parent span and the
request id of the query, exact call or micro-batch it belongs to.

One client thread drives the engine; a streaming ``foreachBatch`` callback
runs on another Python thread while the client waits inside
``stream_ingest_into_index``, so a single stack (not one per thread)
gives every span the parent that caused it.

A layer's self time is the duration of its spans minus the part of each
span covered by its children.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = None

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "start": time.perf_counter(),
               "end": None, "parent": parent, "request": self.request}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request_scope(self, request_id: str):
        prev, self.request = self.request, request_id
        try:
            yield
        finally:
            self.request = prev

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer over every closed span."""
        covered = [[] for _ in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s, kids in zip(self.spans, covered):
            dur = s["end"] - s["start"] - _union_length(kids)
            out[s["layer"]] = out.get(s["layer"], 0.0) + dur
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return wrapped


def instrument(tracer: Tracer, targets) -> None:
    """Wrap each ``(owner, attribute, layer)`` in ``targets`` with a span
    named ``Owner.attribute``; class- and static methods keep their kind."""
    for owner, attr, layer in targets:
        raw = owner.__dict__[attr]
        name = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"
        if isinstance(raw, classmethod):
            setattr(owner, attr, classmethod(_wrap(tracer, raw.__func__, name, layer)))
        else:
            setattr(owner, attr, _wrap(tracer, raw, name, layer))
