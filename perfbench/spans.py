"""In-memory spans for the traced run.

The benchmark puts wrappers around public calls of each layer (in the
engine process and in the load generator) and records one span per call:
name, op id, start, end (``time.time()`` seconds, the clock Spark's status
store also uses).  Spans of one op share its query id.  Nothing is written
until the run ends.

Self time: every instant of an op's wall interval is given to the most
specific layer active at that instant (``PRIORITY``, most specific first);
what no span covers is ``unattributed``.  The self times therefore add up
to the op's wall time by construction, and the coverage check asks that
``unattributed`` stays within ``COVERAGE_TOLERANCE`` of it.
"""

from __future__ import annotations

import contextlib
import threading
import time

# most specific first: an instant covered by several spans goes to the first
PRIORITY = (
    "chnative.lz4", "chnative.cityhash", "chnative.encode", "chnative.decode",
    "client.decode", "engine.translate", "spark.job", "engine.insert",
    "engine.optimize", "engine.dispatch", "spark.fetch", "chnative.ingest",
    "door", "client.wait",
)
COVERAGE_TOLERANCE = 0.10  # largest unattributed share of the median op


class Recorder:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[tuple[str, str, float, float]] = []
        self.counts: dict[tuple[str, str], float] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()

    @property
    def op(self) -> str:
        return getattr(self._tls, "op", "")

    @contextlib.contextmanager
    def op_scope(self, op: str):
        prev = self.op
        self._tls.op = op
        try:
            yield
        finally:
            self._tls.op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        op, t0 = self.op, time.time()
        try:
            yield
        finally:
            t1 = time.time()
            with self._lock:
                self.spans.append((name, op, t0, t1))

    def add(self, name: str, v: float) -> None:
        if self.on:
            key = (name, self.op)
            with self._lock:
                self.counts[key] = self.counts.get(key, 0.0) + v

    def wrap(self, name: str, fn):
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        wrapped.__wrapped__ = fn
        return wrapped


def self_times(root: tuple[float, float], spans: list[tuple[str, float, float]]) -> dict[str, float]:
    """Seconds of ``root`` given to each layer by ``PRIORITY``; the rest is
    ``unattributed``."""
    lo, hi = root
    rank = {n: i for i, n in enumerate(PRIORITY)}
    cuts = {lo, hi}
    clipped = []
    for name, a, b in spans:
        a, b = max(a, lo), min(b, hi)
        if b > a and name in rank:
            clipped.append((rank[name], a, b))
            cuts.update((a, b))
    edges = sorted(cuts)
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        best = min((r for r, s, e in clipped if s <= mid < e), default=None)
        name = PRIORITY[best] if best is not None else "unattributed"
        out[name] = out.get(name, 0.0) + (b - a)
    return out
