"""Spans the benchmark records around its own calls into the package.

Every public call the benchmark makes runs inside ``Tracer.span``, which
records a span (name, phase, start, end, parent, call id, rows returned). With tracing on,
the call id is also set as the Spark job group, so the ledger can join the
event log's jobs to the call that launched them, and the store-metadata
loaders are wrapped so their time and count show as child spans. With
tracing off only the wall clock is read: no job group, no wrapper.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

# Module-level public loaders of persisted store metadata. Callers inside
# the package look these names up in their module at call time, so
# replacing the module attribute reaches every caller.
STORE_META_LOADERS = (
    ("photo_vector_search_spark.operators.bm25_store", "load_bm25_store"),
    ("photo_vector_search_spark.operators.bm25_store", "load_live_bm25"),
    ("photo_vector_search_spark.operators.index_maintenance", "load_live_ivf_sq8"),
    ("photo_vector_search_spark.operators.index_maintenance", "load_ivf_sq8_store"),
)
LOADER_SPAN = "operators.store_meta.load"


class Tracer:
    """Records spans in memory; ``spans`` is read when the run ends."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans
        self._ids = itertools.count(1)  # next() is atomic: spans may open in threads
        self._patched: list[tuple[object, str, object]] = []

    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        """A span nested under the innermost open span. The outermost span
        that is not one of the benchmark's own ``perfbench.*`` grouping
        spans opens a call: a new call id that, when traced, is the Spark
        job group of every job launched inside it. Nested spans share it."""
        stack = self._stack
        n = next(self._ids)
        parent = stack[-1] if stack else None
        outer = parent["call_id"] if parent else None
        opens = outer is None and not name.startswith("perfbench.")
        rec = {
            "id": n,
            "name": name,
            "phase": phase or (parent["phase"] if parent else "setup"),
            "parent": parent["id"] if parent else None,
            "call_id": f"call-{n:05d}" if opens else outer,
            "rows": None,
        }
        if opens and self.traced:
            self.sc.setJobGroup(rec["call_id"], name, False)
        stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            stack.pop()
            self.spans.append(rec)
            if opens and self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, fn, *args, phase: str | None = None, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span named ``name``."""
        with self.span(name, phase):
            return fn(*args, **kwargs)

    def wrap_loaders(self) -> None:
        """Wrap the store-metadata loaders so each load is a child span.
        Some loaders call others (``load_live_bm25`` reads the base store
        through ``load_bm25_store``); only the outermost load is a span, so
        no load is counted twice."""
        import importlib

        for mod_name, attr in STORE_META_LOADERS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            @functools.wraps(orig)
            def wrapped(*a, _orig=orig, **kw):
                if any(s["name"] == LOADER_SPAN for s in self._stack):
                    return _orig(*a, **kw)
                with self.span(LOADER_SPAN):
                    return _orig(*a, **kw)

            setattr(mod, attr, wrapped)
            self._patched.append((mod, attr, orig))

    def unwrap_loaders(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def calls(self, phase: str) -> list[dict]:
        """The spans of ``phase`` that opened a call, in start order."""
        by_id = {s["id"]: s for s in self.spans}
        return sorted(
            (s for s in self.spans if s["phase"] == phase and s["call_id"]
             and (s["parent"] is None or by_id[s["parent"]]["call_id"] != s["call_id"])),
            key=lambda s: s["start"],
        )

    def self_time(self, rec: dict) -> float:
        """The span's wall minus the part covered by its direct children."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec["wall_s"] - interval_union([(k["start"], k["end"]) for k in kids])


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
