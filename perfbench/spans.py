"""In-memory spans around calls into the engine's public functions.

The benchmark installs the wrappers itself, and only in traced runs:
each wrapper replaces a module attribute (or a method on a class) and
restores it on :meth:`Tracer.uninstall`. Engine code resolves these
names at call time, so nested calls (``silver.run_silver`` calling
``readers.read_bronze_csv``) nest as parent and child spans.

A span is ``(run_id, span_id, parent_id, name, start, end)``; spans
stay in memory and :meth:`Tracer.write` dumps them as JSON lines at
the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "ev_charging_sessions_orchestrated_lakehouse_pipeline_spark"

# (module, attribute path, span name): the public functions the
# per-layer metrics are built from.
TRACED = [
    ("session", "get_spark", "session.get_spark"),
    ("sources.readers", "read_bronze_csv", "readers.read_bronze_csv"),
    ("operators.quality", "VerificationSuite.run", "quality.verification_run"),
    ("operators.silver", "run_silver", "silver.run_silver"),
    ("sources.writers", "write_partitioned_parquet", "writers.write_partitioned_parquet"),
    ("operators.gold", "run_gold", "gold.run_gold"),
    ("sources.snaptable", "create_table", "snaptable.create_table"),
    ("sources.snaptable", "overwrite_table", "snaptable.overwrite_table"),
    ("sources.snaptable", "overwrite_partitions", "snaptable.overwrite_partitions"),
    ("sources.snaptable", "append", "snaptable.append"),
    ("sources.snaptable", "merge_into", "snaptable.merge_into"),
    ("sources.snaptable", "delete_where", "snaptable.delete_where"),
    ("sources.snaptable", "optimize", "snaptable.optimize"),
    ("sources.snaptable", "vacuum", "snaptable.vacuum"),
    ("sources.snaptable", "read_snapshot", "snaptable.read_snapshot"),
    ("sources.snaptable", "scan", "snaptable.scan"),
    ("sources.ddl", "execute_sql", "ddl.execute_sql"),
    ("operators.llm_prep", "llm_prep", "llm_prep.llm_prep"),
]


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one run. ``enabled`` gates the benchmark's
    own spans; :meth:`install` adds the engine wrappers."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent recording, measured in place

    # -- recording ------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active(self) -> bool:
        """Whether spans are being recorded in this thread."""
        return self.enabled and not getattr(self._local, "paused", False)

    @contextmanager
    def paused(self):
        """Record no spans in this thread inside the block (the
        benchmark's own checks call engine functions too)."""
        prev = getattr(self._local, "paused", False)
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = prev

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield
            return
        t_in = time.perf_counter()
        st = self._stack()
        s = Span(next(self._ids), st[-1].span_id if st else None, name, 0.0)
        st.append(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)
                self.overhead_s += (s.start - t_in) + (time.perf_counter() - s.end)

    def add_overhead(self, seconds: float) -> None:
        """Charge benchmark-side tracing work (such as counting planned
        files) to the tracing overhead."""
        with self._lock:
            self.overhead_s += seconds

    # -- engine wrappers -------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, span_name in TRACED:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            setattr(owner, leaf, self._wrap(orig, span_name))
            self._saved.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- analysis --------------------------------------------------------
    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Total self time per span name over spans started at or
        after ``since``: each span's duration minus its children's."""
        spans = [s for s in self.spans if s.start >= since]
        child = {}
        for s in spans:
            if s.parent_id is not None:
                child[s.parent_id] = child.get(s.parent_id, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.dur - child.get(s.span_id, 0.0))
        return out

    def totals(self, since: float = 0.0, parent: str | None = None) -> dict[str, float]:
        """Total duration per span name, optionally only spans whose
        parent span has the name ``parent``."""
        by_id = {s.span_id: s for s in self.spans}
        out: dict[str, float] = {}
        for s in self.spans:
            if s.start < since:
                continue
            if parent is not None:
                p = by_id.get(s.parent_id)
                if p is None or p.name != parent:
                    continue
            out[s.name] = out.get(s.name, 0.0) + s.dur
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "span_id": s.span_id,
                            "parent_id": s.parent_id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )
