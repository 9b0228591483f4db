"""Spans around the engine's public entry points, recorded from outside.

:func:`install` rebinds each entry point to a wrapper that records a
span: name, start, end, parent span and op id. The HTTP façade imports
``parse_lines``, ``execute_flux_multi``, ``execute_influxql`` and
``iter_annotated_csv`` into its own namespace, so those names are
rebound there as well. Spans stay in memory and are written out when
the run ends. Nothing is installed unless a traced run asks for it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1


class Tracer:
    """Spans of one run. The client marks each op with :meth:`op`; a
    span opened on any thread while no other span is open on that
    thread becomes a child of the current op's root span."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op = -1
        self._root = -1

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self._op))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """One client op: its root span."""
        self._op = op_id
        self._root = self.open(name)
        try:
            yield
        finally:
            self.close(self._root)
            self._op = self._root = -1

    def wrap(self, name: str, fn):
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                idx = self.open(name)
                try:
                    yield from fn(*a, **kw)
                finally:
                    self.close(idx)
            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            idx = self.open(name)
            try:
                return fn(*a, **kw)
            finally:
                self.close(idx)
        return wrapper

    # ------------------------------------------------------------ reports

    def self_ms(self, ops: set[int]) -> dict[str, float]:
        """Self time per span name over the given ops: each span's
        duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op not in ops or not s.end:
                continue
            covered = _union([(c.start, c.end) for c in children.get(i, ()) if c.end])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000
        return out

    def total_ms(self, name: str, ops: set[int]) -> float:
        return sum((s.end - s.start) * 1000 for s in self.spans
                   if s.name == name and s.op in ops and s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
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


def install(tracer: Tracer, suite_jobs: list[str]) -> None:
    """Rebind the public entry points of every layer to traced wrappers."""
    from aws_greengrass_labs_database_influxdb_spark import suite
    from aws_greengrass_labs_database_influxdb_spark.control import httpapi
    from aws_greengrass_labs_database_influxdb_spark.frontends import (
        annotated_csv,
        flux,
        influxql,
    )
    from aws_greengrass_labs_database_influxdb_spark.sources import bucket, lineprotocol

    for span, modules, attr in (
        ("lineprotocol", (lineprotocol, httpapi), "parse_lines"),
        ("flux", (flux, httpapi), "execute_flux_multi"),
        ("influxql", (influxql, httpapi), "execute_influxql"),
        ("annotated_csv", (annotated_csv, httpapi), "iter_annotated_csv"),
    ):
        wrapped = tracer.wrap(span, getattr(modules[0], attr))
        for m in modules:
            setattr(m, attr, wrapped)
    for span, attr in (("bucket.write", "write_points"),
                       ("bucket.read", "read_points"),
                       ("bucket.compact", "compact")):
        setattr(bucket.BucketStore, attr,
                tracer.wrap(span, getattr(bucket.BucketStore, attr)))
    suite.load_all()
    for job in suite_jobs:
        suite.QUERIES[job] = tracer.wrap(f"ext.{job}.build", suite.QUERIES[job])
