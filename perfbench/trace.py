"""Span recorder for the traced run.

Spans are recorded from outside the engine: ``Tracer.install`` wraps
the public entry points of each layer (the parquet reader, the ingest
and writer functions, ``DataFrame.collect``/``toPandas``), and the
benchmark opens spans itself around the calls it makes (session
set-up, the registered callable, the action, the pipeline steps).
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main_thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a worker thread's first span hangs under the span that is
        # open on the main thread (the fan-out that started it)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sp = Span(len(self.spans), name, parent.id if parent else None,
                      self.op, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    # -- wrapping public entry points ------------------------------------
    def _wrap(self, fn, name: str, skip_under: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            if skip_under and stack and stack[-1].name == skip_under:
                return fn(*args, **kwargs)  # the benchmark's own action
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, name: str, skip_under: str | None = None) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, self._wrap(original, name, skip_under))

    def install(self, spark) -> None:
        """Wrap the layer entry points. Module-level functions are
        replaced in every engine module that imported them by name."""
        from aws_etl_spark.io import ingest, writers

        self._patch(type(spark.read), "parquet", "io.parquet_open")
        df_cls = type(spark.range(1))
        self._patch(df_cls, "collect", "registry.collect", "exec.action")
        self._patch(df_cls, "toPandas", "registry.to_pandas", "exec.action")
        for fn, name in (
            (ingest.ingest_tables, "io.ingest"),
            (ingest.convert_table, "io.convert_table"),
            (writers.write_parquet, "io.parquet_write"),
            (writers.write_jdbc, "io.jdbc_write"),
        ):
            wrapped = self._wrap(fn, name)
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("aws_etl_spark") or mod is None:
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patches.append((mod, attr, val))
                        setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, val = self._patches.pop()
            if val is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, val)

    # -- analysis --------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        return kids

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Per layer: span durations minus the part of each interval its
        children cover (children of one span may overlap in time)."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp.op not in ops:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(sp.id, ()), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.layer] += (sp.end - sp.start) - covered
        return dict(out)
