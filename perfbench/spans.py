"""Span recording around the calls the benchmark makes into each layer.

Spans are wrappers installed from outside the package: each wraps one
public function and records ``(name, start, end, parent, op, meta)`` in
memory. Workload modules import many of these functions by name
(``from ...tables import load_table``), so installing a wrapper replaces
the function in every loaded module namespace that holds it, and
``uninstall`` puts every original back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

PACKAGE = "delta_unity_duckdb_spark"
OPERATOR_MODULES = ("dedup", "similarity", "graph", "clustering", "text", "bpe", "sketches")

# (module, attribute, span name) of every wrapped function.
FUNCTIONS = (
    ("session", "get_spark", "session.get_spark"),
    ("sources.tables", "load_table", "tables.load_table"),
    ("sources.delta_log", "write_delta", "delta_log.write_delta"),
    ("sources.delta_log", "merge_delta", "delta_log.merge_delta"),
    ("sources.delta_log", "read_delta", "delta_log.read_delta"),
    ("sources.delta_log", "snapshot", "delta_log.snapshot"),
    ("sources.delta_log", "write_checkpoint", "delta_log.write_checkpoint"),
    ("sources.delta_log", "optimize_delta", "delta_log.optimize_delta"),
    ("operators.scd2", "sync_scd2", "scd2.sync_scd2"),
)
SCANNER_METHODS = ("query", "count", "schema")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    meta: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **meta):
        idx = len(self.spans)
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 op=self.op, meta=meta)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, on_call=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                if on_call is None:
                    return fn(*args, **kwargs)
                return on_call(s, fn, args, kwargs)

        return traced

    # -- installation -------------------------------------------------------
    def _replace_everywhere(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap every traced function; a no-op while installed."""
        if self._patched:
            return

        from delta_unity_duckdb_spark.sources import tables

        def load_table_hit(span, fn, args, kwargs):
            # A call served from the relation cache leaves it the same size.
            before = len(tables._RELATION_CACHE)
            out = fn(*args, **kwargs)
            span.meta["hit"] = len(tables._RELATION_CACHE) == before
            return out

        for mod_suffix, attr, name in FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_suffix}")
            original = getattr(mod, attr)
            hook = load_table_hit if name == "tables.load_table" else None
            self._replace_everywhere(original, self.wrap(name, original, hook))

        for op_mod in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.operators.{op_mod}")
            for attr, value in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(value)
                    and value.__module__ == mod.__name__
                ):
                    self._replace_everywhere(
                        value, self.wrap(f"operators.{op_mod}.{attr}", value)
                    )

        from delta_unity_duckdb_spark.scanner import Scanner

        for meth in SCANNER_METHODS:
            original = vars(Scanner)[meth]
            self._patched.append((Scanner, meth, original))
            setattr(Scanner, meth, self.wrap(f"scanner.{meth}", original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reduction ----------------------------------------------------------
    def self_times(self) -> list[float]:
        """Per-span self time: duration minus the union of its children."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        return [self_time((s.start, s.end), children[i]) for i, s in enumerate(self.spans)]

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, "meta": s.meta}
            for i, s in enumerate(self.spans)
        ]
