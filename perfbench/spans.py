"""Per-layer tracing for the benchmark's traced run.

Wrappers are installed from the benchmark's own files around the public
entry points of each engine layer: a module attribute
(``rewrites.rewrite_sql``, ``validate.validate_sql``), class methods
(``DuckSparkSession.schema_text``, ``DurableWarehouse.save_table`` /
``append_table`` / ``upsert_table``) and the py4j send method. The engine
itself is not changed. A span records name, start, end, parent and the id
of the op it belongs to; spans stay in memory and are written once, when
the run ends. py4j round trips are too many to keep as spans, so they are
counted and timed per op instead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class OpTrace:
    """Counters of one traced op, filled while it runs."""

    py4j_calls: int = 0
    py4j_s: float = 0.0


class Tracer:
    """Span recorder. ``op`` is None outside a traced op, and then every
    wrapper passes straight through to the wrapped function."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: dict[int, OpTrace] = {}
        self.op: int | None = None
        self._local = threading.local()
        self._main_top: int | None = None
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ ops
    @contextlib.contextmanager
    def traced_op(self, op: int):
        self.op = op
        self.ops[op] = OpTrace()
        try:
            with self.span("op"):
                yield self.ops[op]
        finally:
            self.op = None

    def span(self, name: str):
        if self.op is None:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._stack()
        # a span opened on a helper thread (validate_sql's deadline
        # thread) hangs under whatever the main thread has open
        parent = stack[-1] if stack else self._main_top
        with self._lock:
            sp = Span(len(self.spans), self.op, name, parent, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp.id)
        main = threading.current_thread() is threading.main_thread()
        if main:
            self._main_top = sp.id
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if main:
                self._main_top = stack[-1] if stack else None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # ------------------------------------------------------- wrappers
    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if self.op is None:
                return orig(*a, **kw)
            with self._span(name):
                return orig(*a, **kw)

        self._patch(owner, attr, orig, wrapper)

    def wrap_py4j(self, owner: object, attr: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            op = self.op
            if op is None:
                return orig(*a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                rec = self.ops[op]
                with self._lock:
                    rec.py4j_calls += 1
                    rec.py4j_s += time.perf_counter() - t0

        self._patch(owner, attr, orig, wrapper)

    def _patch(self, owner, attr, orig, wrapper) -> None:
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------- analysis
    def layer_ms(self, op: int) -> dict[str, float]:
        """Per-name total ms inside ``op``. A span nested in a span of the
        same name is not counted twice."""
        spans = [s for s in self.spans if s.op == op]
        by_id = {s.id: s for s in spans}
        out: dict[str, float] = {}
        for s in spans:
            p = s.parent
            nested = False
            while p is not None and p in by_id:
                if by_id[p].name == s.name:
                    nested = True
                    break
                p = by_id[p].parent
            if not nested:
                out[s.name] = out.get(s.name, 0.0) + 1e3 * (s.end - s.start)
        return out

    def count(self, op: int, name: str) -> int:
        return sum(1 for s in self.spans if s.op == op and s.name == name)

    def self_ms(self, op: int, name: str) -> float:
        """Duration of the ``name`` spans in ``op`` minus their children."""
        spans = [s for s in self.spans if s.op == op]
        total = 0.0
        for s in spans:
            if s.name != name:
                continue
            kids = sum(c.end - c.start for c in spans if c.parent == s.id)
            total += max(0.0, (s.end - s.start) - kids)
        return 1e3 * total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": s.id, "op": s.op, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end}
                    for s in self.spans
                ],
                fh,
            )
