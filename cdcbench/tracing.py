"""In-memory spans recorded around calls into the program's layers.

Spans are kept in memory and written out when the run ends. Each span has a
name (the layer it times), start and end (``time.perf_counter`` seconds), the
span that caused it, and the batch (epoch) it belongs to. The streaming apply
callbacks run on a py4j callback thread, so the open-span stack is per
thread and falls back to the loop's current batch span as parent.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None
    attrs: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.batch: int | None = None
        self.batch_span: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name, start, end, parent=None, **attrs) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, start, end, parent, self.batch, attrs)
            self.spans.append(span)
        return span

    def span(self, name: str, **attrs):
        return _SpanContext(self, name, attrs)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        return span.duration - covered(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        stack = self.tracer._stack()
        self.parent = stack[-1] if stack else self.tracer.batch_span
        # reserve the id now so children opened inside can point at it
        self.span = self.tracer.record(self.name, time.perf_counter(), 0.0,
                                       self.parent, **self.attrs)
        stack.append(self.span.id)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack().pop()


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class TimedConnectionFactory:
    """Connection factory for the apply engine that times the DB calls.

    Every connection records one ``target.connection`` span from open to
    close; ``executemany``/``execute``/``commit`` calls record child spans
    with their row counts. The apply engine sees an ordinary DB-API
    connection."""

    def __init__(self, factory, tracer: Tracer) -> None:
        self.factory = factory
        self.tracer = tracer

    def __call__(self):
        return _TimedConnection(self.factory(), self.tracer)


class _TimedConnection:
    def __init__(self, conn, tracer: Tracer) -> None:
        self._conn = conn
        self._tracer = tracer
        self._ctx = tracer.span("target.connection")
        self._ctx.__enter__()

    def cursor(self):
        return _TimedCursor(self._conn.cursor(), self._tracer)

    def commit(self) -> None:
        with self._tracer.span("target.commit"):
            self._conn.commit()

    def rollback(self) -> None:
        self._conn.rollback()

    def close(self) -> None:
        try:
            self._conn.close()
        finally:
            self._ctx.__exit__(None, None, None)


class _TimedCursor:
    def __init__(self, cur, tracer: Tracer) -> None:
        self._cur = cur
        self._tracer = tracer

    @property
    def description(self):
        return self._cur.description

    def execute(self, sql, params=()):
        with self._tracer.span("target.execute"):
            return self._cur.execute(sql, params)

    def executemany(self, sql, rows):
        rows = list(rows)
        with self._tracer.span("target.executemany", sql=sql.split("(")[0],
                               rows=len(rows)) as span:
            out = self._cur.executemany(sql, rows)
            span.attrs["rowcount"] = self._cur.rowcount
        return out
