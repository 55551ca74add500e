"""In-memory spans around calls into the program's layers.

``Tracer.wrap`` replaces a function or method with a timing wrapper,
from the benchmark's side only; ``Tracer.restore`` puts the originals
back. A span records its name, start, end and parent; spans of one
request share the id of their root span (``trace``). Calls that cross
the REST socket keep their parent through an ``x-bench-span`` header
that the client wrapper adds and the server wrapper reads.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from . import stats

HEADER = "x-bench-span"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []
        self._by_id: dict[int, Span] = {}

    # ---- context ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        return getattr(self._local, "remote", None)

    def set_remote(self, span: Span | None) -> None:
        self._local.remote = span

    def by_id(self, sid: int) -> Span | None:
        with self._lock:
            return self._by_id.get(sid)

    def open(self, name: str) -> Span:
        parent = self.current()
        sid = next(self._ids)
        span = Span(
            sid,
            name,
            time.time(),
            parent=parent.sid if parent else None,
            trace=parent.trace if parent else sid,
        )
        self._stack().append(span)
        with self._lock:
            self._by_id[sid] = span
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def paused(self):
        """Calls made by the benchmark itself in this thread are not traced."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    def _active(self) -> bool:
        return not getattr(self._local, "paused", False)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def count_calls(self, owner: Any, attr: str, name: str) -> None:
        """Count calls of ``owner.attr`` without a span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer._active():
                tracer.count(name)
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    # ---- patching --------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_call: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``.
        ``on_call(span, args, kwargs, result)`` may add attributes; a
        raised exception is recorded as ``span.attrs["error"]``."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer._active():
                return fn(*args, **kwargs)
            span = tracer.open(name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            except BaseException as e:
                span.attrs["error"] = type(e).__name__
                raise
            finally:
                tracer.close(span)
                if on_call is not None:
                    on_call(span, args, kwargs, result)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- analysis --------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self, spans: list[Span], kids: dict[int, list[Span]] | None = None) -> float:
        """Summed self time: each span minus what its children cover."""
        kids = self.children() if kids is None else kids
        return 1000.0 * sum(
            stats.self_time(s.start, s.end, [(c.start, c.end) for c in kids.get(s.sid, [])])
            for s in spans
        )

    def dump(self) -> list[dict[str, Any]]:
        return [
            {
                "id": s.sid,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "trace": s.trace,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def link_rest(tracer: Tracer) -> None:
    """Carry the client span across the socket: the client wrapper adds
    the current span id as a header, the server's dispatch wrapper reads
    it back and parents the handler's spans on it."""
    from lakekeeper_spark.rest import client as rest_client
    from lakekeeper_spark.rest import server as rest_server

    req = rest_client.RestCatalogClient._request

    def _request(self, method, path, body=None, headers=None):
        cur = tracer.current()
        if cur is not None:
            headers = dict(headers or {})
            headers[HEADER] = str(cur.sid)
        return req(self, method, path, body, headers)

    disp = rest_server._Handler._dispatch

    def _dispatch(self, method):
        sid = self.headers.get(HEADER)
        tracer.set_remote(tracer.by_id(int(sid)) if sid else None)
        try:
            return disp(self, method)
        finally:
            tracer.set_remote(None)

    rest_client.RestCatalogClient._request = _request
    rest_server._Handler._dispatch = _dispatch
    tracer._patched.append((rest_client.RestCatalogClient, "_request", req))
    tracer._patched.append((rest_server._Handler, "_dispatch", disp))
