"""In-memory spans around the benchmark's calls into the engine.

Spans are recorded only in a traced run; an untraced run gets a tracer
whose ``span`` does nothing.  ``wrap`` replaces a public function or
method with a timed one for the rest of the process.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from eventlog import Span


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.attrs: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the block as one span; yields a dict the caller may fill
        with counts measured at the same boundary."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, op,
                         threading.current_thread().name)
                )
                if attrs:
                    self.attrs[sid] = attrs

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a version timed as span ``name``.
        ``before(args)`` runs first and its value goes to
        ``after(state, result, attrs)``, which records counts."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            state = before(args) if before else None
            with self.span(name) as attrs:
                result = original(*args, **kwargs)
                if after:
                    after(state, result, attrs)
            return result

        setattr(owner, attr, timed)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s.__dict__)
                row.update(self.attrs.get(s.span_id, {}))
                f.write(json.dumps(row) + "\n")
