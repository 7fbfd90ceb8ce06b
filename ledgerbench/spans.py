"""In-memory spans recorded around calls into the program's public
functions.

A span is (name, start, end, parent).  ``Tracer.wrap`` swaps a module
attribute for a timing wrapper while a ``with tracer.patched(...)``
block runs, so calls the program makes through that module name are
recorded too (``pipeline.run_extract_job`` calls ``commit_partition``
through its own module globals).  A layer's self time is its span minus
the part of that span its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_seconds(span: Span, spans: list[Span]) -> float:
    """Span duration minus the union of its direct children's intervals."""
    covered = 0.0
    cur_start = cur_end = None
    for s, e in sorted((spans[c].start, spans[c].end) for c in span.children):
        s, e = max(s, span.start), min(e, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.seconds - covered


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict):
        """``targets``: {span name: (module, attribute)}.  Restores the
        original attributes on exit."""
        saved = []
        try:
            for name, (mod, attr) in targets.items():
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(name, orig))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def totals(self) -> dict:
        """{name: (count, total seconds, total self seconds)}."""
        out: dict = defaultdict(lambda: [0, 0.0, 0.0])
        for sp in self.spans:
            t = out[sp.name]
            t[0] += 1
            t[1] += sp.seconds
            t[2] += self_seconds(sp, self.spans)
        return {k: tuple(v) for k, v in out.items()}
