"""In-memory spans recorded by the benchmark around calls into each layer.

A span has a name, the op execution it belongs to, a start and an end, and
the span that encloses it.  Spans stay in memory until the run ends; the
report derives each layer's self time (its duration minus the part its
child spans cover) from them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``span()`` is a no-op when disabled."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.op, self.clock(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` not covered by its children.

        Children of one span run one after another on the driver thread,
        so their durations add without overlap.
        """
        s = self.spans[idx]
        return s.duration - sum(self.spans[c].duration for c in s.children)
