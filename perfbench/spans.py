"""In-memory spans around the program's public functions.

A wrapper replaces a function under the name its caller looks it up
(``serving.server.catalog_sql``, ``Table.scan``, ...), records one span
per call — name, start, end, parent, statement id — and calls through.
Nothing in the program is edited; the untraced run installs nothing.
Spans stay in memory until the process writes them out at exit.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1  # index into Tracer.spans, -1 for a root
    stmt: str = ""  # statement id shared by every span of one statement
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, stmt: str = "") -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        if not stmt and parent >= 0:
            stmt = self.spans[parent].stmt
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), parent=parent, stmt=stmt))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()
        return span

    def open_names(self) -> list[str]:
        """Names of the spans open on the calling thread, outermost first."""
        return [self.spans[i].name for i in self._stack()]

    def wrap(self, owner, attr: str, name: str, stmt_of=None, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``stmt_of(args)`` names the statement a root span belongs to;
        ``before(args)`` returns state handed to
        ``after(span, args, result_or_exception, state)``.
        """
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            state = before(args) if before is not None else None
            idx = tracer.begin(name, stmt_of(args) if stmt_of is not None else "")
            try:
                result = fn(*args, **kwargs)
            except BaseException as exc:
                span = tracer.end(idx)
                if after is not None:
                    after(span, args, exc, state)
                raise
            span = tracer.end(idx)
            if after is not None:
                after(span, args, result, state)
            return result

        setattr(owner, attr, wrapper)

    def self_times(self) -> list[float]:
        """Per span: its time minus the union of its children's intervals (ms)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent >= 0 and s.end:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, span in enumerate(self.spans):
            covered, lo, hi = 0.0, None, None
            for a, b in sorted(kids.get(i, ())):
                if hi is None or a > hi:
                    if hi is not None:
                        covered += hi - lo
                    lo, hi = a, b
                else:
                    hi = max(hi, b)
            if hi is not None:
                covered += hi - lo
            out.append((span.end - span.start - covered) * 1000.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
