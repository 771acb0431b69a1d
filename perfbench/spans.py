"""Span recorder for the traced run.

A span is one call into a layer as its caller sees it: name, layer, start,
end (epoch seconds, the clock Spark's status store uses), parent span and
operation id.  Spans stay in memory and are written out once at the end.
``instrumented`` swaps the engine's public functions for recording wrappers
in every engine module that holds them, and restores them on exit, so the
engine's own code is never edited.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass

ENGINE = "lms_etl_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._lock = threading.Lock()
        self._next_id = 0
        self._main_stack: list[int] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[int]:
        """Record one span.  A span opened on another thread (a streaming
        ``foreachBatch`` callback) is parented to the innermost span open on
        the main thread, which is blocked waiting for it."""
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, start, end, parent, self.op))

    def self_time(self, ops: set[int] | None = None) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it that
        its child spans cover."""
        spans = [s for s in self.spans if ops is None or s.op in ops]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered, reach = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, reach, s.start), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.layer] += (s.end - s.start) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def _wrap(recorder: Recorder, layer: str, name: str, fn: Callable, keep: list | None) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with recorder.span(layer, name):
            out = fn(*args, **kwargs)
        if keep is not None:
            keep.append(args[0])
        return out

    return wrapper


@contextmanager
def instrumented(
    recorder: Recorder, targets: dict[str, list], keep: dict[Callable, list] | None = None
) -> Iterator[None]:
    """Wrap each target in a span for the duration of the block.

    ``targets`` maps a layer to functions and ``(class, method)`` pairs.  A
    function is replaced under every name an engine module binds it to
    (``pipeline`` imports ``write_csv`` by name, plan modules import
    ``load_table``), so every caller records the span.  For a function that
    is a key of ``keep``, the first argument of each call (the DataFrame it
    was handed) is appended to the list, for reading after the operation.
    """
    keep = keep or {}
    undo: list[tuple[object, str, object]] = []
    modules = [m for n, m in list(sys.modules.items()) if n.split(".")[0] == ENGINE and m]
    try:
        for layer, fns in targets.items():
            for target in fns:
                if isinstance(target, tuple):
                    owner, attr = target
                    fn = getattr(owner, attr)
                    undo.append((owner, attr, fn))
                    setattr(owner, attr, _wrap(recorder, layer, f"{owner.__name__}.{attr}", fn, None))
                    continue
                wrapper = _wrap(recorder, layer, target.__name__, target, keep.get(target))
                for module in modules:
                    for attr, value in list(vars(module).items()):
                        if value is target:
                            undo.append((module, attr, value))
                            setattr(module, attr, wrapper)
        yield
    finally:
        for owner, attr, value in reversed(undo):
            setattr(owner, attr, value)
