"""Spans recorded from outside the program, around calls into its layers.

A traced run wraps ``CheckpointManager.run`` (the stage boundary of
``plans.pipeline``) by patching the class attribute in the benchmark's
own process; nothing in the package changes.  Each wrapper records a
span and labels the Spark jobs it submits with
``spark.job.description = "stage:<name>"`` plus a ``perfbench.op``
local property naming the op, so the event-log parser can attribute
executor work to (op, stage).
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable

OP_PROPERTY = "perfbench.op"
DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    id: int
    parent: int | None
    op: str
    name: str
    start: float
    end: float
    thread: str


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Children on other threads may overlap each other; the union counts
    once."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - covered(clipped)


class Tracer:
    """In-memory span store.  ``op`` names the op whose spans are being
    recorded; ops run one after another from the main thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        #: id of the op span now open; stage spans opened on the
        #: pipeline's own worker threads hang under it
        self.root: int | None = None
        self.sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: op -> stage name -> the DataFrame the stage returned
        self.outputs: dict[str, dict] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: int | None = None):
        """Record a span.  Its parent is the innermost open span of the
        calling thread, else ``root`` (the op span, for stages run on
        the pipeline's own worker threads)."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else root
        labels = {}
        if self.sc is not None:
            labels = {
                k: self.sc.getLocalProperty(k) for k in (DESCRIPTION, OP_PROPERTY)
            }
            self.sc.setJobDescription(f"stage:{name}")
            self.sc.setLocalProperty(OP_PROPERTY, self.op)
        stack.append(sid)
        start = time.monotonic()
        try:
            yield sid
        finally:
            end = time.monotonic()
            stack.pop()
            for k, v in labels.items():
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(
                    Span(sid, parent, self.op, name, start, end,
                         threading.current_thread().name)
                )

    def install(self) -> Callable[[], None]:
        """Wrap ``CheckpointManager.run``; returns the undo function."""
        from duplicate_image_detector_spark.sources.checkpoints import (
            CheckpointManager,
        )

        orig = CheckpointManager.run
        tracer = self

        def run(mgr, stage, fn, eager=True):
            with tracer.span(stage, root=tracer.root):
                df = orig(mgr, stage, fn, eager)
            tracer.outputs.setdefault(tracer.op, {})[stage] = df
            return df

        CheckpointManager.run = run

        def undo() -> None:
            CheckpointManager.run = orig

        return undo

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def stage_times(spans: list[dict], op: str) -> dict:
    """Per op: the op span's wall, each stage's summed wall and self time,
    and the op wall no stage span covers (``unattributed_s``)."""
    mine = [Span(**s) for s in spans if s["op"] == op]
    by_parent: dict[int | None, list[Span]] = {}
    for s in mine:
        by_parent.setdefault(s.parent, []).append(s)
    root = next(s for s in mine if s.name == "op")
    stages: dict[str, dict] = {}
    for s in mine:
        if s is root:
            continue
        st = stages.setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0})
        st["wall_s"] += s.end - s.start
        st["self_s"] += self_time(s, by_parent.get(s.id, []))
    return {
        "op_wall_s": root.end - root.start,
        "unattributed_s": self_time(root, by_parent.get(root.id, [])),
        "stages": stages,
    }
