"""Tracing for the traced benchmark run, recorded from outside the
program: spans around calls into each layer, Spark job/stage/task
counts per op through the status tracker, and file/byte counts taken by
walking output directories. Spans stay in memory until the run ends.

Spans inside ``ingest_csv`` and ``merge_upsert_tx`` come from swapping
the module-level names those functions look up at call time
(``csv_ingest.read_csv_with_sidecar``, ``txtable.commit``, ...) for
timing wrappers; :meth:`Tracer.close` puts the originals back.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Constructed disabled, it wraps nothing and
    records nothing, so the untraced run pays no tracing cost; a traced
    run may disable it for a while, and its wrappers then record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 op=self.op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        except Exception as e:
            s.error = type(e).__name__
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def close(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- summaries ---------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by direct children (children
        are sequential, so their durations simply add)."""
        s = self.spans[idx]
        return s.dur - sum(c.dur for c in self.spans if c.parent == idx)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class JobCounter:
    """Spark job/stage/task counts of the jobs run under one job group,
    read through ``SparkContext.statusTracker``. Groups nest: a job
    counts toward the innermost open group only, and leaving a group
    puts the enclosing one back."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0
        self._open: list[str] = []

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, label)
        self._open.append(gid)
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        try:
            yield counts
        finally:
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1], label)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                counts["jobs"] += 1
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    counts["stages"] += 1
                    counts["tasks"] += st.numTasks
                    counts["failed_tasks"] += st.numFailedTasks


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` (a directory or one file) whose names
    end with ``suffix``."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(suffix):
                files += 1
                total += os.path.getsize(os.path.join(dp, f))
    return files, total
