"""Tracing from outside the engine: spans, job groups, cache polling and
the Spark event-log fold.

A span wraps one call into a layer.  While it is open, every Spark job the
call submits carries the job group ``pb:<layer>``; after the run, the event
log is folded per job group into task time, GC, shuffle, spill, job and
failed-task counts.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "pb:"
MB = 1024.0 * 1024.0
POLL_S = 0.05  # cache-peak polling period; a CC-loop cache lives one star op (~0.2 s here)


@dataclass
class Span:
    layer: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags Spark jobs with the innermost open span's layer.

    Disabled tracers record nothing and leave job groups alone, so untraced
    ops run exactly the code a caller would."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _tag(self, layer: str | None) -> None:
        value = None if layer is None else GROUP_PREFIX + layer
        self.sc.setLocalProperty("spark.jobGroup.id", value)
        self.sc.setLocalProperty("spark.job.description", value)

    @contextmanager
    def span(self, layer: str, op: int):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(layer, op, time.perf_counter(), parent=parent))
        self._stack.append(idx)
        self._tag(layer)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._tag(self.spans[self._stack[-1]].layer if self._stack else None)

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its (sequential) children cover."""
        kids = sum(s.wall for s in self.spans if s.parent == idx)
        return self.spans[idx].wall - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def cached_rdd_bytes(sc) -> dict[int, int]:
    """{rdd id: bytes held in storage memory} for every cached RDD."""
    return {int(r.id()): int(r.memSize()) for r in sc._jsc.sc().getRDDStorageInfo()}


class CachePeak:
    """Background poller of Spark storage memory held by cached RDDs; the
    peak over the ``with`` block is ``peak_mb``."""

    def __init__(self, sc):
        self.sc = sc
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, sum(cached_rdd_bytes(self.sc).values()))
            if self._stop.wait(POLL_S):
                return

    def __enter__(self) -> "CachePeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB


def _new_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_mb": 0.0,
        "spill_mb": 0.0,
    }


def fold_event_log(path: str) -> dict[str, dict]:
    """Per-layer totals from a Spark JSON event log.

    Jobs count under their job group; a task counts under the group of the
    stage it ran in (taken from the stage's submission properties).  Task
    time is executor run time; shuffle is bytes written by shuffle map
    tasks; spill is bytes spilled to disk.  Jobs without a ``pb:`` group are
    ignored."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[tuple[int, int], str] = {}

    def layer_of(props: dict | None) -> str | None:
        g = (props or {}).get("spark.jobGroup.id") or ""
        return g[len(GROUP_PREFIX):] if g.startswith(GROUP_PREFIX) else None

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = layer_of(ev.get("Properties"))
                if layer is not None:
                    groups[layer]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                layer = layer_of(ev.get("Properties"))
                if layer is not None:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = layer
            elif kind == "SparkListenerTaskEnd":
                layer = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if layer is None:
                    continue
                g = groups[layer]
                g["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    return dict(groups)


def find_event_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (the run's own directory)."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
