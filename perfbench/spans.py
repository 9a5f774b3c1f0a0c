"""Spans recorded from outside the package, and the arithmetic on them.

The benchmark wraps layer functions (``pipeline.save_tables``,
``catalog.load_table``, ...) at run time; the package source is never
changed. Spans live in memory and are written out when the run ends.
Spark's own timings come from its event log, parsed here.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans on one thread, in epoch seconds so they line up with
    the event log. ``install`` swaps a module attribute for a wrapper
    that records a span; ``uninstall`` puts every original back, so
    untraced passes run the package's own functions."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent,
                 run_id=self.run_id, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, fn: Callable, name: str | Callable[..., str],
             on_result: Callable[[object], None] | None = None
             ) -> Callable:
        """``fn`` recording a span named ``name`` (or ``name(*args)``);
        ``on_result`` sees each return value, outside the span."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out
        return traced

    def install(self, module: object, attr: str, name, on_result=None):
        original = getattr(module, attr)
        self._patched.append((module, attr, original))
        setattr(module, attr, self.wrap(original, name, on_result))

    def install_everywhere(self, fn: Callable, package: str, name: str):
        """Wrap ``fn`` in every loaded module of ``package`` that bound
        it by name (``from ..catalog import load_table``)."""
        wrapped = self.wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def uninstall(self):
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id,
                    **s.attrs}) + "\n")


def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Total length covered by ``intervals`` inside ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.seconds - union_length(children.get(i, ()), s.start, s.end)
            for i, s in enumerate(spans)]


@dataclass
class GroupStats:
    """Spark timings under one job group, from the event log. Job,
    stage and task counts come from the status tracker instead."""
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Group Spark's event-log records by ``spark.jobGroup.id``. Job
    intervals are in seconds since the epoch; tasks are attributed to the
    group of the stage that ran them."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid not in job_group:
                continue
            g = groups.setdefault(job_group[jid], GroupStats())
            g.job_intervals.append((job_start[jid],
                                    ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = groups.setdefault(group, GroupStats())
            m = ev.get("Task Metrics") or {}
            g.run_s += m.get("Executor Run Time", 0) / 1000.0
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
            g.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
    return groups
