"""Spans around the benchmark's calls into each layer, and the Spark event
log read back per span.

A span is (name, start, end, parent, repetition id).  Each span runs its
Spark work under its own job group, so every job, stage and task in the
event log can be charged to exactly one span.  Spans are kept in memory
and written out once at the end of the run.

Self time is a span's duration minus the part of it that its children
cover; the per-layer wall time is the sum of self times of the layer's
spans.  Event-log counts are charged the same way: a job belongs to the
span whose job group was set when it started, never to that span's
parent as well.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench/"


@dataclass
class Span:
    sid: int
    name: str
    rep: str
    parent: int | None
    start: float
    end: float | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder.  ``sc`` (a SparkContext) is optional: without
    it spans only keep time, which is what the unit tests use."""

    def __init__(self, sc=None, clock=time.monotonic) -> None:
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, rep: str):
        s = self.begin(name, rep)
        try:
            yield s
        finally:
            self.finish(s)

    def begin(self, name: str, rep: str) -> Span:
        """Open a span as a child of the innermost open one.  ``span`` is
        the usual way; this pair serves spans whose ends are found while
        the traced code runs (the span may be renamed before it ends)."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, rep, parent.sid if parent else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        return s

    def finish(self, s: Span) -> None:
        """Close ``s``, which must be the innermost open span."""
        if not self._stack or self._stack[-1] is not s:
            raise RuntimeError(f"span {s.name!r} is not the innermost open span")
        s.end = self.clock()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def count(self, key: str, value: float) -> None:
        """Add ``value`` to a counter of the innermost open span."""
        c = self._stack[-1].counts
        c[key] = c.get(key, 0) + value

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "rep": s.rep,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self_s": st[s.sid],
                            "counts": s.counts,
                        }
                    )
                    + "\n"
                )


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    run_ms: list[int] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Longest task run time over the median one (0 without tasks)."""
        if not self.run_ms:
            return 0.0
        return max(self.run_ms) / max(statistics.median(self.run_ms), 1.0)


def _group_of(props: dict | None) -> str | None:
    g = (props or {}).get("spark.jobGroup.id")
    return g if g and g.startswith(GROUP_PREFIX) else None


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Job group -> job/task/shuffle/spill totals, from an uncompressed
    Spark event log (one JSON event per line).  Groups not set by a
    :class:`Tracer` are ignored."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties"))
            if g:
                out.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            g = _group_of(ev.get("Properties"))
            info = ev["Stage Info"]
            if g:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            st = out.setdefault(g, GroupStats())
            st.tasks += 1
            st.run_ms.append(int(m.get("Executor Run Time", 0)))
            st.shuffle_bytes += int(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
            st.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    return out


def layer_table(
    spans: list[Span], groups: dict[str, GroupStats], layer_of=lambda s: s.name
) -> dict[str, dict[str, float]]:
    """Per-layer metrics, each the median over repetitions of the per-rep
    sum: wall_s (self time), jobs, tasks, shuffle_mb, spill_mb, task_skew
    (over the layer's pooled tasks of the rep) plus every span counter.
    ``layer_of`` maps a span to its layer name."""
    st = self_times(spans)
    per: dict[str, dict[str, dict]] = {}
    for s in spans:
        rec = per.setdefault(layer_of(s), {}).setdefault(
            s.rep, {"wall_s": 0.0, "counts": {}, "g": GroupStats()}
        )
        rec["wall_s"] += st[s.sid]
        for k, v in s.counts.items():
            rec["counts"][k] = rec["counts"].get(k, 0) + v
        g = groups.get(s.group)
        if g is not None:
            rec["g"].jobs += g.jobs
            rec["g"].tasks += g.tasks
            rec["g"].shuffle_bytes += g.shuffle_bytes
            rec["g"].spill_bytes += g.spill_bytes
            rec["g"].run_ms.extend(g.run_ms)
    table: dict[str, dict[str, float]] = {}
    for layer, reps in per.items():
        rows = []
        for rec in reps.values():
            g = rec["g"]
            row = {
                "wall_s": rec["wall_s"],
                "jobs": g.jobs,
                "tasks": g.tasks,
                "shuffle_mb": g.shuffle_bytes / 1e6,
                "spill_mb": g.spill_bytes / 1e6,
                "task_skew": g.task_skew,
            }
            row.update(rec["counts"])
            rows.append(row)
        keys = sorted({k for r in rows for k in r})
        table[layer] = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
    return table


class Segments:
    """Split the time under the innermost open span into consecutive child
    spans that end at commits of named tables.

    The code being traced calls ``committed(table)`` right after each
    commit: the segment that just ended is named ``layer_of(table)`` and a
    new one opens.  The stretch after the last commit keeps the name
    ``tail``.  So a job is charged to the layer of the first table
    committed after it started."""

    def __init__(self, tracer: Tracer, rep: str, layer_of, tail: str) -> None:
        self.tracer, self.rep, self.layer_of, self.tail = tracer, rep, layer_of, tail
        self.cur: Span | None = None

    def __enter__(self) -> Segments:
        self.cur = self.tracer.begin(self.tail, self.rep)
        return self

    def committed(self, table: str) -> None:
        self.cur.name = self.layer_of(table)
        self.tracer.finish(self.cur)
        self.cur = self.tracer.begin(self.tail, self.rep)

    def __exit__(self, *exc) -> bool:
        self.tracer.finish(self.cur)
        return False
