"""Spans recorded around calls into the engine's layers, from outside.

A span has a name, start and end (``time.perf_counter`` seconds from the
run's start), its parent span and the run id.  Spans are kept in memory
and written as one JSON file when the run ends.

Spark counters are taken per span from outside the engine: every span
runs under its own Spark job group (``SparkContext.setJobGroup``); when the
run ends, the job ids of each group come from ``statusTracker()`` and the
stage counters (tasks, input records, shuffle bytes) from the driver's
status store.  A span's counters are its own jobs only, not its children's.

``Tracer(enabled=False)`` records nothing and costs one branch per span,
so the untraced run calls the same code.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Optional


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "attrs", "spark")

    def __init__(self, sid, name, parent, start, group):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = None
        self.group = group
        self.attrs = {}
        self.spark = {}

    def to_json(self, run_id: str) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "run_id": run_id,
            "start": self.start,
            "end": self.end,
            "attrs": self.attrs,
            "spark": self.spark,
        }


class _Off:
    """Stand-in span for the untraced run: accepts attributes, keeps none."""

    def __setitem__(self, key, value):
        pass


_OFF = _Off()


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool, t0: float) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def off(self) -> "Tracer":
        """A disabled twin (for warm-up work inside a traced run)."""
        return Tracer(self.spark, self.run_id, False, self.t0)

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as one span; yields a dict-like for attributes."""
        if not self.enabled:
            yield _OFF
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.id if parent else None, 0.0, f"{self.run_id}:{sid}")
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        # a root span may run on a streaming query's thread, whose own job
        # group must survive the span
        saved = None if parent else [(k, sc.getLocalProperty(k)) for k in _GROUP_PROPS]
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter() - self.t0
        try:
            yield _AttrSink(s)
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                for k, v in saved:
                    sc.setLocalProperty(k, v)

    def collect_spark_counters(self) -> None:
        """Fill ``span.spark`` for every span from the status tracker and
        the driver's status store (works with the UI disabled)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(s.group))
            tasks = input_records = shuffle_write = stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    for sd in _stage_attempts(store, sid):
                        if sd.status().toString() == "SKIPPED":
                            continue
                        stages += 1
                        tasks += sd.numCompleteTasks()
                        input_records += sd.inputRecords()
                        shuffle_write += sd.shuffleWriteBytes()
            s.spark = {
                "jobs": len(jobs),
                "stages": stages,
                "tasks": tasks,
                "input_records": input_records,
                "shuffle_write_bytes": shuffle_write,
            }

    def write(self, path: str, extra: Optional[dict] = None) -> dict:
        """Write the span file; returns the document written."""
        doc = {"run_id": self.run_id, "spans": [s.to_json(self.run_id) for s in self.spans]}
        if extra:
            doc.update(extra)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
        return doc


class _AttrSink:
    def __init__(self, span: Span) -> None:
        self.attrs = span.attrs

    def __setitem__(self, key, value):
        self.attrs[key] = value


def _stage_attempts(store, stage_id: int) -> list:
    try:
        seq = store.stageData(stage_id, False, None, False, None)
    except Exception:  # py4j error: stage evicted or never registered
        return []
    return [seq.apply(i) for i in range(seq.size())]


# --------------------------------------------------------------------------
# report over a span list (JSON form, as written by Tracer.write)
# --------------------------------------------------------------------------


def _covered(intervals: list) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: list) -> dict:
    """Self time per layer: each span's duration minus the part of it
    that its child spans cover, summed by layer (first name component)."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        out[layer_of(s["name"])] = out.get(layer_of(s["name"]), 0.0) + own
    return out


def uncovered_share(spans: list, wall_start: float, wall_end: float) -> float:
    """Share of the measured wall interval that no span covers."""
    wall = wall_end - wall_start
    if wall <= 0:
        return 0.0
    clipped = [
        (max(s["start"], wall_start), min(s["end"], wall_end))
        for s in spans
        if s["end"] > wall_start and s["start"] < wall_end
    ]
    return 1.0 - _covered(clipped) / wall


def spark_totals(spans: list) -> dict:
    out = {"jobs": 0, "stages": 0, "tasks": 0, "input_records": 0, "shuffle_write_bytes": 0}
    for s in spans:
        for k in out:
            out[k] += s["spark"].get(k, 0)
    return out


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def percentile(values, q: float, default=0.0):
    """Nearest-rank percentile (q in [0, 100])."""
    values = sorted(values)
    if not values:
        return default
    rank = max(1, -(-len(values) * q // 100))
    return values[int(rank) - 1]
