"""Outside-in tracing for the benchmark: spans around the calls the benchmark
makes into the engine, plus folding of a Spark event log.

Spans live in memory and are written out once, when the run ends. The table
layer is traced by handing ``run_crawl`` a ``TableIO`` / ``WaveCheckpoint``
subclass whose public methods open a span and then call the engine's own
method, so every table read and commit the crawl makes is seen from outside
without touching the engine. Lazy operator calls only build plans; their cost
lands in the wave marks or commit spans that execute them.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint


class Tracer:
    """Span recorder. A span is (name, layer, start, end, parent, thread,
    attrs); times are epoch seconds so they line up with the event log."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: dict | None = None  # the open top-level span

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        # a span opened on a worker thread (the engine's commit pools) has no
        # parent on its own thread; its cause is the open top-level span
        parent = stack[-1] if stack else self._root
        rec = {
            "id": None,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            if parent is None:
                self._root = rec
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self._root is rec:
                self._root = None

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def maybe_span(tracer: Tracer | None, name: str, layer: str, **attrs):
    """A span when tracing, otherwise a context that records nothing."""
    return tracer.span(name, layer, **attrs) if tracer else nullcontext()


class TracedTableIO(TableIO):
    """TableIO whose table reads and commits are spans."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def read(self, spark, table):
        with self.tracer.span("tableio.read", "plans.tableio", table=table):
            return super().read(spark, table)

    def commit(self, df, table, wave, *args, **kwargs):
        with self.tracer.span("tableio.commit", "plans.tableio", table=table, wave=wave):
            return super().commit(df, table, wave, *args, **kwargs)

    def commit_replace(self, df, table, wave, *args, **kwargs):
        with self.tracer.span("tableio.commit", "plans.tableio", table=table, wave=wave):
            return super().commit_replace(df, table, wave, *args, **kwargs)

    def commit_ref(self, table, src_table, src_snapshot_id, wave, *args, **kwargs):
        with self.tracer.span("tableio.commit", "plans.tableio", table=table, wave=wave):
            return super().commit_ref(table, src_table, src_snapshot_id, wave, *args, **kwargs)


class TracedCheckpoint(WaveCheckpoint):
    """WaveCheckpoint whose wave commits and recovery are spans."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def commit_wave(self, wave, snapshot_ids, extra=None):
        with self.tracer.span("checkpoint.commit_wave", "plans.tableio", wave=wave):
            return super().commit_wave(wave, snapshot_ids, extra)

    def recover(self, io):
        with self.tracer.span("checkpoint.recover", "plans.tableio"):
            return super().recover(io)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def read_event_log(path: str) -> dict:
    """Job and stage start times and task records from a Spark event log
    (JSON lines); times in epoch seconds."""
    jobs, stages, tasks = [], [], []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                stages.append(ev["Stage Info"].get("Submission Time", 0) / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                    }
                )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def fold_event_log(log: dict, windows: list[tuple[float, float]], fetch_windows) -> dict:
    """Spark work inside ``windows`` (the timed waves) and the task skew of the
    fetch stage inside each of ``fetch_windows`` (the fetch_out commits)."""

    def inside(t):
        return any(s <= t <= e for s, e in windows)

    tasks = [t for t in log["tasks"] if inside(t["start"])]
    out = {
        "jobs": sum(1 for t in log["jobs"] if inside(t)),
        "stages": sum(1 for t in log["stages"] if inside(t)),
        "tasks": len(tasks),
        "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
    }
    skews = []
    for s, e in fetch_windows:
        by_stage: dict[int, list[float]] = {}
        for t in log["tasks"]:
            if s <= t["start"] <= e:
                by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
        if by_stage:
            # the fetch stage is the one that did most of the work in the window
            durs = max(by_stage.values(), key=sum)
            med = statistics.median(durs)
            if med > 0:
                skews.append(max(durs) / med)
    out["fetch_task_skew"] = statistics.median(skews) if skews else 0.0
    return out
