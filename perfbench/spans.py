"""Spans around the benchmark's calls into the engine, and what they cost.

Every call into a public engine function runs inside :meth:`Tracer.span`.
Untraced, a span is only a pair of monotonic timestamps (the end-to-end
metrics come from these).  Traced, the span also sets a Spark job group, so
the jobs the call ran can be counted from the status tracker, and the Spark
event log (enabled only in the traced run) attributes every stage and task
to the span that caused it.  Spans stay in memory and are written out when
the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder: name, start, end, parent span and run id per span."""

    def __init__(self, sc, run_id: str, traced: bool):
        self.sc = sc
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, span_id: int | None) -> str:
        return f"{self.run_id}/{'-' if span_id is None else span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.traced:
            self.sc.setJobGroup(self._group(rec["id"]), name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.traced:
                group = self._group(rec["id"])
                rec["jobs"] = sorted(
                    self.sc.statusTracker().getJobIdsForGroup(group)
                )
                parent = self._stack[-1] if self._stack else None
                self.sc.setJobGroup(self._group(parent), "perfbench")

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cursor = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (span["end"] - span["start"]) - covered

    def coverage(self, span: dict) -> float:
        """Share of a window span's wall time its child spans cover."""
        wall = span["end"] - span["start"]
        return (wall - self.self_time(span)) / wall if wall > 0 else 0.0

    def jobs(self, span: dict) -> int:
        """Jobs a span ran: its own group's plus every descendant's."""
        return len(span.get("jobs", ())) + sum(
            self.jobs(c) for c in self.children(span))

    def groups(self, spans: list[dict]) -> set[str]:
        """Job groups of the given spans and of all their descendants."""
        out: set[str] = set()
        todo = list(spans)
        while todo:
            s = todo.pop()
            out.add(self._group(s["id"]))
            todo.extend(self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(values) -> float:
    """Median, or 0.0 when there are no values (a layer not driven)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ event log
class StageMetrics:
    """Task metrics from a Spark event log, per stage, with each stage's
    job group and streaming micro-batch id (both are local properties the
    stage was submitted under)."""

    def __init__(self, log_dir: str):
        self.stages: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name), encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "group": None, "batch": None, "task_ms": [], "cpu_ns": 0,
            "gc_ms": 0, "shuffle_write": 0, "spill": 0, "input": 0,
        })

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
            }
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            st = self._stage(ev["Stage Info"]["Stage ID"])
            st["group"] = props.get("spark.jobGroup.id")
            st["batch"] = props.get("streaming.sql.batchId")
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            st["task_ms"].append(int(info.get("Finish Time", 0))
                                 - int(info.get("Launch Time", 0)))
            st["cpu_ns"] += int(m.get("Executor CPU Time", 0))
            st["gc_ms"] += int(m.get("JVM GC Time", 0))
            st["spill"] += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += int(sw.get("Shuffle Bytes Written", 0))
            inp = m.get("Input Metrics") or {}
            st["input"] += int(inp.get("Bytes Read", 0))

    def for_groups(self, groups: set[str]) -> list[dict]:
        return [s for s in self.stages.values() if s["group"] in groups]

    def streaming(self) -> list[dict]:
        return [s for s in self.stages.values() if s["batch"] is not None]

    def jobs_per_batch(self) -> dict[str, int]:
        """streaming micro-batch id -> Spark jobs it ran."""
        per: dict[str, int] = {}
        for j in self.jobs.values():
            if j["batch"] is not None:
                per[j["batch"]] = per.get(j["batch"], 0) + 1
        return per

    @staticmethod
    def total(stages: list[dict], key: str) -> int:
        return sum(s[key] for s in stages)

    @staticmethod
    def task_skew(stages: list[dict]) -> float:
        """max/median task time of the widest stage (most tasks)."""
        ran = [s for s in stages if s["task_ms"]]
        if not ran:
            return 0.0
        widest = max(ran, key=lambda s: len(s["task_ms"]))
        med = statistics.median(widest["task_ms"])
        return max(widest["task_ms"]) / med if med > 0 else 0.0


def stream_listener(progress: list[dict]):
    """A StreamingQueryListener that keeps every micro-batch's progress
    (batch id, input rows, per-phase ``durationMs``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()
