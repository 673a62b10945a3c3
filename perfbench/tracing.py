"""Tracing from outside the engine: spans around public calls, Spark
job groups, and a reader for Spark's JSON event log.

A span records (name, start, end, parent, repetition id) in memory; the
list is written out when the run ends.  Each span also tags the Spark
jobs started inside it with ``setJobGroup``, so the event log can be
cut into the same spans.  With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of this session (call again after a restart)."""
        self._sc = spark.sparkContext

    def _tag(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"span{sid}", self.spans[sid]["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, rep: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "rep": rep,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
            }
        )
        self._stack.append(sid)
        self._tag()
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()
            self._tag()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, sid: int) -> set[int]:
        """Ids of the span and every span nested in it."""
        out = {sid}
        for s in self.spans[sid + 1 :]:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    execution_id: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=lambda: defaultdict(StageStats))
    plans: dict[int, dict] = field(default_factory=dict)  # execution id -> last plan info

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    log.jobs[ev["Job ID"]] = Job(
                        group=props.get("spark.jobGroup.id"),
                        submit_ms=ev["Submission Time"],
                        execution_id=int(eid) if eid is not None else None,
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    log.stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages[ev["Stage ID"]]
                    st.tasks += 1
                    if (ev.get("Task Info") or {}).get("Failed"):
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    # the adaptive updates replace the initial plan with
                    # the one that actually ran
                    log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
        return log

    def groups_stats(self, groups: set[str]) -> dict[str, float]:
        """Runtime totals of the jobs tagged with any of ``groups``."""
        jobs = [j for j in self.jobs.values() if j.group in groups]
        stage_ids = [s for s, g in self.stage_group.items() if g in groups]
        st = [self.stages[s] for s in stage_ids if s in self.stages]
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": sum(s.tasks for s in st),
            "failed_tasks": sum(s.failed_tasks for s in st),
            "executor_run_s": sum(s.run_ms for s in st) / 1e3,
            "executor_cpu_s": sum(s.cpu_ns for s in st) / 1e9,
            "gc_s": sum(s.gc_ms for s in st) / 1e3,
            "spill_bytes": sum(s.spill_bytes for s in st),
            "shuffle_bytes": sum(s.shuffle_write_bytes for s in st),
        }

    def busy_s(self, groups: set[str], start: float, end: float) -> float:
        """Wall time in [start, end] (epoch seconds) covered by at least
        one job of ``groups``."""
        spans = sorted(
            (max(j.submit_ms / 1e3, start), min((j.end_ms or j.submit_ms) / 1e3, end))
            for j in self.jobs.values()
            if j.group in groups
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return busy

    def plan_nodes(self, groups: set[str], prefixes: tuple[str, ...]) -> int:
        """Plan nodes whose name starts with one of ``prefixes``, over
        the SQL executions the jobs of ``groups`` ran."""
        execs = {j.execution_id for j in self.jobs.values() if j.group in groups}

        def count(node: dict) -> int:
            own = 1 if node.get("nodeName", "").startswith(prefixes) else 0
            return own + sum(count(c) for c in node.get("children", []))

        return sum(count(self.plans[e]) for e in execs if e in self.plans)
