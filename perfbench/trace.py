"""Span recorder and Spark event-log digest for the benchmark's traced runs.

Spans are recorded by the benchmark around each call into a layer of the
engine (the engine itself is not instrumented). Each span sets its own
Spark job group, so every job Spark runs inside it carries the span id;
the event log then attributes jobs, stages, tasks and SQL metrics back to
the span. Spans are kept in memory and written out when the run ends.

A span's *layer* is the part of its name before the first dot
(``checks.verdicts`` belongs to ``checks``).
"""

from __future__ import annotations

import json
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one generator
    frame and records nothing, so untraced runs carry no tracing work."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.stream_groups: dict[str, str] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{name}#{len(self.spans)}", name, parent and parent.id,
                 time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def attach_stream(self, run_id: str, span: Span | None) -> None:
        """Micro-batch jobs run on the query's own thread, under a job
        group equal to the query's run id; map it to ``span``."""
        if span is not None:
            self.stream_groups[run_id] = span.id

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ------------------------------------------------------------ event log


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    tasks_retried: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    files_read: int = 0
    job_intervals: list = field(default_factory=list)


_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(path: str) -> list[dict]:
    """Decode a zstd-compressed JSON-lines event log with the ``zstd``
    command-line tool."""
    raw = subprocess.run(
        ["zstd", "-dcq", path], check=True, capture_output=True, timeout=120
    ).stdout
    return [json.loads(line) for line in raw.splitlines() if line.strip()]


def _plan_metric_names(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _plan_metric_names(c, out)


def digest(events: list[dict], stream_groups: dict[str, str]) -> dict[str, GroupStats]:
    """Job, stage, task and SQL-metric totals per job group (span id).
    Jobs of a streaming query are filed under the span mapped to the
    query's run id."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metric_name: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}

    def group_of(props: dict) -> str:
        g = props.get("spark.jobGroup.id") or ""
        return stream_groups.get(g, g)

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            g = group_of(e.get("Properties") or {})
            job_start[e["Job ID"]] = (g, e["Submission Time"])
            st = stats[g]
            st.jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            g, t0 = job_start.get(e["Job ID"], ("", e["Completion Time"]))
            stats[g].job_intervals.append((t0, e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stats[stage_group.get(info["Stage ID"], "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            st = stats[stage_group.get(e["Stage ID"], "")]
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            st.tasks += 1
            st.tasks_failed += bool(ti.get("Failed"))
            st.tasks_retried += ti.get("Attempt", 0) > 0
            st.task_run_s += tm.get("Executor Run Time", 0) / 1e3
            st.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1e3
            inp = tm.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_rows += inp.get("Records Read", 0)
            st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for a in ti.get("Accumulables", []):
                if a.get("Name") in _PY_METRICS:
                    st.python_bytes += int(a.get("Update") or 0)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            if kind == "SparkListenerSQLExecutionStart":
                exec_group[e["executionId"]] = group_of(
                    {"spark.jobGroup.id": e.get("jobGroupId")}
                )
            _plan_metric_names(e.get("sparkPlanInfo") or {}, metric_name)
        elif kind == "SparkListenerDriverAccumUpdates":
            st = stats[exec_group.get(e["executionId"], "")]
            for acc_id, v in e["accumUpdates"]:
                if metric_name.get(acc_id) == "number of files read":
                    st.files_read += int(v)
    return dict(stats)


def busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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
