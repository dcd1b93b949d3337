"""Per-layer tracing from outside the engine.

Three instruments, all installed by the benchmark harness, none inside
the package:

- ``Py4jCounter`` wraps the session's py4j client and counts commands
  sent to the JVM, skipping ``m`` (memory release) commands: those are
  sent from Python garbage collection, whose timing does not repeat.
- ``Tracer`` records a span around each call the benchmark makes into a
  package module and runs that call under its own Spark job group.
- ``read_event_log`` reads Spark's event log after the session stops
  and folds jobs, stages and SQL metrics into each span's job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_MEMORY_COMMAND = "m\n"


class Py4jCounter:
    """Counts py4j commands the Python driver sends, minus ``m`` ones."""

    def __init__(self, spark):
        self.sends = 0
        self._lock = threading.Lock()
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(_MEMORY_COMMAND):
                with self._lock:
                    self.sends += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = send_command


@dataclass
class Span:
    name: str
    op: int | None
    parent: str | None
    group: str
    start: float  # epoch seconds (event-log clock)
    end: float = 0.0
    py4j_calls: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory, written out by the harness at exit.

    A disabled tracer runs the wrapped calls untouched: no job group,
    no counting. The harness interleaves traced and untraced ops, and
    the ratio of their op medians is the tracing overhead."""

    def __init__(self, spark=None, counter: Py4jCounter | None = None):
        self.spark = spark
        self.counter = counter
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        group = f"pb-{self._seq}-{name}"
        sp = Span(name, op if op is not None else (parent.op if parent else None),
                  parent.group if parent else None, group, time.time())
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        before = self.counter.sends if self.counter else 0
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()
            sp.py4j_calls = (self.counter.sends if self.counter else 0) - before
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)


# Task-metric accumulables summed per stage (name -> counter).
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "task_run_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "_input_records",
    "internal.metrics.shuffle.read.recordsRead": "_shuffle_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "_mem_spill",
    "internal.metrics.diskBytesSpilled": "_disk_spill",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
# Plan nodes that run Python workers.
_PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")

COUNTERS = (
    "wall_s", "jobs_s", "driver_s", "py4j_calls", "jobs", "stages", "tasks",
    "task_run_s", "input_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "output_files", "single_task_stage_rows_max", "python_rows",
)


def _plan_metric_ids(plan: dict, python_rows: set, written_files: set) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows" and any(
                k in name for k in _PYTHON_NODE_MARKERS
            ):
                python_rows.add(m["accumulatorId"])
            elif m.get("name") == "number of written files":
                written_files.add(m["accumulatorId"])
        stack.extend(node.get("children", []))


def read_event_log(paths: list[str]) -> dict:
    """Fold an uncompressed Spark event log into per-job-group counters.

    Returns ``{group: {counter: value, "job_names": [...]}}``. A stage
    counts toward the group of the job that submitted it; SQL-metric
    driver updates (written-file counts) toward the group of the jobs
    of their SQL execution."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: list[dict] = []
    exec_group: dict[str, str] = {}
    python_ids: set = set()
    file_ids: set = set()
    driver_updates: list[tuple[str, int, int]] = []
    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
            jobs[ev["Job ID"]] = {
                "group": group,
                "start": ev["Submission Time"],
                "end": None,
                "name": props.get("callSite.short") or (names[-1] if names else ""),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
            eid = props.get("spark.sql.execution.id")
            if group and eid is not None:
                exec_group.setdefault(str(eid), group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages.append(ev["Stage Info"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), python_ids, file_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                driver_updates.append((str(ev.get("executionId")), acc_id, value))

    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0,
            "input_bytes": 0, "shuffle_write_bytes": 0, "_mem_spill": 0,
            "_disk_spill": 0, "output_bytes": 0, "output_files": 0,
            "single_task_stage_rows_max": 0, "python_rows": 0,
            "_input_records": 0, "_shuffle_records": 0,
            "_intervals": [], "job_names": [],
        })

    for job in jobs.values():
        if job["group"] is None:
            continue
        b = bucket(job["group"])
        b["jobs"] += 1
        b["job_names"].append(job["name"])
        b["_intervals"].append((job["start"], job["end"] or job["start"]))
    for st in stages:
        job = jobs.get(stage_job.get(st["Stage ID"]))
        if job is None or job["group"] is None:
            continue
        b = bucket(job["group"])
        b["stages"] += 1
        n_tasks = st.get("Number of Tasks", 0)
        b["tasks"] += n_tasks
        vals = {}
        for acc in st.get("Accumulables", []):
            key = _STAGE_METRICS.get(acc.get("Name"))
            value = _as_int(acc.get("Value"))
            if key:
                vals[key] = value
            elif acc.get("ID") in python_ids:
                b["python_rows"] += value
        for key, value in vals.items():
            b[key] += value
        if n_tasks == 1:
            rows = vals.get("_input_records", 0) + vals.get("_shuffle_records", 0)
            b["single_task_stage_rows_max"] = max(b["single_task_stage_rows_max"], rows)
    for eid, acc_id, value in driver_updates:
        group = exec_group.get(eid)
        if group is not None and acc_id in file_ids:
            bucket(group)["output_files"] += _as_int(value)

    for b in out.values():
        b["jobs_s"] = _union_ms(b.pop("_intervals")) / 1000.0
        b["task_run_s"] = b.pop("task_run_ms") / 1000.0
        b["spill_bytes"] = b.pop("_mem_spill") + b.pop("_disk_spill")
        b.pop("_input_records", None)
        b.pop("_shuffle_records", None)
    return out


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def _as_int(value) -> int:
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The application's event log, in order: a rolling (v2) log is a
    directory of numbered ``events_<n>_<appId>`` parts."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [n for n in os.listdir(rolled) if n.startswith("events_")]
        return [os.path.join(rolled, n)
                for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    flat = os.path.join(log_dir, app_id)
    if os.path.isfile(flat):
        return [flat]
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


def attach_counters(spans: list[Span], groups: dict) -> None:
    """Fill each span's counters from its own job group (children run
    under their own groups, so a parent's counters are its self work)."""
    for sp in spans:
        g = groups.get(sp.group, {})
        c = {k: g.get(k, 0) for k in COUNTERS if k not in ("wall_s", "driver_s")}
        c["job_names"] = g.get("job_names", [])
        c["wall_s"] = sp.wall_s
        c["py4j_calls"] = sp.py4j_calls
        c["driver_s"] = max(sp.wall_s - c["jobs_s"], 0.0)
        sp.counters = c
