"""Spark event-log parser for the traced run.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true, spark.eventLog.compress=false`` (Spark 4
writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory; the
default zstd codec has no reader in this Python) and reduces it to
per-job and per-stage records. Grouped-map stages are classified by the output schema of their
``FlatMapGroupsInPandas`` node (the STL gap-fill emits ``seasonal``, the
Gorilla chunk encoder emits ``blob``) or, when the log never names the
node, by the commit span their job ran in.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

# SQL metric names of a Python UDF node (Spark 4.1 display names)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_METRICS = (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_RECV)


@dataclass
class Stage:
    stage_id: int
    num_tasks: int = 0
    kind: str | None = None          # "gapfill", "chunks" or None
    run_ms: int = 0                   # executor run time summed over tasks
    shuffle_write_bytes: int = 0
    shuffle_records_read: int = 0
    spill_bytes: int = 0
    py: dict = field(default_factory=dict)   # PY_* metric -> value
    py_acc: dict = field(default_factory=dict)   # accumulator id -> (name, value)
    task_ms: list = field(default_factory=list)

    @property
    def skew(self) -> float:
        """Max over median task run time (1.0 for a single task)."""
        if not self.task_ms:
            return 1.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    description: str | None
    stage_ids: list


@dataclass
class EventLog:
    jobs: dict            # job id -> Job
    stages: dict          # stage id -> Stage (completed attempts only)


def log_files(path: str) -> list[str]:
    """The event files of one application, in write order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, files in os.walk(path):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                found.append((int(m.group(1)), os.path.join(root, f)))
    return [p for _, p in sorted(found)]


def _udf_kind(simple: str) -> str | None:
    if "blob#" in simple:
        return "chunks"
    if "seasonal#" in simple:
        return "gapfill"
    return None


def _span_kind(description: str | None) -> str | None:
    """Kind of a grouped map run inside a ``KeyedTable`` commit span: the
    pipeline's lazy gap-fill and chunk frames execute in the commits of
    ``gapfill_1m`` and ``chunks``."""
    if description and description.endswith("commit:gapfill_1m"):
        return "gapfill"
    if description and description.endswith("commit:chunks"):
        return "chunks"
    return None


def _walk_plan(node: dict, acc_kind: dict) -> None:
    if node.get("nodeName") == "FlatMapGroupsInPandas":
        kind = _udf_kind(node.get("simpleString", ""))
        if kind:
            for m in node.get("metrics", []):
                acc_kind[m["accumulatorId"]] = kind
    for ch in node.get("children", []):
        _walk_plan(ch, acc_kind)


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    acc_kind: dict[int, str] = {}
    task_ms: dict[int, list] = {}
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                ev = json.loads(line)
                name = ev.get("Event", "")
                if "sparkPlanInfo" in ev:   # SQL execution start / AQE update
                    _walk_plan(ev["sparkPlanInfo"], acc_kind)
                elif name == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"],
                        props.get("spark.job.description"),
                        list(ev.get("Stage IDs", [])))
                elif name == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    task_ms.setdefault(ev["Stage ID"], []).append(
                        tm.get("Executor Run Time", 0))
                elif name == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = Stage(si["Stage ID"], si.get("Number of Tasks", 0))
                    for a in si.get("Accumulables", []):
                        an, val = a.get("Name", ""), a.get("Value")
                        try:
                            val = int(val)
                        except (TypeError, ValueError):
                            continue
                        if an == "internal.metrics.executorRunTime":
                            st.run_ms = val
                        elif an == "internal.metrics.shuffle.write.bytesWritten":
                            st.shuffle_write_bytes = val
                        elif an == "internal.metrics.shuffle.read.recordsRead":
                            st.shuffle_records_read = val
                        elif an in ("internal.metrics.memoryBytesSpilled",
                                    "internal.metrics.diskBytesSpilled"):
                            st.spill_bytes += val
                        elif an in PY_METRICS:
                            st.py_acc[a["ID"]] = (an, val)
                    stages[st.stage_id] = st
    # AQE registers a re-planned node's metrics before the plan that names
    # the node is logged (and a re-run of a plan inside a cached relation
    # may never be logged), so stages are classified once everything is
    # read, by node where it is known and else by the job's span name
    stage_desc = {sid: j.description for j in jobs.values()
                  for sid in j.stage_ids}
    for st in stages.values():
        st.task_ms = task_ms.get(st.stage_id, [])
        if not st.py_acc:
            continue
        kinds = {acc_kind[a] for a in st.py_acc if a in acc_kind}
        st.kind = kinds.pop() if kinds else _span_kind(stage_desc.get(st.stage_id))
        if st.kind:
            for an, val in st.py_acc.values():
                st.py[an] = st.py.get(an, 0) + val
    return EventLog(jobs, stages)


def jobs_in(log: EventLog, t0_ms: float, t1_ms: float) -> list[Job]:
    """Jobs submitted inside [t0_ms, t1_ms) (driver wall clock, epoch ms)."""
    return [j for j in log.jobs.values() if t0_ms <= j.submit_ms < t1_ms]


def stages_of(log: EventLog, jobs: list[Job]) -> list[Stage]:
    """Stages of ``jobs`` that ran (skipped stages never complete)."""
    ids = {s for j in jobs for s in j.stage_ids}
    return [log.stages[s] for s in sorted(ids) if s in log.stages]


def udf_summary(stages: list[Stage], kind: str) -> dict:
    """Totals over the grouped-map stages of one kind."""
    sel = [s for s in stages if s.kind == kind]
    return {
        "tasks": sum(s.num_tasks for s in sel),
        "executor_run_s": sum(s.run_ms for s in sel) / 1e3,
        "python_s": sum(s.py.get(PY_RUN, 0) for s in sel) / 1e3,
        "python_boot_s": sum(s.py.get(PY_START, 0) + s.py.get(PY_INIT, 0)
                             for s in sel) / 1e3,
        "arrow_bytes": sum(s.py.get(PY_SENT, 0) + s.py.get(PY_RECV, 0)
                           for s in sel),
        "task_skew": max((s.skew for s in sel), default=1.0),
        "rows_in": sum(s.shuffle_records_read for s in sel),
    }
