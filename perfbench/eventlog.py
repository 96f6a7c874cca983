"""Spark event-log parser and span attributor.

Spark writes one JSON object per line (``spark.eventLog.enabled``); in
Spark 4 a log is a directory ``eventlog_v2_<app>/events_<n>_<app>``.
``parse`` turns it into jobs and stages with the per-stage executor
metrics summed over successful task attempts.  ``attribute`` assigns
each job to the benchmark span it ran under.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PYTHON_SENT = "data sent to Python workers"


@dataclass
class Stage:
    stage_id: int
    n_tasks: int = 0
    scopes: set[str] = field(default_factory=set)
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    input_bytes: int = 0
    python_bytes: int = 0

    def reads(self, scope_prefix: str) -> bool:
        return any(s.startswith(scope_prefix) for s in self.scopes)


@dataclass
class Job:
    job_id: int
    submit_s: float
    stage_ids: list[int]
    props: dict[str, str]

    @property
    def batch_id(self) -> int | None:
        b = self.props.get("streaming.sql.batchId")
        return int(b) if b is not None else None


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    #: stage id → the first job that listed it.  A later job that reuses
    #: a shuffle lists the producing stage again, as skipped.
    owner: dict[int, int] = field(default_factory=dict)

    def job_stages(self, job: Job) -> list[Stage]:
        """Stages that ran for ``job``."""
        return [
            self.stages[s]
            for s in job.stage_ids
            if s in self.stages and self.owner.get(s) == job.job_id
        ]


def log_files(path: str) -> list[str]:
    """The event files of one log: ``path`` itself, or the ``events_*``
    files of a rolling ``eventlog_v2_*`` directory, in order."""
    if os.path.isfile(path):
        return [path]
    found = glob.glob(os.path.join(path, "events_*"))
    if not found:
        found = glob.glob(os.path.join(path, "*", "events_*"))
    return sorted(found, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except ValueError:
        return None


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for fname in log_files(path):
        with open(fname) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        list(ev["Stage IDs"]),
                        dict(ev.get("Properties") or {}),
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    for rdd in info.get("RDD Info") or []:
                        name = _scope_name(rdd)
                        if name:
                            st.scopes.add(name.strip())
                elif kind == "SparkListenerTaskEnd":
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        continue
                    st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                    _add_task(st, ev)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for s in jobs[jid].stage_ids:
            owner.setdefault(s, jid)
    return EventLog(jobs, stages, owner)


def _add_task(st: Stage, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st.n_tasks += 1
    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    st.gc_ms += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    st.peak_exec_mem_bytes = max(
        st.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0)
    )
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        if acc.get("Name") == PYTHON_SENT:
            st.python_bytes += int(acc.get("Update") or 0)


@dataclass
class Span:
    """One timed call made by the benchmark: ``name`` is the layer,
    ``op`` the workload operation it belongs to."""

    span_id: int
    name: str
    start_s: float
    end_s: float
    parent: int | None
    op: str | None
    thread: str


def attribute(log: EventLog, spans: list[Span]) -> dict[int, int | None]:
    """Job id → id of the innermost span that contains the job's
    submission time.  Jobs a streaming query ran carry
    ``streaming.sql.batchId`` and are tied to their batch instead, so a
    span that merely overlaps a batch never claims them."""
    out: dict[int, int | None] = {}
    for job in log.jobs.values():
        best = None
        if job.batch_id is None:
            for sp in spans:
                if sp.start_s <= job.submit_s <= sp.end_s and (
                    best is None or sp.start_s >= best.start_s
                ):
                    best = sp
        out[job.job_id] = best.span_id if best else None
    return out


def totals(stages: list[Stage]) -> dict[str, float]:
    """Summed executor metrics of a set of stages (MB for bytes; shuffle
    is bytes written, each byte moved counted once)."""
    mb = 1024.0 * 1024.0
    return {
        "stages": float(len(stages)),
        "tasks": float(sum(s.n_tasks for s in stages)),
        "cpu_ms": sum(s.cpu_ms for s in stages),
        "gc_ms": sum(s.gc_ms for s in stages),
        "shuffle_mb": sum(s.shuffle_write_bytes for s in stages) / mb,
        "spill_mb": sum(s.spill_bytes for s in stages) / mb,
        "peak_exec_mem_mb": max((s.peak_exec_mem_bytes for s in stages), default=0) / mb,
        "input_bytes": float(sum(s.input_bytes for s in stages)),
        "python_mb": sum(s.python_bytes for s in stages) / mb,
    }
