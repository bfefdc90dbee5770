"""Spark event log → per-layer metrics of one tagged run phase.

The benchmark's session writes an uncompressed, non-rolling event log.
Each job carries the ``perfbench.layer`` and ``perfbench.phase``
properties ``spans.LayerTagger`` set when it was submitted. Within the
``operators.extract`` layer, each stage is given its role by what it
did: the stage that fed Python workers is the extract stage (dedup
window, ``mapInPandas``, write), and the stage that scanned input and
wrote shuffle is the scan stage (scan, prefilter, resume anti-join,
salted exchange).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.spans import LAYER_PROPERTY, PHASE_PROPERTY

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_FILES_READ = "size of files read"


@dataclass
class Task:
    run_ms: int
    wall_ms: int
    metrics: dict


@dataclass
class Stage:
    stage_id: int
    submitted: int = 0
    completed: int = 0
    accums: dict = field(default_factory=dict)  # accumulable name → total
    tasks: list = field(default_factory=list)

    def total(self, key: str) -> float:
        return sum(t.metrics.get(key, 0) for t in self.tasks)


@dataclass
class Job:
    job_id: int
    layer: str | None
    phase: str | None
    execution: int | None
    submitted: int
    completed: int = 0
    stages: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return (self.completed - self.submitted) / 1000


@dataclass
class EventLog:
    jobs: list
    #: SQL execution id → summed driver-side value of each named plan
    #: metric (e.g. "size of files read" of the parquet scan)
    driver_metrics: dict

    def phase(self, name: str) -> list:
        return [j for j in self.jobs if j.phase == name]


def _task_metrics(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
        "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
        "output_records": tm.get("Output Metrics", {}).get("Records Written", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_records": sr.get("Total Records Read", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
    }


def _plan_metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def parse(path: Path) -> EventLog:
    """Read one event log file."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    accum_name: dict[int, str] = {}
    driver: dict[int, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                job = Job(
                    job_id=e["Job ID"],
                    layer=props.get(LAYER_PROPERTY),
                    phase=props.get(PHASE_PROPERTY),
                    execution=int(exec_id) if exec_id is not None else None,
                    submitted=e["Submission Time"],
                )
                jobs[job.job_id] = job
                for sid in e["Stage IDs"]:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].completed = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                if info.get("Failed") or info.get("Killed"):
                    continue
                stage = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                tm = e.get("Task Metrics") or {}
                stage.tasks.append(
                    Task(
                        run_ms=tm.get("Executor Run Time", 0),
                        wall_ms=info["Finish Time"] - info["Launch Time"],
                        metrics=_task_metrics(tm),
                    )
                )
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stage = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                stage.submitted = si.get("Submission Time", 0)
                stage.completed = si.get("Completion Time", 0)
                for a in si.get("Accumulables", []):
                    try:
                        stage.accums[a["Name"]] = stage.accums.get(
                            a["Name"], 0
                        ) + int(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                names: dict[int, str] = {}
                _plan_metric_names(e["sparkPlanInfo"], names)
                accum_name.update(names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    name = accum_name.get(acc_id)
                    if name is None:
                        continue
                    per = driver.setdefault(e["executionId"], {})
                    per[name] = per.get(name, 0) + value
    for sid, stage in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None and stage.tasks:
            job.stages.append(stage)
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), driver)


def find_log(event_dir: Path) -> Path:
    logs = [p for p in event_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    return logs[0]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def phase_metrics(log: EventLog, phase: str, cores: int) -> dict:
    """Per-layer metrics of the jobs one ``run_extract`` call submitted."""
    jobs = log.phase(phase)
    if not jobs:
        raise RuntimeError(f"no Spark jobs tagged with phase {phase!r}")
    extract_jobs = [j for j in jobs if j.layer == "operators.extract"]
    stages = [s for j in extract_jobs for s in j.stages]
    py = [s for s in stages if _PY_SENT in s.accums]
    scan = [
        s
        for s in stages
        if s not in py and s.total("input_records") and s.total("shuffle_write_bytes")
    ]
    if not py or not scan:
        raise RuntimeError(f"phase {phase!r}: extract or scan stage not found")
    tasks = [t for s in py for t in s.tasks]
    durations = sorted(t.wall_ms for t in tasks)
    stage_wall = sum(s.completed - s.submitted for s in py)
    executions = {j.execution for j in extract_jobs if j.execution is not None}
    files_read = sum(log.driver_metrics.get(x, {}).get(_FILES_READ, 0) for x in executions)
    scanned = sum(s.total("input_records") for s in scan)
    into_python = sum(s.total("shuffle_read_records") for s in py)
    out_records = sum(s.total("output_records") for s in py)

    def layer_s(layer):
        return sum(j.wall_s for j in jobs if j.layer == layer)

    return {
        "sources.pages.bytes_read": files_read
        or sum(s.total("input_bytes") for s in scan),
        "sources.pages.rows_scanned": scanned,
        "sources.pages.task_s": sum(t.run_ms for s in scan for t in s.tasks) / 1000,
        "operators.salt.shuffle_write_bytes": sum(
            s.total("shuffle_write_bytes") for s in scan
        ),
        "operators.dedup.kept_share": _ratio(out_records, into_python),
        "operators.extract.task_s": sum(t.run_ms for t in tasks) / 1000,
        "operators.extract.python_run_s": sum(s.accums.get(_PY_RUN, 0) for s in py)
        / 1000,
        "operators.extract.python_start_s": sum(s.accums.get(_PY_START, 0) for s in py)
        / 1000,
        "operators.extract.python_init_s": sum(s.accums.get(_PY_INIT, 0) for s in py)
        / 1000,
        "operators.extract.python_bytes_sent": sum(s.accums[_PY_SENT] for s in py),
        "operators.extract.python_bytes_returned": sum(
            s.accums.get(_PY_RETURNED, 0) for s in py
        ),
        "operators.extract.spill_bytes": sum(s.total("spill_bytes") for s in stages),
        "operators.extract.straggler_ratio": _ratio(
            durations[-1], statistics.median(durations)
        ),
        "operators.extract.idle_share": 1
        - _ratio(sum(durations), cores * stage_wall),
        "operators.extract.stage_s": stage_wall / 1000,
        "plans.pipeline.overhead_s": sum(
            j.wall_s for j in jobs if j.layer != "operators.extract"
        ),
        "plans.pipeline.jobs": len(jobs),
        "plans.pipeline.output_bytes": sum(s.total("output_bytes") for s in py),
        "operators.resume.pending_s": layer_s("operators.resume.pending"),
        "operators.resume.checkpoint_s": layer_s("operators.resume.checkpoint"),
    }
