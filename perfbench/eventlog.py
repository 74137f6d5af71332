"""Parser for Spark's JSON event log (uncompressed, rolling or single file).

Reads jobs, stages and tasks, with per-stage sums of the task metrics and
of the SQL accumulables (Spark's built-in Python metrics such as "time to
run Python workers" live there). Jobs and stages carry the benchmark's
local properties: ``spark.jobGroup.id`` names the pass, ``perfbench.span``
the benchmark span that submitted them.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
SPAN = "perfbench.span"

# Python SQL metrics of mapInArrow (ms for times, bytes for data).
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_METRICS = (PY_BOOT, PY_INIT, PY_RUN, PY_SENT, PY_RECV)


@dataclass
class Stage:
    stage_id: int
    name: str = ""
    group: str | None = None
    span: str | None = None
    submit_ms: int | None = None
    complete_ms: int | None = None
    n_tasks: int = 0
    task_run_ms: list[int] = field(default_factory=list)
    # sums over the stage's successful tasks
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    fetch_wait_ms: int = 0
    sql: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return (self.complete_ms - self.submit_ms) / 1000.0


@dataclass
class Job:
    job_id: int
    group: str | None
    span: str | None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def stages_in(self, group: str) -> list[Stage]:
        """Stages that ran (had tasks) for one job group, by submit time."""
        out = [s for s in self.stages.values() if s.group == group and s.n_tasks > 0]
        return sorted(out, key=lambda s: (s.submit_ms or 0, s.stage_id))

    def jobs_in(self, group: str) -> list[Job]:
        return sorted(
            (j for j in self.jobs.values() if j.group == group), key=lambda j: j.job_id
        )


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: a rolling ``eventlog_v2_*`` directory
    holds ``events_<n>_*`` parts, read in part order."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            files.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        elif not os.path.basename(entry).startswith("."):
            files.append(entry)
    return files


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_lines(lines) -> EventLog:
    log = EventLog()

    def stage(sid: int) -> Stage:
        return log.stages.setdefault(sid, Stage(sid))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(e["Job ID"], props.get(GROUP), props.get(SPAN))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            s = stage(info["Stage ID"])
            s.name = info.get("Stage Name", "")
            s.group, s.span = props.get(GROUP), props.get(SPAN)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"])
            s.name = info.get("Stage Name", s.name)
            s.submit_ms = info.get("Submission Time")
            s.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            s = stage(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            s.n_tasks += 1
            s.task_run_ms.append(int(m.get("Executor Run Time", 0)))
            s.cpu_ns += int(m.get("Executor CPU Time", 0))
            s.gc_ms += int(m.get("JVM GC Time", 0))
            s.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            s.output_bytes += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            s.shuffle_write_ns += int(sw.get("Shuffle Write Time", 0))
            s.fetch_wait_ms += int((m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in PY_METRICS:
                    s.sql[name] = s.sql.get(name, 0.0) + _num(acc.get("Update"))
    return log


def load(log_dir: str) -> EventLog:
    lines = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            lines.extend(f)
    return parse_lines(lines)
