"""Spark event-log reader: SQL executions, jobs, stages and task aggregates.

Spark 4 writes a rolling event log, ``eventlog_v2_<app>/events_*.zstd``,
when ``spark.eventLog.enabled`` is set. ``pyarrow.input_stream`` reads
the zstd frames, so no extra package is needed. Times in the log are
epoch milliseconds; they are returned here as epoch seconds.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa

# SQL metrics the harness aggregates per stage, by accumulator name
SQL_METRICS = {
    "scan time": "scan_ms",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
}


@dataclass
class Stage:
    id: int
    job: int = -1
    submit: float = 0.0
    complete: float = 0.0
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    input_b: int = 0
    output_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    fetch_wait_ms: int = 0
    spill_b: int = 0
    sql: dict[str, int] = field(default_factory=dict)


@dataclass
class Job:
    id: int
    sql_id: int
    desc: str
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class SqlExec:
    id: int
    desc: str
    start: float
    end: float = 0.0
    plan: str = ""


@dataclass
class App:
    app_id: str = ""
    start: float = 0.0
    end: float = 0.0
    cores: int = 0
    sql: dict[int, SqlExec] = field(default_factory=dict)
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def output_dir(self, sql_id: int) -> str:
        """Output directory a SQL execution writes, or '' for a read."""
        m = re.search(
            r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: (?:file:)?([^,\s]+)",
            self.sql[sql_id].plan,
        )
        return m.group(1) if m else ""


def read_events(log_dir: Path) -> list[dict]:
    files = sorted(
        log_dir.glob("events_*"), key=lambda p: int(p.name.split("_")[1])
    )
    events: list[dict] = []
    for p in files:
        if p.suffix == ".zstd":
            with pa.input_stream(str(p), compression="zstd") as f:
                text = f.read().decode()
        else:
            text = p.read_text()
        events.extend(json.loads(line) for line in text.splitlines() if line)
    return events


def parse(log_dir: Path) -> App:
    app = App()
    for e in read_events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerApplicationStart":
            app.app_id = e.get("App ID", "")
            app.start = e["Timestamp"] / 1000
        elif ev == "SparkListenerApplicationEnd":
            app.end = e["Timestamp"] / 1000
        elif ev == "SparkListenerExecutorAdded":
            app.cores += e["Executor Info"]["Total Cores"]
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            app.sql[e["executionId"]] = SqlExec(
                e["executionId"], e.get("description", ""), e["time"] / 1000,
                plan=e.get("physicalPlanDescription", ""),
            )
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in app.sql:
                app.sql[e["executionId"]].end = e["time"] / 1000
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                e["Job ID"],
                int(props.get("spark.sql.execution.id", -1)),
                props.get("spark.job.description", ""),
                e["Submission Time"] / 1000,
                stages=list(e["Stage IDs"]),
            )
            app.jobs[job.id] = job
            for sid in job.stages:
                app.stages.setdefault(sid, Stage(sid)).job = job.id
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in app.jobs:
                app.jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = app.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit = info.get("Submission Time", 0) / 1000
            st.complete = info.get("Completion Time", 0) / 1000
        elif ev == "SparkListenerTaskEnd":
            _add_task(app.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"])), e)
    return app


def _add_task(st: Stage, e: dict) -> None:
    tm = e.get("Task Metrics") or {}
    st.tasks += 1
    st.run_ms.append(tm.get("Executor Run Time", 0))
    st.cpu_ns += tm.get("Executor CPU Time", 0)
    st.gc_ms += tm.get("JVM GC Time", 0)
    st.spill_b += tm.get("Disk Bytes Spilled", 0)
    st.input_b += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    st.output_b += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
    st.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    for a in e["Task Info"].get("Accumulables", ()):
        key = SQL_METRICS.get(a.get("Name", ""))
        if key and isinstance(a.get("Update"), (int, str)):
            st.sql[key] = st.sql.get(key, 0) + int(a["Update"])


def find_logs(event_dir: Path) -> list[Path]:
    return sorted(p for p in event_dir.glob("eventlog_v2_*") if p.is_dir())
