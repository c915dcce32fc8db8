"""Reader for Spark's JSON event log.

Reports per stage: executor-ms, task counts, shuffle and spill bytes, GC
time and the SQL metrics its tasks updated (including the Python UDF ones:
"time to run Python workers", "data sent to Python workers", ...). Jobs are
grouped by the job group the benchmark sets around each measured call.

Two inputs that earlier readers in this repository crashed on are handled:
a ``StageCompleted`` event without ``Number of Tasks`` (the count of
``TaskEnd`` events is used instead) and a missing log directory
(:class:`EventLogMissing` with the path in its message).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


class EventLogMissing(FileNotFoundError):
    pass


def log_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``:
    a plain file, or the ``eventlog_v2_*/events_<n>_*`` rolling layout."""
    if not os.path.isdir(log_dir):
        raise EventLogMissing(f"event log directory does not exist: {log_dir}")
    entries = sorted(glob.glob(os.path.join(log_dir, "*")))
    rolled = [e for e in entries if os.path.isdir(e) and os.path.basename(e).startswith("eventlog_v2_")]
    if rolled:
        files = glob.glob(os.path.join(rolled[-1], "events_*"))
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = [e for e in entries if os.path.isfile(e) and not os.path.basename(e).startswith(".")]
    if not files:
        raise EventLogMissing(f"no event log file under {log_dir}")
    return files[-1:]


class Stage:
    def __init__(self, sid: int):
        self.id = sid
        self.num_tasks: int | None = None
        self.submit_ms = self.complete_ms = None
        self.task_run_ms: list[int] = []
        self.gc_ms = 0
        self.shuffle_read = self.shuffle_write = self.spill = 0
        self.acc: dict[int, float] = defaultdict(float)  # accumulator id -> sum of updates
        self.acc_names: dict[int, str] = {}

    @property
    def tasks(self) -> int:
        return self.num_tasks if self.num_tasks is not None else len(self.task_run_ms)

    @property
    def run_ms(self) -> int:
        return sum(self.task_run_ms)

    @property
    def wall_ms(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return float(self.complete_ms - self.submit_ms)

    def metric(self, name: str) -> float:
        return sum(v for a, v in self.acc.items() if self.acc_names.get(a) == name)


class EventLog:
    def __init__(self, log_dir: str):
        self.stages: dict[int, Stage] = {}
        self.jobs: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        self.acc_node: dict[int, tuple[str, str, str]] = {}  # acc id -> (node, simpleString, metric)
        for path in log_files(log_dir):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        self._event(json.loads(line))

    def _stage(self, sid: int) -> Stage:
        if sid not in self.stages:
            self.stages[sid] = Stage(sid)
        return self.stages[sid]

    def _plan(self, exec_id: int, info: dict) -> None:
        self.sql.setdefault(exec_id, {"plans": []})["plans"].append(info)

        def walk(n: dict) -> None:
            for m in n.get("metrics", []):
                self.acc_node[m["accumulatorId"]] = (n["nodeName"], n.get("simpleString", ""), m["name"])
            for c in n.get("children", []):
                walk(c)

        walk(info)

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": list(e.get("Stage IDs", [])),
                "sql": int(sql_id) if sql_id not in (None, "") else None,
            }
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.submit_ms = info.get("Submission Time", st.submit_ms)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.num_tasks = info.get("Number of Tasks")  # may be absent
            st.submit_ms = info.get("Submission Time", st.submit_ms)
            st.complete_ms = info.get("Completion Time", st.complete_ms)
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            st.task_run_ms.append(int(m.get("Executor Run Time", 0)))
            st.gc_ms += int(m.get("JVM GC Time", 0))
            r = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += int(r.get("Remote Bytes Read", 0)) + int(r.get("Local Bytes Read", 0))
            st.shuffle_write += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            st.spill += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    try:
                        st.acc[a["ID"]] += float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    st.acc_names[a["ID"]] = a.get("Name", "")
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            self._plan(e["executionId"], e["sparkPlanInfo"])

    # ---- queries -------------------------------------------------------

    def group(self, name: str) -> "Group":
        jobs = [j for j in self.jobs.values() if j["group"] == name]
        stage_ids = sorted({s for j in jobs for s in j["stages"] if s in self.stages})
        # stages skipped because their shuffle output was reused never run
        stages = [self.stages[s] for s in stage_ids if self.stages[s].task_run_ms]
        sql_ids = sorted({j["sql"] for j in jobs if j["sql"] is not None})
        return Group(self, len(jobs), stages, [self.sql[i] for i in sql_ids if i in self.sql])

    def node_of(self, acc_id: int) -> tuple[str, str, str] | None:
        return self.acc_node.get(acc_id)


class Group:
    """The jobs, stages and SQL executions of one job group."""

    def __init__(self, log: EventLog, n_jobs: int, stages: list[Stage], sql: list[dict]):
        self.log, self.jobs, self.stages, self.sql = log, n_jobs, stages, sql

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    def total(self, attr: str) -> float:
        return float(sum(getattr(s, attr) for s in self.stages))

    def metric(self, name: str) -> float:
        return sum(s.metric(name) for s in self.stages)

    def stage_nodes(self, st: Stage) -> set[tuple[str, str]]:
        """(name, description) of the plan nodes whose SQL metrics the
        stage's tasks updated."""
        return {n[:2] for a in st.acc if (n := self.log.node_of(a))}

    def node_metric(self, st: Stage, metric: str, node_names=AGG_NODES, contains: str | None = None) -> float:
        """Sum of ``metric`` over the stage's plan nodes named in
        ``node_names`` (optionally whose description contains ``contains``)."""
        out = 0.0
        for a, v in st.acc.items():
            n = self.log.node_of(a)
            if n and n[0] in node_names and n[2] == metric and (contains is None or contains in n[1]):
                out += v
        return out

    def final_plans(self) -> list[dict]:
        """The last (adaptive) plan of each SQL execution."""
        return [s["plans"][-1] for s in self.sql if s["plans"]]

    def count_nodes(self, pred) -> int:
        def walk(n: dict) -> int:
            return int(pred(n)) + sum(walk(c) for c in n.get("children", []))

        return sum(walk(p) for p in self.final_plans())
