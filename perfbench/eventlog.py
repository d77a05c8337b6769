"""Spark event-log parser: per-job-group counters for the benchmark's
layer report.

Reads one uncompressed, non-rolling event log (one JSON object a line)
and attributes every job, stage, task and SQL execution to the job group
that was set when the job started. The benchmark sets one group per
(workload, operation, pass, phase), so summing over groups gives the
counters of a pass, an operation or a phase.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict
from dataclasses import dataclass, field

SQL = "org.apache.spark.sql.execution.ui."
# SQL metric names that only Python-evaluating nodes (pandas/Arrow UDFs)
# report; a node carrying one of them is on the Arrow boundary
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_records: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    exchanges: int = 0
    arrow_bytes_sent: int = 0
    arrow_bytes_received: int = 0
    arrow_rows_received: int = 0
    job_spans_ms: list = field(default_factory=list)

    def add(self, other: "Counters") -> None:
        for k, v in vars(other).items():
            if k == "job_spans_ms":
                self.job_spans_ms.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


@dataclass
class EventLog:
    groups: dict[str, Counters]
    # start times of SQL executions (ms), posted once the physical plan
    # of the execution has been made
    sql_starts_ms: list[int] = field(default_factory=list)

    def total(self, predicate) -> Counters:
        out = Counters()
        for g, c in self.groups.items():
            if predicate(g):
                out.add(c)
        return out


def _walk(node: dict):
    yield node
    for ch in node.get("children", ()):
        yield from _walk(ch)


def parse(path: str) -> EventLog:
    groups: dict[str, Counters] = defaultdict(Counters)
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    exec_group: dict[int, str] = {}
    task_accums: dict[str, list] = defaultdict(list)  # group -> [(id, update)]
    sql_starts: list[int] = []

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                jid = e["Job ID"]
                job_group[jid] = g
                job_submit[jid] = e["Submission Time"]
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
                groups[g].jobs += 1
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), g)
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                g = job_group.get(jid, "")
                groups[g].job_spans_ms.append((job_submit.get(jid), e["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"], "")
                c = groups[g]
                m = e.get("Task Metrics") or {}
                c.tasks += 1
                c.task_run_ms += m.get("Executor Run Time", 0)
                c.task_cpu_ns += m.get("Executor CPU Time", 0)
                c.gc_ms += m.get("JVM GC Time", 0)
                c.result_bytes += m.get("Result Size", 0)
                c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c.shuffle_read_records += sr.get("Total Records Read", 0)
                im = m.get("Input Metrics") or {}
                c.input_rows += im.get("Records Read", 0)
                c.input_bytes += im.get("Bytes Read", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                    if "Update" in a:
                        task_accums[g].append((a["ID"], a["Update"]))
            elif kind in (SQL + "SparkListenerSQLExecutionStart",
                          SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                # the last plan of an execution is its final (adaptive) plan
                exec_plan[e["executionId"]] = e["sparkPlanInfo"]
                if kind.endswith("Start"):
                    sql_starts.append(e["time"])

    # SQL-metric accumulator ids of the Arrow boundary, and exchanges per
    # execution's final plan
    py_ids: dict[int, str] = {}
    for ex_id, plan in exec_plan.items():
        n_exchanges = 0
        for node in _walk(plan):
            if node["nodeName"] == "Exchange":
                n_exchanges += 1
            metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
            if PY_SENT in metrics:
                py_ids[metrics[PY_SENT]] = "sent"
                py_ids[metrics[PY_RECEIVED]] = "received"
                if "number of output rows" in metrics:
                    py_ids[metrics["number of output rows"]] = "rows"
        groups[exec_group.get(ex_id, "")].exchanges += n_exchanges
    for g, updates in task_accums.items():
        c = groups[g]
        for acc_id, upd in updates:
            kind = py_ids.get(acc_id)
            if kind == "sent":
                c.arrow_bytes_sent += int(upd)
            elif kind == "received":
                c.arrow_bytes_received += int(upd)
            elif kind == "rows":
                c.arrow_rows_received += int(upd)
    return EventLog(dict(groups), sorted(sql_starts))


def first_in(times_ms: list[int], lo: float, hi: float) -> float | None:
    """The earliest of ``times_ms`` (sorted) within ``[lo, hi]``, or None."""
    i = bisect.bisect_left(times_ms, lo)
    return times_ms[i] if i < len(times_ms) and times_ms[i] <= hi else None


def covered_ms(spans: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Milliseconds of ``[lo, hi]`` covered by the union of ``spans``
    (job submit/complete pairs), so overlapping jobs count once."""
    total, cur_end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans if a is not None):
        if b <= max(a, cur_end):
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total
