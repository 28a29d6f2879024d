"""Parser for an uncompressed, non-rolling Spark event log (JSON lines).

Turns the log into engine counters per op. A job belongs to the op whose
id is its job group; a job without a known group (streaming micro-batches
run on Spark's own threads) belongs to the op whose time window holds its
submission. Stages and tasks follow their job.
"""

from __future__ import annotations

import json

_MB = 1024.0 * 1024.0
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PYTHON_IN = "data sent to Python workers"
PYTHON_OUT = "data returned from Python workers"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "empty_tasks",
    "plan_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "shuffle_s",
    "spill_mb",
    "python_in_mb",
    "python_out_mb",
    "scan_mb",
    "scan_rows",
)


def op_for(windows: list[tuple[str, float, float]], t: float) -> str | None:
    for op, start, end in windows:
        if start <= t <= end:
            return op
    return None


def parse(lines, windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """``windows`` lists ``(op_id, start, end)`` in epoch seconds. Returns
    ``{op_id: {counter: value}}`` for every op in ``windows``."""
    known = {op for op, _, _ in windows}
    job_op: dict[int, str | None] = {}
    stage_op: dict[int, str | None] = {}
    exec_start: dict[str, float] = {}
    exec_op: dict[str, str | None] = {}
    first_job: dict[str, float] = {}
    out = {op: dict.fromkeys(COUNTERS, 0.0) for op in known}

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == _SQL_START:
            eid = str(ev["executionId"])
            t = ev["time"] / 1000.0
            exec_start[eid] = t
            group = ev.get("jobGroupId")
            exec_op[eid] = group if group in known else op_for(windows, t)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            t = ev["Submission Time"] / 1000.0
            group = props.get("spark.jobGroup.id")
            op = group if group in known else op_for(windows, t)
            job_op[ev["Job ID"]] = op
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
            eid = props.get("spark.sql.execution.id")
            if eid is not None and eid not in first_job:
                first_job[eid] = t
            if op is not None:
                out[op]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(ev["Stage Info"]["Stage ID"])
            if op is not None:
                out[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            _add_task(out[op], ev)

    for eid, t0 in exec_start.items():
        op = exec_op.get(eid)
        if op is not None and eid in first_job:
            out[op]["plan_s"] += max(0.0, first_job[eid] - t0)
    return out


def _add_task(acc: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    acc["spill_mb"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / _MB
    inp = m.get("Input Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    acc["scan_mb"] += inp.get("Bytes Read", 0) / _MB
    acc["scan_rows"] += inp.get("Records Read", 0)
    acc["shuffle_read_mb"] += (
        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    ) / _MB
    acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
    # task time spent writing shuffle files and waiting for shuffle fetches
    acc["shuffle_s"] += wr.get("Shuffle Write Time", 0) / 1e9 + rd.get("Fetch Wait Time", 0) / 1000.0
    if not inp.get("Records Read", 0) and not rd.get("Total Records Read", 0):
        acc["empty_tasks"] += 1
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name == PYTHON_IN:
            acc["python_in_mb"] += float(a.get("Update", 0)) / _MB
        elif name == PYTHON_OUT:
            acc["python_out_mb"] += float(a.get("Update", 0)) / _MB


def parse_file(path: str, windows) -> dict[str, dict[str, float]]:
    with open(path) as fh:
        return parse(fh, windows)


def totals(per_op: dict[str, dict[str, float]]) -> dict[str, float]:
    out = dict.fromkeys(COUNTERS, 0.0)
    for counters in per_op.values():
        for k, v in counters.items():
            out[k] += v
    return out
