"""Re-record ``data/eventlog_small.jsonl`` and its expectations.

    python3 perfbench/tests/record_eventlog.py

Runs one small parquet scan + aggregate and one ``mapInPandas`` under the
job groups ``q#build`` / ``q#sink`` with an uncompressed, non-rolling event
log, keeps the events the parser reads, and writes the job, stage, task and
scanned-row counts that Spark's status tracker (not the parser) reports.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
ROWS = 1000
RANGE_ROWS = 100  # Spark counts range() rows as input records too


def _keep(ev: dict) -> dict | None:
    """The fields the parser reads; host names, paths and plans dropped."""
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = {
            k: v for k, v in (ev.get("Properties") or {}).items()
            if k in ("spark.jobGroup.id", "spark.sql.execution.id")
        }
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"], "Properties": props}
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {
            k: info[k] for k in ("Stage ID", "Stage Attempt ID", "Number of Tasks") if k in info}}
    if kind == "SparkListenerTaskEnd":
        accs = [
            {"Name": a.get("Name"), "Update": a.get("Update")}
            for a in (ev.get("Task Info") or {}).get("Accumulables", [])
        ]
        return {"Event": kind, "Stage ID": ev["Stage ID"], "Task Metrics": ev.get("Task Metrics"),
                "Task Info": {"Accumulables": accs}}
    if kind == SQL_START:
        return {"Event": kind, "executionId": ev["executionId"], "time": ev["time"],
                "jobGroupId": ev.get("jobGroupId")}
    return None


def main() -> None:
    tmp = tempfile.mkdtemp(prefix="perfbench-evlog-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{tmp} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    path = os.path.join(tmp, "t.parquet")
    spark.range(0, ROWS, 1, 2).selectExpr("id", "id % 7 AS k").write.parquet(path)

    def passthrough(batches):
        for pdf in batches:
            yield pdf

    sc.setJobGroup("q#build", "scan")
    spark.read.parquet(path).groupBy("k").count().collect()
    sc.setJobGroup("q#sink", "python")
    spark.range(0, RANGE_ROWS, 1, 2).mapInPandas(passthrough, "id long").collect()
    tracker = sc.statusTracker()
    jobs = [j for g in ("q#build", "q#sink") for j in tracker.getJobIdsForGroup(g)]
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages if tracker.getStageInfo(s))
    expected = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "scan_rows": ROWS + RANGE_ROWS}
    app = sc.applicationId
    spark.stop()
    with open(os.path.join(tmp, app)) as src, open(
        os.path.join(HERE, "data", "eventlog_small.jsonl"), "w"
    ) as dst:
        for line in src:
            ev = _keep(json.loads(line))
            if ev is not None:
                dst.write(json.dumps(ev) + "\n")
    with open(os.path.join(HERE, "data", "eventlog_small.expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(tmp, ignore_errors=True)
    print(expected, file=sys.stderr)


if __name__ == "__main__":
    main()
