"""Per-query profiler: noop-sink timing + per-job/stage breakdown + plan dump.

Runs the named queries in a UI-ENABLED session (REST API scrape — the only
way to get stage metrics without the UI on local mode) and prints, for each:

- best-of-N wall seconds through the noop sink (bench methodology),
- per-job wall time with job descriptions,
- per-stage executor-run/CPU time, shuffle bytes, task counts,
- optionally writes ``.explain("formatted")`` to a file (--plans DIR).

Measurement tooling only — bench.py remains the number of record. Run ALONE.

Usage:
    python scripts/profile_query.py ext_pagerank ext_label_propagation \
        [--runs 2] [--plans plans/r13/before]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+", help="declared query names")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None, help="dir for .explain dumps")
    ns = ap.parse_args()
    args, runs, plans_dir = ns.queries, ns.runs, ns.plans

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    from dbt_meshify_spark.queries import QUERIES
    from dbt_meshify_spark.session import builder_conf, prepare

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # get_spark's session with the UI on: its REST API is scraped below
    conf = {**builder_conf(), "spark.ui.enabled": "true", "spark.ui.port": "4049"}
    builder = SparkSession.builder.master(f"local[{cpus}]").appName("profile")
    spark = prepare(builder.config(map=conf).getOrCreate())
    # read the ACTUAL bound UI url (Spark auto-increments the port when
    # 4049 is taken — a hardcoded url then scrapes the wrong app)
    ui = spark.sparkContext.uiWebUrl or "http://localhost:4049"
    api = f"{ui}/api/v1"
    app_id = spark.sparkContext.applicationId

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # warm codegen + Arrow pool (bench.py discipline)
    run("q01_projection_cast")

    def _noop_batch(it):
        yield from it

    spark.range(0, 10_000, 1, 32).mapInPandas(_noop_batch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    for name in args:
        jobs_before = {j["jobId"] for j in _get(f"{api}/applications/{app_id}/jobs")}
        try:
            sql_before = {q["id"] for q in _get(f"{api}/applications/{app_id}/sql?length=200")}
        except Exception:  # noqa: BLE001
            sql_before = set()
        walls = []
        t_build0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t_build = time.perf_counter() - t_build0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
        for _ in range(runs - 1):
            walls.append(run(name))
        jobs = [
            j
            for j in _get(f"{api}/applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: build {t_build:.3f}s, "
              f"walls {[round(w, 3) for w in walls]} (first incl. {len(jobs)} jobs)")
        for j in jobs:
            dur = "?"
            if j.get("submissionTime") and j.get("completionTime"):
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
                dur = (
                    datetime.strptime(j["completionTime"], fmt)
                    - datetime.strptime(j["submissionTime"], fmt)
                ).total_seconds()
            print(
                f"  job {j['jobId']:>4} {dur if isinstance(dur, str) else round(dur, 3):>7}s "
                f"tasks={j['numTasks']:<5} stages={len(j['stageIds'])} "
                f"{(j.get('description') or j.get('name') or '')[:90]}"
            )
        # stage-level totals for this query's jobs
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = _get(f"{api}/applications/{app_id}/stages?status=complete")
        mine = [s for s in stages if s["stageId"] in stage_ids]
        mine.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        tot_run = sum(s.get("executorRunTime") or 0 for s in mine)
        print(f"  stages: {len(mine)}, sum executorRunTime {tot_run/1000:.2f}s")
        for s in mine[:8]:
            print(
                f"  stage {s['stageId']:>4} run={s['executorRunTime']/1000:7.2f}s "
                f"cpu={(s.get('executorCpuTime') or 0)/1e9:7.2f}s "
                f"tasks={s['numCompleteTasks']:<4} "
                f"shW={s.get('shuffleWriteBytes', 0)>>10}KiB "
                f"shR={s.get('shuffleReadBytes', 0)>>10}KiB "
                f"{(s.get('description') or s.get('name') or '')[:70]}"
            )
        # per-operator metrics from the SQL tab (top nodes by max task dur)
        try:
            sqls = _get(f"{api}/applications/{app_id}/sql?details=true&planDescription=false&length=200")
            new_sqls = [q for q in sqls if q["id"] not in sql_before]
            import re as _re

            node_rows = []
            for q in new_sqls:
                for nd in q.get("nodes", []):
                    dur = 0.0
                    rows = ""
                    for m in nd.get("metrics", []):
                        n, v = m.get("name", ""), str(m.get("value", ""))
                        if n in ("time in aggregation build", "time to build hash map",
                                 "duration", "scan time", "task total time",
                                 "time in aggregation"):
                            tm = _re.findall(r"([0-9.]+)\s*(ms|s|m(?!s))", v.replace(",", ""))
                            for num, unit in tm:
                                sec = float(num) * {"ms": 0.001, "s": 1.0, "m": 60.0}[unit]
                                dur = max(dur, sec)
                        if n == "number of output rows":
                            rows = v.replace(",", "").split()[-1]
                    if dur > 0.05:
                        node_rows.append((dur, q["id"], nd["nodeName"], rows))
            node_rows.sort(reverse=True)
            print(f"  top plan nodes (total dur across {len(new_sqls)} executions):")
            for dur, qid, nm, rows in node_rows[:12]:
                print(f"    {dur:7.2f}s  exec{qid:>4}  {nm[:60]:<60} rows={rows}")
        except Exception as ex:  # noqa: BLE001
            print(f"  (sql metrics unavailable: {ex})")
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                jdf = QUERIES[name](spark, sf_dir)._jdf
                fh.write(
                    spark.sparkContext._jvm.PythonSQLUtils.explainString(
                        jdf.queryExecution(), "formatted"
                    )
                )
            print(f"  plan -> {plans_dir}/{name}.txt")

    spark.stop()


if __name__ == "__main__":
    main()
