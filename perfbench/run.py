#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this fresh process (one closed-loop client), checks
its outputs, prints a readable report and, as the last line of stdout, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import perfbench and the program from the checkout root, never this folder
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

#: end-to-end metrics in the JSON line; ``op_p50_s`` is printed in the
#: report only, because with one pass of 4-9 unlike ops its rank switches
#: add to the host noise (README.md)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
#: per-layer metrics in the JSON line; layer times that are zero by design
#: on some workload are printed in the report only (see README.md)
PER_LAYER = {
    "sources.scan_mb": "MB",
    "sources.scan_rows": "count",
    "queries.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.empty_task_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_in_mb": "MB",
    "spark.python_out_mb": "MB",
    "streaming.batches": "count",
    "plans.changes": "count",
    "plans.yaml_reads": "count",
    "plans.yaml_writes": "count",
    "plans.yaml_reads_per_file": "ratio",
}
#: per-layer times, reported in the traced run's text report
LAYER_TIMES = (
    "session.start_s", "session.warmup_s", "queries.build_s", "queries.sink_s",
    "spark.plan_s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_s", "streaming.trigger_s", "streaming.overhead_s", "project.load_s",
    "plans.select_s", "plans.split_plan_s", "plans.connect_plan_s",
    "plans.apply_s", "plans.yaml_s", "cli.self_s",
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _by_pass(run) -> dict[int, list[dict]]:
    by_pass: dict[int, list[dict]] = {}
    for rec in run.timed():
        by_pass.setdefault(rec["pass"], []).append(rec)
    return by_pass


def raw_times(run) -> dict[str, float]:
    """Set-up, pass wall and pass CPU times as measured (medians)."""
    from perfbench import stats

    by_pass = _by_pass(run)
    return {
        "setup_s": stats.median(run.setups),
        "wall_s": stats.median([sum(r["wall_s"] for r in recs) for recs in by_pass.values()]),
        "cpu_s": stats.median([sum(r["cpu_s"] for r in recs) for recs in by_pass.values()]),
    }


def scaled(rec: dict) -> tuple[float, float]:
    """An op's wall and CPU time scaled to the reference host speed by the
    probes taken just before and just after it (hostspeed.py)."""
    from perfbench import hostspeed

    wall_scale, cpu_scale = hostspeed.scales(rec["probes"])
    return rec["wall_s"] * wall_scale, rec["cpu_s"] * cpu_scale


def end_to_end(run) -> dict[str, float]:
    """Times scaled to the reference host speed: each op by the probes
    around it, each set-up by the probes around it. Plus the median op
    latency and the peak memory."""
    from perfbench import hostspeed, stats

    walls, cpus = [], []
    by_op: dict[str, list[float]] = {}
    for recs in _by_pass(run).values():
        times = [scaled(r) for r in recs]
        walls.append(sum(w for w, _ in times))
        cpus.append(sum(c for _, c in times))
        for r, (w, _) in zip(recs, times):
            by_op.setdefault(r["op"], []).append(w)
    setups = [s * hostspeed.scales(p)[0] for s, p in zip(run.setups, run.setup_probes)]
    return {
        "setup_s": stats.median(setups),
        "wall_s": stats.median(walls),
        "cpu_s": stats.median(cpus),
        "op_p50_s": stats.median([stats.median(v) for v in by_op.values()]),
        "peak_rss_mb": run.peak_rss_mb,
    }


def report(run, e2e: dict) -> None:
    from perfbench import hostspeed, stats
    from perfbench.harness import WARM_UP, cpu_count

    failed = [r for r in run.ops if not r["ok"]]
    walls = [r["wall_s"] for r in run.timed()]
    tail = stats.tail_percentile(walls)
    by_pass = _by_pass(run)
    print(f"workload={run.workload} seed={run.seed} cores={cpu_count()} "
          f"trace={int(run.tracer.enabled)} passes={len(by_pass)} (+1 warm-up) "
          f"ops={len(run.ops)}")
    print(f"fail_ratio={len(failed) / max(1, len(run.ops)):.4f} ({len(failed)}/{len(run.ops)})")
    for r in failed:
        print(f"  FAILED {r['op']} (pass {r['pass']}): {r['error']}")
    if tail:
        print(f"op_p{tail[0]}_s={tail[1]:.4f} (n={len(walls)})")
    else:
        print(f"op tail percentile: n/a (n={len(walls)}; p80 needs 50 ops)")
    print(f"setup_cold_s={run.setup_cold_s:.4f} setups_s={[round(s, 4) for s in run.setups]} "
          f"input_gen_s={run.gen_s:.4f}")
    probes = [q for r in run.timed() for q in r["probes"]]
    probe_walls = sorted(w for w, _ in probes)
    wall_scale, cpu_scale = hostspeed.scales(probes)
    print(f"host speed probes: n={len(probe_walls)}, wall min/median/max "
          f"{probe_walls[0]:.4f}/{stats.median(probe_walls):.4f}/{probe_walls[-1]:.4f} s; "
          f"whole-run scale wall {wall_scale:.4f}, cpu {cpu_scale:.4f}")
    for k, v in raw_times(run).items():
        print(f"raw_{k}={v:.4f}")
    for k, v in e2e.items():
        print(f"{k}={v:.4f}")
    for p in sorted({r["pass"] for r in run.ops}):
        recs = [r for r in run.ops if r["pass"] == p]
        label = "warm-up pass (untimed)" if p == WARM_UP else f"pass {p}"
        wall, cpu = sum(r["wall_s"] for r in recs), sum(r["cpu_s"] for r in recs)
        steal = sum(r["steal_s"] for r in recs)
        if p == WARM_UP:
            print(f"{label}: wall {wall:.4f} s, cpu {cpu:.4f} s, host steal {steal:.4f} s")
        else:
            times = [scaled(r) for r in recs]
            print(f"{label}: wall {wall:.4f} s (scaled {sum(w for w, _ in times):.4f}), "
                  f"cpu {cpu:.4f} s (scaled {sum(c for _, c in times):.4f}), "
                  f"host steal {steal:.4f} s")
        for r in recs:
            line = f"  op {r['op']}: wall {r['wall_s']:.4f} s, cpu {r['cpu_s']:.4f} s"
            if r["probes"]:
                pw = " ".join(f"{w:.4f}" for w, _ in r["probes"])
                pc = " ".join(f"{c:.4f}" for _, c in r["probes"])
                line += f", probes wall [{pw}] cpu [{pc}]"
            print(line)


def layer_report(run) -> None:
    selfs = run.tracer.self_times()
    if "cli" in selfs:
        run.layer["cli.self_s"] = selfs["cli"]
    lay = run.layer
    if lay.get("spark.tasks"):
        # executor and shuffle time against the whole process tree over the
        # same measured passes
        cpu = sum(r["cpu_s"] for r in run.timed())
        wall = sum(r["wall_s"] for r in run.timed())
        print(f"spark.executor_cpu_s / cpu_s = {lay['spark.executor_cpu_s']:.4f} / "
              f"{cpu:.4f} = {lay['spark.executor_cpu_s'] / cpu:.4f}")
        print(f"spark.shuffle_s / cpu_s = {lay['spark.shuffle_s']:.4f} / "
              f"{cpu:.4f} = {lay['spark.shuffle_s'] / cpu:.4f}")
        print(f"busy task slots = spark.executor_run_s / wall_s = "
              f"{lay['spark.executor_run_s']:.4f} / {wall:.4f} = "
              f"{lay['spark.executor_run_s'] / wall:.4f}")
    print("per-layer times (s):")
    for k in LAYER_TIMES:
        print(f"  {k}={run.layer.get(k, 0.0):.4f}")
    print("per-layer counters:")
    for k in PER_LAYER:
        print(f"  {k}={run.layer.get(k, 0.0):.4f}")
    print("per-layer self times (s):")
    for layer, v in sorted(selfs.items()):
        print(f"  {layer}.self_s={v:.4f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dbt_meshify_spark", "__init__.py")):
        print("perfbench: the dbt_meshify_spark package is not in this checkout", file=sys.stderr)
        return 2
    from perfbench.harness import Run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.cleanup()
    if not run.ops:
        print("perfbench: no op ran", file=sys.stderr)
        return 1
    e2e = end_to_end(run)
    report(run, e2e)
    if run.tracer.enabled:
        layer_report(run)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{run.workload}-seed{run.seed}.json")
        run.tracer.dump(spans)
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    failed = sum(1 for r in run.ops if not r["ok"])
    sys.stdout.flush()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
