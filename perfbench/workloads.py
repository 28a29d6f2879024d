"""The benchmark's workloads. Each is closed loop with one client: an op
starts only after the previous one returned.

- ``pipeline``: nine extension queries, one per engine mechanism.
- ``mesh_governance``: CLI commands over a generated dbt monolith; no Spark.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import subprocess
import sys
import time

from perfbench import checks, datagen, eventlog, hostspeed, meshgen, procstat
from perfbench.harness import ROOT, WARM_UP, Run
from perfbench.trace import patch_everywhere

#: pipeline op order: one query per mechanism (README.md lists them).
PIPELINE = (
    "ext_minhash_neardup",
    "ext_ngram_jaccard",
    "ext_lm_perplexity",
    "ext_label_propagation",
    "ext_bitext_mine",
    "ext_bpe_encode",
    "ext_bloom_decontaminate",
    "ext_stream_click_attribution",
    "ext_stream_incremental_neardup",
)
#: input scale of the Spark workloads (TPC-H scale factor of the tables)
SPARK_SF = 0.01
#: generated monolith size for mesh_governance
MESH_DOMAINS = 8
MESH_MODELS_PER_DOMAIN = 15
#: CLI set-ups per run; setup_s is their median. A Spark run sets up once:
#: another in-process set-up costs ~7 s and a fresh JVM ~20 s (README.md).
CLI_SETUPS = 5


# -- Spark set-up -------------------------------------------------------------


def _warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up: q01 plus a no-op ``mapInPandas``, so the JVM,
    codegen and the Python worker pool are up before the first op."""
    from dbt_meshify_spark.queries import QUERIES

    def _noop_batches(batches):
        for pdf in batches:
            yield pdf

    QUERIES["q01_projection_cast"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(0, 10_000, 1, 32).mapInPandas(_noop_batches, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _start_session(run: Run, sf_dir: str) -> tuple[float, float]:
    from dbt_meshify_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        run.spark = get_spark(app_name=f"perfbench-{run.workload}")
    t1 = time.perf_counter()
    with run.tracer.span("session.warmup"):
        _warm_up(run.spark, sf_dir)
    return t1 - t0, time.perf_counter() - t1


def spark_cold_setup(run: Run, sf_dir: str) -> None:
    """First set-up: process start -> imports -> session -> warm-up. The
    benchmark's own input generation is excluded."""
    run.spark_env()
    with run.tracer.span("setup.import"):
        import dbt_meshify_spark.queries  # noqa: F401
        import dbt_meshify_spark.session  # noqa: F401
    start_s, warm_s = _start_session(run, sf_dir)
    run.cold_setup_done()
    run.layer["session.start_s"] = start_s
    run.layer["session.warmup_s"] = warm_s
    if run.tracer.enabled:
        run.listener = _attach_stream_listener(run.spark)


def _attach_stream_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append({"timestamp": p.timestamp, **p.durationMs})

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


def _job_group(run: Run, group: str) -> None:
    if run.tracer.enabled:
        run.spark.sparkContext.setJobGroup(group, group)


def _epoch(iso: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, ``...Z``)."""
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _spark_layers(run: Run, windows: list[tuple[str, float, float]]) -> None:
    """Engine and streaming counters of the measured ops (the session
    warm-up, the warm-up pass and the checks fall outside every op window)."""
    app_id = run.spark.sparkContext.applicationId
    run.spark.stop()  # flushes and closes the event log
    path = os.path.join(run.dirs["eventlog"], app_id)
    per_op = eventlog.parse_file(path, windows)
    tot = eventlog.totals(per_op)
    lay = run.layer
    lay["sources.scan_mb"] = tot["scan_mb"]
    lay["sources.scan_rows"] = tot["scan_rows"]
    for k in (
        "jobs", "stages", "tasks", "plan_s", "executor_run_s", "executor_cpu_s",
        "gc_s", "shuffle_write_mb", "shuffle_read_mb", "shuffle_s", "spill_mb",
        "python_in_mb", "python_out_mb",
    ):
        lay[f"spark.{k}"] = tot[k]
    lay["spark.empty_task_ratio"] = tot["empty_tasks"] / tot["tasks"] if tot["tasks"] else 0.0
    lay["queries.eager_jobs"] = sum(
        c["jobs"] for op, c in per_op.items() if op.endswith("#build")
    )
    progress = [
        p for p in (run.listener.progress if run.listener else [])
        if eventlog.op_for(windows, _epoch(p["timestamp"])) is not None
    ]
    lay["streaming.batches"] = len(progress)
    lay["streaming.trigger_s"] = sum(p.get("triggerExecution", 0) for p in progress) / 1000.0
    lay["streaming.overhead_s"] = sum(
        p.get("triggerExecution", 0) - p.get("addBatch", 0) for p in progress
    ) / 1000.0


# -- pipeline -------------------------------------------------------------------


def pipeline(run: Run) -> None:
    sf_dir = run.dirs["inputs"]
    prime_dir = os.path.join(run.dirs["work"], "prime")
    t0 = time.perf_counter()
    datagen.write_tables(sf_dir, run.seed, SPARK_SF)
    shutil.copytree(sf_dir, prime_dir)
    run.gen_s = time.perf_counter() - t0
    spark_cold_setup(run, sf_dir)
    from dbt_meshify_spark.queries import QUERIES

    # Warm-up pass: each query once, untimed and untraced, its output
    # collected for the checks. It reads a byte-identical copy of the inputs
    # under another path, so the path-keyed footer-schema cache
    # (sources/registry.py) still misses in the measured pass, as it does
    # for a query's first run. A cold first execution is dominated by JIT
    # compilation, whose wall time swings by a third with host load.
    outputs = []
    with run.untraced():
        for name in PIPELINE:
            with run.op(name, WARM_UP):
                outputs.append((name, QUERIES[name](run.spark, prime_dir).toPandas()))

    # One measured pass, whatever ``--seconds`` says: repeated passes in
    # one JVM are not independent samples, as JIT compilation keeps
    # shrinking them (README.md), so a time-bound pass count would make
    # the metrics depend on the host's speed.
    windows = []
    measured = {}
    p = 0
    for name in PIPELINE:
        df = None
        with run.op(name, p) as rec:
            b0 = time.time()
            _job_group(run, f"{name}#{p}#build")
            with run.tracer.span("queries.build"):
                df = QUERIES[name](run.spark, sf_dir)
            b1 = time.time()
            _job_group(run, f"{name}#{p}#sink")
            with run.tracer.span("queries.sink"):
                df.write.format("noop").mode("overwrite").save()
            windows += [(f"{name}#{p}#build", b0, b1), (f"{name}#{p}#sink", b1, time.time())]
        # the measured DataFrame of each query is collected and checked
        # after the pass; a raising op is already failed
        measured[name] = df if rec["ok"] else None
    run.peak_rss_mb = procstat.tree_peak_rss_mb()
    _job_group(run, "checks")  # the checks' jobs belong to no op
    if run.tracer.enabled:
        run.layer["queries.build_s"] = run.tracer.durations("queries.build")
        run.layer["queries.sink_s"] = run.tracer.durations("queries.sink")
    outputs += [(name, df) for name, df in measured.items() if df is not None]
    run.checked(checks.check_pipeline, outputs, sf_dir)
    if run.tracer.enabled:
        _spark_layers(run, windows)


# -- mesh_governance --------------------------------------------------------------


def _cli_import_seconds() -> float:
    """A fresh interpreter importing the CLI: what every command pays."""
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, "-c", "import dbt_meshify_spark.cli"],
        check=True,
        env={**os.environ, "PYTHONPATH": ROOT},
        stdout=subprocess.DEVNULL,
    )
    return time.perf_counter() - t0


def _trace_plans(run: Run) -> set[str]:
    """Spans and counters around the governance-plane public calls; returns
    the set that collects every YAML path read or written."""
    from dbt_meshify_spark.plans import changes, graph, linker, selectors, splitter
    from dbt_meshify_spark.project.loader import SparkProject

    tr = run.tracer
    files: set[str] = set()

    def on_read(args, kwargs):
        tr.count("plans.yaml_reads")
        files.add(str(args[0] if args else kwargs.get("path")))

    def on_write(args, kwargs):
        tr.count("plans.yaml_writes")
        files.add(str(args[0] if args else kwargs.get("path")))

    def on_process(args, kwargs):
        sets = args[1] if len(args) > 1 else kwargs.get("change_sets", [])
        tr.count("plans.changes", sum(len(cs) for cs in sets))

    for fn, name, hook in (
        (changes.read_yaml, "plans.yaml", on_read),
        (changes.write_yaml, "plans.yaml", on_write),
        (selectors.resolve_selection, "plans.select", None),
        (graph.select_resources, "plans.select", None),
        (splitter.build_subproject, "plans.split_plan", None),
        (linker.dependencies, "plans.connect_plan", None),
        (linker.resolve_dependency, "plans.connect_plan", None),
    ):
        patch_everywhere(fn, tr.wrap(fn, name, hook))
    creator = splitter.SubprojectCreator
    creator.initialize = tr.wrap(creator.initialize, "plans.split_plan")
    processor = changes.ChangeSetProcessor
    processor.process = tr.wrap(processor.process, "plans.apply", on_process)
    load = SparkProject.load.__func__
    SparkProject.load = classmethod(tr.wrap(load, "project.load"))
    return files


def mesh_governance(run: Run) -> None:
    src = run.dirs["inputs"]
    t0 = time.perf_counter()
    info = meshgen.generate(src, run.seed, MESH_DOMAINS, MESH_MODELS_PER_DOMAIN)
    run.gen_s = time.perf_counter() - t0
    with run.tracer.span("setup.import"):
        from dbt_meshify_spark.cli import cli
    run.cold_setup_done()

    def invoke(args):
        with run.tracer.span("cli.command"), contextlib.redirect_stdout(io.StringIO()):
            cli.main(args=args, prog_name="dbt-meshify-spark", standalone_mode=False)

    done = []

    def one_pass(p):
        a = os.path.join(run.dirs["work"], f"a{p}")
        b = os.path.join(run.dirs["work"], f"b{p}")
        shutil.copytree(src, a)
        shutil.copytree(src, b)
        mono_a, cons_a = os.path.join(a, "monolith"), os.path.join(a, "consumer")
        mono_b = os.path.join(b, "monolith")
        split_name = f"{info['split_domain']}_proj"
        for op_id, args in (
            ("add-contract", ["operation", "add-contract", "-r",
                              "-s", f"path:models/{info['contract_domain']}",
                              "--project-path", mono_a]),
            ("version", ["version", "-s", info["version_model"], "--project-path", mono_a]),
            ("split", ["split", split_name, "-s", f"+path:models/{info['split_domain']}",
                       "--read-catalog", "--project-path", mono_b]),
            ("connect", ["connect", "--project-paths", mono_a, "--project-paths", cons_a]),
        ):
            with run.op(op_id, p):
                invoke(args)
        done.append({"a": a, "b": b, "split_name": split_name})

    # Warm-up pass, untimed and untraced: the first pass in a process pays
    # first-call costs (lazy imports, Jinja template compilation) that the
    # passes after it do not.
    with run.untraced():
        one_pass(WARM_UP)
    yaml_files = _trace_plans(run) if run.tracer.enabled else set()
    for p in run.passes():
        one_pass(p)
    run.peak_rss_mb = procstat.tree_peak_rss_mb()
    run.checked(checks.check_mesh, info, done)
    for _ in range(CLI_SETUPS - 1):
        before = hostspeed.probes()
        seconds = _cli_import_seconds()
        run.add_setup(seconds, before + hostspeed.probes())
    if run.tracer.enabled:
        tr = run.tracer
        lay = run.layer
        lay["project.load_s"] = tr.durations("project.load")
        for k in ("select", "split_plan", "connect_plan", "apply"):
            lay[f"plans.{k}_s"] = tr.outer_durations(f"plans.{k}")
        lay["plans.yaml_s"] = tr.durations("plans.yaml")
        lay["plans.changes"] = tr.counts.get("plans.changes", 0)
        reads = tr.counts.get("plans.yaml_reads", 0)
        lay["plans.yaml_reads"] = reads
        lay["plans.yaml_writes"] = tr.counts.get("plans.yaml_writes", 0)
        lay["plans.yaml_reads_per_file"] = reads / len(yaml_files) if yaml_files else 0.0


WORKLOADS = {
    "pipeline": pipeline,
    "mesh_governance": mesh_governance,
}
