"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import eventlog, meshgen, procstat, stats
from perfbench.trace import Tracer

DATA = Path(__file__).parent / "data"


def _tree_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        h.update(str(p.relative_to(root)).encode())
        if p.is_file():
            h.update(p.read_bytes())
    return h.hexdigest()


# -- generator determinism ------------------------------------------------------


def test_mesh_generator_same_seed_same_bytes(tmp_path):
    a = meshgen.generate(tmp_path / "a", seed=5, domains=3, models_per_domain=6)
    b = meshgen.generate(tmp_path / "b", seed=5, domains=3, models_per_domain=6)
    assert a["models"] == b["models"]
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")


def test_mesh_generator_seed_changes_tree(tmp_path):
    meshgen.generate(tmp_path / "a", seed=5, domains=3, models_per_domain=6)
    meshgen.generate(tmp_path / "b", seed=6, domains=3, models_per_domain=6)
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "b")


def test_mesh_generator_refs_point_upstream(tmp_path):
    info = meshgen.generate(tmp_path, seed=1, domains=4, models_per_domain=8)
    for sql in (tmp_path / "monolith" / "models").rglob("*.sql"):
        dom = int(sql.name[3:5])
        for ref in sql.read_text().split("ref('")[1:]:
            assert int(ref[3:5]) <= dom, sql.name
    assert (tmp_path / "monolith" / "target" / "catalog.json").exists()
    assert len(info["hacked_sources"]) == 5


def test_table_generator_is_seeded():
    from perfbench import datagen

    a = datagen.generate_tables(3, 0.0005)
    b = datagen.generate_tables(3, 0.0005)
    c = datagen.generate_tables(4, 0.0005)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(c["orders"])


# -- percentiles ----------------------------------------------------------------


@pytest.mark.parametrize(
    "n,expected",
    [(9, None), (49, None), (50, 80), (99, 80), (100, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    got = stats.tail_percentile([float(i) for i in range(1, n + 1)])
    assert (got[0] if got else None) == expected


def test_tail_percentile_value_is_nearest_rank():
    assert stats.tail_percentile([float(i) for i in range(1, 51)]) == (80, 40.0)


# -- /proc accounting -----------------------------------------------------------


def _fake_proc(root: Path, procs: dict[int, tuple[int, int, int, str]]) -> None:
    """procs: pid -> (ppid, utime_ticks, cutime_ticks, comm)."""
    for pid, (ppid, utime, cutime, comm) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), "0", str(cutime), "0"]
        fields += ["0"] * 4 + ["100"]  # ... starttime is field 22
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{1024 * pid} kB\n")
    (root / "uptime").write_text("500.00 1000.00\n")


def test_tree_cpu_sums_descendants_only(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(
        tmp_path,
        {
            10: (1, tick, 0, "bench"),
            11: (10, 2 * tick, tick, "java (jvm) x"),  # parens and spaces in comm
            12: (11, tick, 0, "python worker"),
            20: (1, 50 * tick, 0, "unrelated"),
        },
    )
    assert procstat.tree_pids(10, str(tmp_path)) == [10, 11, 12]
    assert procstat.tree_cpu_seconds(10, str(tmp_path)) == pytest.approx(5.0)
    assert procstat.tree_peak_rss_mb(10, str(tmp_path)) == pytest.approx(10 + 11 + 12)


def test_host_steal_is_the_eighth_cpu_field(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    (tmp_path / "stat").write_text(f"cpu  10 0 5 900 1 0 2 {3 * tick} 0 0\ncpu0 1 0 1 1 0 0 0 0 0 0\n")
    assert procstat.host_steal_seconds(str(tmp_path)) == pytest.approx(3.0)


def test_tree_cpu_counts_live_and_reaped_children():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.4: pass\n"
    before = procstat.tree_cpu_seconds()
    live = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.time() + 20
        while procstat.tree_cpu_seconds() - before < 0.35 and time.time() < deadline:
            time.sleep(0.05)
        assert live.pid in procstat.tree_pids()
        assert procstat.tree_cpu_seconds() - before >= 0.35
    finally:
        live.kill()
        live.wait()
    # reaped: its ticks moved into this process's cutime, nothing is lost
    assert procstat.tree_cpu_seconds() - before >= 0.35


# -- event log parser -----------------------------------------------------------


def test_eventlog_parser_on_recorded_log():
    lines = (DATA / "eventlog_small.jsonl").read_text().splitlines()
    windows = [("q#build", 0.0, 0.0), ("q#sink", 0.0, 0.0), ("late", 4e9, 5e9)]
    out = eventlog.parse(lines, windows)
    q = eventlog.totals({k: v for k, v in out.items() if k.startswith("q#")})
    expect = __import__("json").loads((DATA / "eventlog_small.expected.json").read_text())
    for key, value in expect.items():
        assert q[key] == pytest.approx(value, rel=1e-6, abs=1e-9), key
    assert q["python_in_mb"] > 0 and q["python_out_mb"] > 0
    assert q["executor_cpu_s"] > 0 and q["plan_s"] > 0
    assert out["late"]["jobs"] == 0


def test_eventlog_attributes_foreign_groups_by_time():
    job = {
        "Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 2500,
        "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "stream-run-id"},
    }
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 3,
        "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9},
        "Task Info": {"Accumulables": [
            {"Name": eventlog.PYTHON_IN, "Update": 2 * 1024 * 1024},
        ]},
    }
    import json

    lines = [json.dumps(job), json.dumps(task)]
    out = eventlog.parse(lines, [("a", 1.0, 2.0), ("b", 2.0, 3.0)])
    assert out["a"]["jobs"] == 0 and out["b"]["jobs"] == 1
    assert out["b"]["executor_run_s"] == 1.5 and out["b"]["executor_cpu_s"] == 1.0
    assert out["b"]["python_in_mb"] == 2.0
    assert out["b"]["empty_tasks"] == 1


# -- failed ops -----------------------------------------------------------------


def test_raising_op_is_counted_failed_not_dropped():
    from perfbench.harness import Run
    from perfbench.run import end_to_end

    run = Run("unit", seed=1, seconds=0.0, trace=False)
    try:
        for p in run.passes():
            with run.op("fine", p):
                pass
            with run.op("broken", p):
                raise RuntimeError("boom")
        run.fail("fine", "wrong output")
    finally:
        run.cleanup()
    assert [r["op"] for r in run.ops] == ["fine", "broken"]
    assert [r["ok"] for r in run.ops] == [False, False]
    assert run.ops[1]["error"] == "RuntimeError: boom"
    assert end_to_end(run)["op_p50_s"] >= 0.0


def test_warm_up_pass_is_checked_but_not_timed():
    from perfbench.harness import WARM_UP, Run
    from perfbench.run import end_to_end

    run = Run("unit", seed=1, seconds=0.0, trace=False)
    try:
        with run.op("q", WARM_UP):
            time.sleep(0.2)
        for p in run.passes():
            with run.op("q", p):
                pass
        run.fail("q", "wrong output")
    finally:
        run.cleanup()
    assert [r["pass"] for r in run.ops] == [WARM_UP, 0]
    assert [r["ok"] for r in run.ops] == [False, False]
    assert end_to_end(run)["wall_s"] < 0.1


# -- host speed scaling -----------------------------------------------------------


def test_scales_use_the_mean_probe_time():
    from perfbench import hostspeed

    ref = hostspeed.REF_PROBE_S
    wall, cpu = hostspeed.scales([(ref, 2 * ref), (3 * ref, 2 * ref)])
    assert wall == pytest.approx(0.5)
    assert cpu == pytest.approx(0.5)
    assert hostspeed.scales([]) == (1.0, 1.0)


def test_each_op_and_set_up_is_scaled_by_its_own_probes():
    from perfbench.harness import Run
    from perfbench.hostspeed import REF_PROBE_S as ref
    from perfbench.run import end_to_end

    run = Run("unit", seed=1, seconds=0.0, trace=False)
    run.cleanup()
    # the same work on a host at full, half and a third of reference speed,
    # which changes from one op to the next
    for p, slows in enumerate(((1, 2), (2, 3), (3, 1))):
        for op, slow in zip(("q", "r"), slows):
            run.ops.append({"op": op, "pass": p, "ok": True, "wall_s": 1.0 * slow,
                            "cpu_s": 0.75 * slow, "probes": [(ref * slow, ref * slow)] * 2})
    run.add_setup(0.4 * 3, [(ref * 3, ref * 3)])
    run.add_setup(0.4, [(ref, ref)])
    run.add_setup(0.4 * 2, [(ref * 2, ref * 2)])
    e2e = end_to_end(run)
    assert e2e["wall_s"] == pytest.approx(2.0)
    assert e2e["cpu_s"] == pytest.approx(1.5)
    assert e2e["op_p50_s"] == pytest.approx(1.0)
    assert e2e["setup_s"] == pytest.approx(0.4)


def test_only_measured_ops_are_probed():
    affinity = os.sched_getaffinity(0)
    from perfbench.harness import WARM_UP, Run

    run = Run("unit", seed=1, seconds=0.0, trace=False)
    try:
        with run.op("q", WARM_UP):
            pass
        with run.op("q", 0):
            pass
    finally:
        run.cleanup()
    assert run.ops[0]["probes"] == []
    assert len(run.ops[1]["probes"]) == 2 * len(os.sched_getaffinity(0))
    assert os.sched_getaffinity(0) == affinity  # probing restores it


# -- spans ----------------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("cli.command"):
        time.sleep(0.02)
        with tr.span("plans.apply"):
            with tr.span("plans.yaml"):
                time.sleep(0.03)
    selfs = tr.self_times()
    total = tr.durations("cli.command")
    assert selfs["cli"] + selfs["plans"] == pytest.approx(total, abs=1e-6)
    assert selfs["plans"] >= 0.03
    assert tr.outer_durations("plans.apply") == pytest.approx(tr.durations("plans.apply"))


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x.y"):
        pass
    tr.count("n")
    assert tr.spans == [] and tr.counts == {}
