"""Run context shared by the workloads: environment hygiene, the closed
loop that times ops, set-up bookkeeping and process clean-up."""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager

from perfbench import hostspeed, procstat
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: pass number of the untimed warm-up pass; its ops are checked and counted
#: in ``attempted``/``failed`` but left out of every timing metric
WARM_UP = -1
#: Spark driver heap: ample for the generated inputs, small on a shared host
DRIVER_MEM = "2g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Run:
    """One benchmark process: one workload, one seed, one closed-loop client."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.root = os.path.join(ROOT, ".perfbench_run", f"{workload}-{os.getpid()}")
        self.dirs = {}
        for name in ("inputs", "local", "warehouse", "scratch", "tmp", "eventlog", "work"):
            self.dirs[name] = os.path.join(self.root, name)
            os.makedirs(self.dirs[name], exist_ok=True)
        self.ops: list[dict] = []  # one record per op execution
        self.setups: list[float] = []
        self.setup_probes: list[list] = []  # per set-up
        self.setup_cold_s = 0.0
        self.listener = None  # streaming progress listener (traced runs)
        self.gen_s = 0.0
        # the cold set-up's probes before it, left out of it like gen_s
        t0 = time.perf_counter()
        self.start_probes = hostspeed.probes()
        self.start_probe_s = time.perf_counter() - t0
        self.peak_rss_mb = 0.0
        self.layer: dict[str, float] = {}
        self.spark = None

    # -- environment --------------------------------------------------------

    def spark_env(self) -> None:
        """Hygiene for every Spark workload: task slots = host cores, every
        scratch location inside this run's root, Python workers able to
        import the package, and (traced runs only) an uncompressed,
        non-rolling event log."""
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(cpu_count())
        env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        env["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        env["SPARK_GRAFT_WAREHOUSE"] = self.dirs["warehouse"]
        env["SPARK_GRAFT_SCRATCH"] = self.dirs["scratch"]
        env["TMPDIR"] = self.dirs["tmp"]
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        args = [
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            f"--driver-java-options '-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
        ]
        if self.tracer.enabled:
            args += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.dirs['eventlog']}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    # -- the closed loop ----------------------------------------------------

    @contextmanager
    def op(self, op_id: str, pass_no: int):
        """Time one op: wall clock and process-tree CPU. In a measured pass,
        host speed probes run just before and just after, untimed. An
        exception inside marks the op failed and is swallowed so the loop
        goes on."""
        rec = {"op": op_id, "pass": pass_no, "ok": True, "error": None}
        measured = pass_no != WARM_UP
        rec["probes"] = hostspeed.probes() if measured else []
        self.tracer.op = op_id
        cpu0 = procstat.tree_cpu_seconds()
        steal0 = procstat.host_steal_seconds()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # counted as failed, never dropped
            lines = str(e).splitlines()
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {lines[0] if lines else ''}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = procstat.tree_cpu_seconds() - cpu0
        rec["steal_s"] = procstat.host_steal_seconds() - steal0
        self.tracer.op = None
        if measured:
            rec["probes"] += hostspeed.probes()
        self.ops.append(rec)

    def add_setup(self, seconds: float, probes: list) -> None:
        """Record one set-up time with the host speed probes taken around it."""
        self.setups.append(seconds)
        self.setup_probes.append(probes)

    def cold_setup_done(self) -> None:
        """Record the cold set-up: process start to now, less the input
        generation and the probes taken when the run began."""
        self.setup_cold_s = procstat.process_age_seconds() - self.gen_s - self.start_probe_s
        self.add_setup(self.setup_cold_s, self.start_probes + hostspeed.probes())

    def fail(self, op_id: str, reason: str) -> None:
        """Mark every execution of ``op_id`` failed (wrong output)."""
        for rec in self.ops:
            if rec["op"] == op_id and rec["ok"]:
                rec["ok"] = False
                rec["error"] = reason[:300]

    @contextmanager
    def untraced(self):
        """No spans or counters inside (warm-up passes and output checks)."""
        traced, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = traced

    def checked(self, check, *args) -> None:
        """Run an output check, untraced; a check that raises fails every op."""
        with self.untraced():
            try:
                check(self, *args)
            except Exception as e:
                for op in {r["op"] for r in self.ops}:
                    self.fail(op, f"output check raised {type(e).__name__}: {e}")

    def timed(self) -> list[dict]:
        """The op records of the measured passes (warm-up left out)."""
        return [r for r in self.ops if r["pass"] != WARM_UP]

    def passes(self):
        """Yield measured pass numbers until ``seconds`` have elapsed since
        the first one began (always at least one pass)."""
        start = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - start < self.seconds:
            yield n
            n += 1

    # -- clean-up -----------------------------------------------------------

    def stop_spark(self) -> None:
        """Stop the session, shut the JVM down and wait for the whole tree."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        before = set(procstat.tree_pids()) - {os.getpid()}
        try:
            self.spark.stop()
        except Exception:
            pass
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
        wait_gone(before)

    def cleanup(self) -> None:
        self.stop_spark()
        wait_gone(set(procstat.tree_pids()) - {os.getpid()})
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, any that linger."""
    deadline = time.time() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            deadline = time.time() + 5
        while time.time() < deadline and any(_alive(p) for p in pids):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            return
    print(f"perfbench: processes still alive: {sorted(p for p in pids if _alive(p))}", file=sys.stderr)
