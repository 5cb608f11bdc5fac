"""Run context shared by the workloads: deployment pinning, the per-run
scratch directory, session set-up, output checks and the tracer."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from perfbench.tracing import Tracer

# Set-ups per run; setup_s is their median. The first pays the JVM launch,
# the later ones restart the SparkContext inside the same JVM.
N_SETUPS = 3


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark run: seed, scratch dir, session, failures, tracer."""

    def __init__(self, root: str, sf_dir: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.sf_dir = sf_dir
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.tracer = Tracer(trace)
        self._t0 = time.perf_counter()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.state: dict = {}  # the workload's objects from its last set-up
        self.setup_samples: list[float] = []
        self.run_dir = tempfile.mkdtemp(
            prefix=f"run-{os.getpid()}-", dir=self._mkdir(".perfbench_run")
        )
        self.cache_dir = os.path.join(root, ".perfbench_cache")
        self.event_dir = self._mkdir(os.path.join(self.run_dir, "eventlog"))
        self._pin_environment()

    def _mkdir(self, path: str) -> str:
        path = os.path.join(self.root, path)
        os.makedirs(path, exist_ok=True)
        return path

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def _pin_environment(self) -> None:
        # Deployment settings only: task threads = CPUs, and every scratch
        # file the engine, Spark or Python writes goes under the run dir.
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["TMPDIR"] = self.run_dir
        os.environ["SPARK_LOCAL_DIRS"] = self._mkdir(self.path("local"))
        # every JVM the run starts (the launcher and the driver) keeps its
        # temp files in the run dir and writes no perf-data file to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_dir}"
        os.environ["TZ"] = "UTC"
        time.tzset()
        tempfile.tempdir = self.run_dir

    def spark_conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    # -- set-up ------------------------------------------------------------

    def setup(self, prepare) -> None:
        """Start the session ``N_SETUPS`` times, each followed by the
        workload's ``prepare(spark)`` (first-use layouts and warm-up);
        setup_s is the median. The last session stays up for the run."""
        from cellbase_spark.session import get_spark

        for _ in range(N_SETUPS):
            self.stop_session()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
            self.spark.sparkContext.setLogLevel("ERROR")
            prepare(self.spark)
            self.setup_samples.append(time.perf_counter() - t0)
            self.log(f"set-up {len(self.setup_samples)}: {self.setup_samples[-1]:.3f}s")

    def setup_s(self) -> float:
        return statistics.median(self.setup_samples)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- checks ------------------------------------------------------------

    def attempt(self, what: str, fn, *args, **kw):
        """Run one op; an exception counts as a failure and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:  # a failed op is a measured outcome, not a crash
            self.fail(what, traceback.format_exc(limit=3))
            return None

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self._t0:7.2f}s {msg}", file=sys.stderr)

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr)

    def check(self, ok: bool, what: str, why: str = "output mismatch") -> None:
        """Record a failed output check against the op already counted."""
        if not ok:
            self.fail(what, why)

    @property
    def failed(self) -> int:
        return len(self.failures)

    def close(self) -> None:
        self.stop_session()
        _stop_jvm()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.run_dir))
        except OSError:
            pass  # another run still owns a sibling dir


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: the gateway exits on
    end of input on its stdin."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None
