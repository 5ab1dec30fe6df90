"""Run context shared by the workloads: where the checkout is, the work
directory, engine session start/stop, and the result record."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field

from spans import Recorder

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(ROOT, ".bench_traces")


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    traced: bool
    rec: "Recorder"
    work: str = ""

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    """What one workload run produced.  ``e2e`` and ``layers`` map metric
    name → value; ``notes`` are printed for people, not parsed."""

    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record one verified output; a failed check counts as a failed
        operation."""
        self.checks.append((name, bool(ok), detail))
        self.attempted += 1
        if not ok:
            self.failed += 1
        return bool(ok)


def make_workdir(workload: str) -> str:
    os.makedirs(WORK_ROOT, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK_ROOT)


def confine_temp_files(work: str) -> None:
    """Keep every temp file of this process, its children and the JVM
    inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Spark prefers this variable over spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers started by the JVM import the program from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def engine_config(work: str, n_cores: int):
    """The session the benchmark asks the program for: local[n_cores],
    every scratch directory under the work dir, console noise off."""
    from kafkastreamsjavachallenge_spark.session import EngineConfig

    tmp = os.path.join(work, "tmp")
    return EngineConfig(
        master=f"local[{n_cores}]",
        extra={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed, pre-touched heap: JVM resident memory then no longer
            # depends on when the collector chose to grow the heap, so
            # peak_rss_mb moves only with non-heap and Python worker memory.
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


def start_session(work: str, n_cores: int):
    from kafkastreamsjavachallenge_spark.session import build_session

    spark = build_session(engine_config(work, n_cores))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)


def remove_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def now() -> float:
    return time.monotonic()


def closed_loop(fn, seconds: float, min_runs: int = 3) -> list[float]:
    """Call ``fn`` back to back until ``seconds`` have passed and at least
    ``min_runs`` calls completed; returns each call's wall time."""
    walls = []
    t_end = now() + seconds
    while now() < t_end or len(walls) < min_runs:
        t = now()
        fn()
        walls.append(now() - t)
    return walls


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
