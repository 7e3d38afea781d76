"""Shared harness: work directory, Spark session, host canary, RSS
and the result record every workload returns."""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

#: checkout root (the directory holding ``perfbench/``)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: scratch space for inputs, outputs, Spark temp files and results;
#: inside the checkout and ignored by git
WORK = os.path.join(ROOT, ".perfbench")

#: cores given to the local Spark master in every workload
CORES = 4
#: driver heap; the benchmark shares its host, so keep it small
DRIVER_MEM = "2g"
#: set-up repetitions per run; ``setup_s`` is their median. The first
#: pays the JVM and Python-worker start, the second the work a
#: long-running process repeats; more would not fit the per-run budget.
SETUP_REPS = 2


@dataclass
class Result:
    """What one workload run reports. ``e2e`` holds the contract's
    end-to-end metrics, ``layers`` the per-layer ones (traced run),
    ``detail`` everything else a reader may want (workload-named
    metrics, sample counts, canaries, correctness notes)."""

    attempted: int = 0
    failed: int = 0
    correct: bool = True
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.correct = False
            self.problems.append(why)


def fresh_dir(*parts: str) -> str:
    d = os.path.join(WORK, *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEM} pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, pp) if p)


def start_spark(cores: int = CORES, extra: dict | None = None):
    """A galaxy_spark session on ``local[cores]``. Stops any active
    session first, so a call is a full session (re)start."""
    from pyspark.sql import SparkSession

    from galaxy_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    conf = {"spark.sql.shuffle.partitions": str(cores),
            "spark.local.dir": os.path.join(WORK, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false"}
    conf.update(extra or {})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_conf(log_dir: str) -> dict:
    """Uncompressed Spark event log (the traced run reads it back)."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir}


def host_canary() -> dict:
    """Fixed pure-CPU work timed before the workload (the ``bench.py``
    canaries, scaled down): a host that moved shows here."""
    import numpy as np

    def loop():
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i & 7
        return time.perf_counter() - t0

    def gemm():
        a = np.ones((600, 600))
        t0 = time.perf_counter()
        for _ in range(3):
            a = a @ a * 1e-9
        return time.perf_counter() - t0

    loop(), gemm()
    return {"py_loop_s": min(loop() for _ in range(3)),
            "np_gemm_s": min(gemm() for _ in range(3))}


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    return jvm + _vm_hwm_mb(os.getpid())


def session(first: bool):
    """The first set-up starts the JVM and session; later ones reuse
    them, as a long-running driver would."""
    if first:
        return start_spark()
    from pyspark.sql import SparkSession
    return SparkSession.getActiveSession()


def batch_seconds(progress) -> list[float]:
    """Durations of the micro-batches that read input, in seconds."""
    return [p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress if p["numInputRows"] > 0]


def timed_setup(setup_once) -> tuple[list[float], object]:
    """Run ``setup_once(first)`` SETUP_REPS times; return (the
    walls, last return value). The first repetition pays the JVM and
    Python-worker start, the others regenerate inputs and warm up
    again in the running session."""
    walls, out = [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = setup_once(i == 0)
        walls.append(time.perf_counter() - t0)
    return walls, out
