"""Shared measurement plumbing: the percentile rule, provenance stamps,
peak memory, the per-run scratch directory and Spark session set-up."""

from __future__ import annotations

import gc
import math
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import tempfile
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_ROOT = os.path.join(ROOT, ".perfbench_tmp")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100.0 * len(ordered)) - 1)]


def summary(values: list[float], scale: float = 1.0) -> dict:
    """p50, p80 and p90 (scaled) with the sample count behind them."""
    return {
        "p50": percentile(values, 50) * scale,
        "p80": percentile(values, 80) * scale,
        "p90": percentile(values, 90) * scale,
        "n": len(values),
    }


def median(values: list[float]) -> float:
    return statistics.median(values)


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=10, check=True
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def provenance(workload: str, seed: int, spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    status = _git("status", "--porcelain")
    return {
        "git_sha": _git("rev-parse", "HEAD"),
        "git_dirty": None if status is None else bool(status),
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "workload": workload,
    }


def utc_now() -> str:
    return datetime.now(timezone.utc).isoformat(timespec="seconds")


def _vm_kb(pid: int | str, field: str) -> int:
    """One ``Vm*`` field of ``/proc/<pid>/status``, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (``VmHWM``) of the Spark JVM plus this Python
    driver, in MB. It depends on when the JVM chose to grow its heap, so it
    varies from run to run by more than ``live_mb``."""
    return (_vm_kb(jvm_pid, "VmHWM") + _vm_kb("self", "VmHWM")) / 1024.0


def live_mb(spark) -> float:
    """Memory the engine holds: the JVM heap in use right after a full
    collection (cached plans, state stores, broadcast and block-manager
    data), in MB. The Python driver's resident set is left out: it also
    holds the benchmark's own oracle check."""
    gc.collect()  # drop Python handles that keep JVM objects alive
    jvm = spark._jvm
    rt = jvm.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.System.gc()
        used.append(rt.totalMemory() - rt.freeMemory())
        time.sleep(0.5)  # Spark's ContextCleaner frees broadcast and shuffle blocks after a collection
    return min(used) / 2**20


class Scratch:
    """A fresh per-run directory inside the checkout for fixtures, generator
    input, checkpoints, sinks, event logs and Spark's local dirs. ``close``
    removes it; ``leftover`` says whether anything survived."""

    def __init__(self) -> None:
        os.makedirs(SCRATCH_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=SCRATCH_ROOT)

    def sub(self, name: str) -> str:
        path = os.path.join(self.path, name)
        os.makedirs(path, exist_ok=True)
        return path

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_ROOT)
        except OSError:
            pass  # another run's directory is still there

    @property
    def leftover(self) -> bool:
        return os.path.exists(self.path)


def spark_env(scratch: Scratch, cpus: int, event_log: bool) -> None:
    """Environment for every JVM this run launches: local[cpus], a small
    driver heap, and all of Spark's and the JVM's temporary files inside the
    scratch directory. The event log is on only in traced runs."""
    local = scratch.sub("spark-local")
    conf = {
        "spark.local.dir": local,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + scratch.sub("events")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    tempfile.tempdir = None  # re-read TMPDIR


def stop_jvm() -> None:
    """Stop the active session and the JVM behind it, so the next
    ``get_spark`` launches a fresh one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def start_session(warm_up, tracer=None):
    """Launch a JVM, build the package's session and run ``warm_up(spark)``;
    returns ``(spark, seconds)``."""
    from kafka_streams_playground_spark.session import get_spark

    t0 = time.time()
    if tracer is None:
        spark = get_spark("perfbench")
    else:
        with tracer.span("session.get_spark", trace="setup"):
            spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    return spark, time.time() - t0
