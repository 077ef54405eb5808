"""Environment pinning and Spark lifecycle shared by the workloads."""

from __future__ import annotations

import os
import re
import resource
import shlex
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_HEAP_MB = 2048


def _heap_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 2 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return min(MAX_HEAP_MB, int(line.split()[1]) // 1024 // 4)
    except OSError:
        pass
    return MAX_HEAP_MB


def pin_environment(work: str) -> dict:
    """Fix everything the engine reads from the environment before
    pyspark is imported, and keep every file the run writes inside
    ``work``. Returns the pinned values for the run record."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{_heap_mb()}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_RETAINED_STAGES": "100000",
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the engine from the checkout root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", f"spark.local.dir={os.path.join(work, 'local')}",
            "pyspark-shell",
        ]),
        # every JVM, the launcher's too: temp files in the work dir and
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": shlex.join([f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]),
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    return pinned


def error_class(message: str, fallback: str) -> str:
    """The Spark error class in an error message (``[FAILED_READ_FILE…]``),
    else the leading exception name (``ArcadeSQLError: …``), else
    ``fallback``."""
    m = re.search(r"\[([A-Z][A-Z0-9_]+(?:\.[A-Z0-9_]+)*)\]", message)
    if m is None:
        m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*:", message)
    return m.group(1) if m else fallback


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)


def peak_rss_mb() -> float:
    """High-water resident set of this process plus the driver JVM,
    in MiB."""
    from pyspark import SparkContext

    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return mb
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return mb + int(line.split()[1]) / 1024
    except OSError:
        pass
    return mb
