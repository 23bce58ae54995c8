"""Process-level plumbing shared by the workloads: the work directory
inside the checkout, the Spark session at ``local[4]``, its teardown, the
driver JVM's peak RSS and the capture stamps."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

CORES = 4
WORK_DIR = ".perfbench_work"


def check_checkout(root: str) -> str | None:
    """Why the engine cannot be benchmarked from ``root``, or None."""
    for rel in ("boann_ocsf_security_data_platform_spark/__init__.py", "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            return f"{rel} is missing under {root}: run from a full checkout"
    return None


def make_work_dir(root: str, workload: str) -> str:
    """A fresh work directory for this run. Python and the JVM keep
    their temp files and Spark its local dirs in here, so a run writes
    nowhere outside the checkout."""
    work = os.path.join(root, WORK_DIR, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    return work


def start_session(work: str, trace: bool):
    """``get_spark`` at ``local[4]``; the event log is on in the traced run
    only. Returns ``(spark, seconds)``."""
    t0 = time.perf_counter()
    from boann_ocsf_security_data_platform_spark import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit (it exits
    on EOF of its stdin)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def stamps(spark, seed: int, sf, cache_state: str) -> dict:
    import pyspark

    return {
        "cores": CORES,
        "cpus_visible": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "sf": sf,
        "seed": seed,
        "cache_state": cache_state,
        "spark_version": pyspark.__version__,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
    }


def dir_files(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(file count, total bytes) of data files under ``path``."""
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size
