"""Process plumbing shared by `run.py` and `replay_child.py`: the
benchmark's Spark session, its teardown, the replay call both sides
time, and host readings (/proc)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

#: driver heap per JVM on `replay_bulk`, where two JVMs run at once; the
#: other workloads keep the package's default
REPLAY_DRIVER_MEM = "2g"
#: `replay_bulk` delivery: the feed's 8 chunks arrive in 2 batches
REPLAY_FILES_PER_BATCH = 4
REPLAY_BUCKETS = 8


def take_stdout():
    """Keep the real stdout for this process's own lines and point fd 1
    at stderr, so the JVM and any child that inherit fd 1 cannot write
    between (or after) the lines the benchmark prints."""
    saved = os.dup(1)
    os.dup2(2, 1)
    return os.fdopen(saved, "w", buffering=1)


def prepare_env(work: str) -> None:
    """Keep every scratch file of this run (temp files, the shipped
    package zip, Spark shuffle dirs) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def build_spark(cpus: int):
    """The package's own session builder at ``local[cpus]``."""
    from image_deid_etl_spark.session import build_session

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def replay_once(spark, root: str, feed_dir: str):
    from image_deid_etl_spark.cdc.engine import run_ingest

    return run_ingest(
        spark, root, feed_dir,
        max_files_per_batch=REPLAY_FILES_PER_BATCH, n_buckets=REPLAY_BUCKETS,
    )


def vm_hwm_mb(pid: int | str) -> float:
    """Resident high-water mark (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int | str) -> None:
    """Reset a process's VmHWM to its current resident size, so a later
    `vm_hwm_mb` reports the peak from this point on."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
        f.write("5")


def cpu_ref_s(reps: int = 5) -> list[float]:
    """Seconds of a fixed single-threaded Python loop, ``reps`` times: a
    reading of host speed that CPU steal does not show (frequency, shared
    cores and caches)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return times


def cpu_times() -> tuple[int, int]:
    """``(steal, total)`` jiffies of the host, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])
