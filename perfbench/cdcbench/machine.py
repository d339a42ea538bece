"""Machine-sized Spark session, checkout-local scratch, and run facts.

Everything the benchmark writes stays under ``<checkout>/perfbench/.work``
(Spark local dirs, JVM and Python temp files, tables) and
``<checkout>/perfbench/.cache`` (generated inputs), so a run touches
nothing outside its checkout.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(BENCH_DIR, ".cache")


def cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """A fifth of physical memory, clamped to [1 GiB, 8 GiB]: the machine
    is shared, and a heap much larger than the working set only hides
    allocation costs. No pre-touch, so resident memory follows use."""
    return max(1024, min(8192, mem_total_mb() // 5))


def confine_scratch() -> None:
    """Point every temp-file consumer (Python tempfile, py4j gateway,
    JVM tmpdir, Spark local dirs) at the work dir. Must run before the
    JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = tmp


def start_spark():
    """local[cpus] session with shuffle partitions = cpus."""
    from replicator_spark.session import get_spark

    n = cpus()
    heap = heap_mb()
    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway down, and wait until the
    driver JVM and every process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _child_pids(todo.pop())
        out += kids
        todo += kids
    return out


def _child_pids(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Peak resident memory (MB) of the driver — this Python process plus
    the gateway JVM — from the kernel's high-water marks, and the same for
    every descendant by name. PySpark worker processes come and go with
    load, so they are recorded but not counted."""
    from pyspark import SparkContext

    me = os.getpid()
    jvm = getattr(SparkContext._gateway, "proc", None)
    driver = _vm_hwm_kb(me) + (_vm_hwm_kb(jvm.pid) if jvm is not None else 0)
    every = {}
    for p in [me] + _descendants(me):
        try:
            with open(f"/proc/{p}/comm") as f:
                every[f"{f.read().strip()}:{p}"] = _vm_hwm_kb(p) / 1024.0
        except OSError:
            continue
    return driver / 1024.0, every


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def facts(spark, seed: int) -> dict:
    import duckdb

    return {
        "cpus": cpus(),
        "heap_mb": heap_mb(),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "seed": seed,
        "machine": platform.machine(),
        "argv": sys.argv[1:],
        "started_unix": int(time.time()),
    }
