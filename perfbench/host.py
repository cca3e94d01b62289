"""Host fit and Spark session lifecycle for the benchmark.

Everything the benchmark needs from the machine is derived here, outside the
engine: the core count, a driver heap that fits physical memory, and a work
directory inside the checkout for Spark's local dirs and the JVM's temp files.
The engine sees these only as ordinary ``get_spark`` arguments.
"""

from __future__ import annotations

import os
import shutil
import time

HOST_FIT = {
    # share of physical RAM given to the single local-mode driver JVM; the
    # rest stays with the page cache, the Python workers and other tenants
    "driver_mem_share": 0.35,
    "driver_mem_min_mb": 2048,
    "driver_mem_max_mb": 6144,
}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def physical_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    want = int(physical_mem_mb() * HOST_FIT["driver_mem_share"])
    return max(HOST_FIT["driver_mem_min_mb"], min(HOST_FIT["driver_mem_max_mb"], want))


def host_summary() -> dict:
    return {
        "nproc": nproc(),
        "physical_mem_mb": physical_mem_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "master": f"local[{nproc()}]",
        "shuffle_partitions": nproc(),
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def prepare_env(work: str, checkout: str) -> None:
    """Point every temp/scratch location of this process, its Python workers
    and the JVM it launches into ``work``, and make the engine importable by
    the Python workers (they inherit PYTHONPATH, not sys.path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    # the engine's own collector choice; -UsePerfData: no hsperfdata file
    # under /tmp. No -Xms: the heap grows with demand, so peak RSS follows
    # what the program allocates
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ.setdefault("PYSPARK_PYTHON", _python())
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", _python())


def _python() -> str:
    import sys

    return sys.executable


def start_session(work: str):
    """Start the benchmark's one local Spark session; returns (spark, seconds)."""
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.session import get_spark

    n = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{n}]",
        app_name="perfbench",
        config=EngineConfig(shuffle_partitions=n),
        extra_confs={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.shuffle.partitions": str(n),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # one trivial job so the measured start includes executor/task startup
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def quiesce(spark) -> None:
    """Full GC in this process and in the JVM before a timed window, so the
    window does not inherit garbage (and a collection) from setup."""
    import gc

    gc.collect()
    spark._jvm.System.gc()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the whole machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this VM since ``since``."""
    steal, total = cpu_jiffies()
    return 100.0 * (steal - since[0]) / max(1, total - since[1])


def jvm_pid(spark) -> int | None:
    try:
        return int(spark._jvm.ProcessHandle.current().pid())
    except Exception:
        return None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is not None:
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
        except Exception:
            proc.kill()
            proc.wait()
