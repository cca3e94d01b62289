"""SparkSession helper with engine defaults (AQE, Arrow, UTC, zstd)."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from sfr_ingest_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig


def _engine_zip() -> str:
    """Path to an up-to-date engine.zip (rebuilt if any module is newer)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "engine.zip")
    pkg = os.path.join(repo, "sfr_ingest_pipeline_spark")
    newest = 0.0
    for dirpath, _dirs, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, fn)))
    if not os.path.exists(out) or os.path.getmtime(out) < newest:
        import zipfile

        tmp = f"{out}.tmp-{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for dirpath, _dirs, files in os.walk(pkg):
                if "__pycache__" in dirpath:
                    continue
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, repo))
        os.replace(tmp, out)
    return out


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 24g: the heap of a local session
    grows toward its cap, and other JVMs (CLI runs, executors) must still
    fit beside it."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(24, ram_gb // 2))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "sfr-ingest-pipeline-spark",
    config: EngineConfig = DEFAULT_CONFIG,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session with the engine's scale-minded defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass None and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    if master.startswith("local-cluster"):
        # separate executor JVMs need the engine shipped the same way a real
        # cluster would get it: spark-submit --py-files engine.zip (north
        # rule). Build/refresh the zip from source before attaching it.
        builder = builder.config("spark.submit.pyFiles", _engine_zip())
    for k, v in config.spark_confs.items():
        builder = builder.config(k, v)
    # Scan-parallelism floor (round 6): the bench binlog segments are ~30 MB
    # multi-row-group files, and with the stock 128 MB maxPartitionBytes a
    # 2-file microbatch scans as 1-2 tasks — every downstream map-side stage
    # (decode, partial LWW agg) then runs on 1-2 of 32 cores. Setting
    # spark.sql.files.minPartitionNum to the local core count makes
    # FilePartition target totalBytes/cores per split (floored by the 4 MB
    # openCost), restoring full-width scans; measured 74-100s -> 26-44s on
    # the 8.4M-event replay. Scale note: on a real cluster input splits
    # already exceed the core count for any non-trivial scan, so this floor
    # is a no-op there; it only rescues small-file/small-batch scans.
    cores = None
    m = re.fullmatch(r"local\[(\d+|\*)\]", master or "")
    mc = re.fullmatch(r"local-cluster\[(\d+),(\d+),\d+\]", master or "")
    if m:
        cores = os.cpu_count() if m.group(1) == "*" else int(m.group(1))
    elif mc:
        cores = int(mc.group(1)) * int(mc.group(2))
    if cores and "spark.sql.files.minPartitionNum" not in (extra_confs or {}):
        builder = builder.config("spark.sql.files.minPartitionNum", str(cores))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem())
    )
    # ParallelGC: G1 (the JDK17 default) is bimodal and can anti-scale 4x on
    # allocation-heavy string workloads with many task threads in one local
    # JVM (measured on this host: 23.2s vs 3.7s for the same regex scan at
    # local[32]); throughput-oriented ParallelGC is the right collector for
    # batch/stream executors
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
    )
    builder = builder.config(
        "spark.executor.extraJavaOptions", "-XX:+UseParallelGC"
    )
    if "spark.ui.enabled" not in (extra_confs or {}):
        builder = builder.config("spark.ui.enabled", "false")
    return builder.getOrCreate()
