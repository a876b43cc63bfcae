"""Box sizing, session lifetime and the timing helpers every workload
shares. The engine is reached only through its public functions
(``session.get_spark``) and Spark's public API."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import time


def box_config(root: str, work: str) -> dict:
    """Size the engine to this machine and export the settings the
    package reads (cores and shuffle partitions = usable cores, driver
    heap = a quarter of RAM, at most 4 GiB). Python workers get the
    checkout on their path so pandas UDFs can import the package."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gib = max(1, min(4, int(ram_gib // 4)))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_GRAFT_ORACLE_CACHE": os.path.join(work, "oracle_cache"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return {
        "cores": cores,
        "shuffle_partitions": cores,
        "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
        "ram_gib": round(ram_gib, 1),
        "work_dir": os.path.relpath(work, root),
        "python": platform.python_version(),
        "git_revision": git_revision(root),
        "load_avg_start": os.getloadavg(),
        "cpu_ticks_start": cpu_ticks(),
    }


def cpu_ticks() -> list[int] | None:
    """The machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal), or None without it."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(start: list[int] | None, end: list[int] | None) -> float | None:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: it shows a slow host."""
    if not start or not end or len(start) < 8 or len(end) < 8:
        return None
    total = sum(end) - sum(start)
    return (end[7] - start[7]) / total if total > 0 else None


def git_revision(root: str) -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_session(cfg: dict, work: str, event_log: bool):
    """The package's tuned session sized to the machine. The console
    progress bar is off; with ``event_log`` Spark writes its JSON event
    log uncompressed and unrolled, so the traced run can read it."""
    from docker_based_real_time_etl_project_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if event_log:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(extra["spark.eventLog.dir"], exist_ok=True)
    spark = get_spark(
        "perfbench", master=f"local[{cfg['cores']}]", extra_conf=extra
    )
    cfg["spark"] = spark.version
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Clock:
    """perf_counter deadline for the measured window."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def left(self) -> float:
        return self.seconds - (time.perf_counter() - self.t0)


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)
