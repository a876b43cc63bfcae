"""Session factory contracts that hold whatever directory the driver
runs from."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_WORKER_IMPORT = """
import sys
sys.path.insert(0, {root!r})
from docker_based_real_time_etl_project_spark.session import get_spark

spark = get_spark("worker-path", master="local[1]")


def touch_package(batches):
    import docker_based_real_time_etl_project_spark  # noqa: F401

    yield from batches


print("rows", spark.range(3).mapInPandas(touch_package, "id long").count())
"""


def test_python_workers_import_package_outside_repo_root(tmp_path):
    """A driver started outside the repository with PYTHONPATH unset
    still runs Python-worker stages that import the package (pandas
    UDFs, mapInPandas, the lake's bloom build): get_spark puts the
    package root on the workers' PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORT.format(root=str(ROOT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "rows 3" in out.stdout


def test_default_driver_memory_fits_the_box():
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is 16g or half
    the physical RAM, whichever is smaller, so it never exceeds the
    box's memory and two sessions fit side by side."""
    from docker_based_real_time_etl_project_spark.session import (
        default_driver_memory,
    )

    mem = default_driver_memory()
    assert mem.endswith("g")
    gib = int(mem[:-1])
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gib <= 16
    assert gib * 2**30 <= max(ram / 2, 2**30)
