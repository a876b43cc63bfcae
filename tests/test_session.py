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


def test_python_workers_keep_unchanged_zip_directories(spark):
    """A reused Python worker does not re-read the central directory of
    pyspark.zip or the spark-core jar at the start of each task: every
    zipimporter on those archives keeps the same ``_files`` dict from
    one task to the next (get_spark's daemon module). The tasks hold
    each dict they report, so a re-read cannot hand a fresh dict the
    address of a freed one."""
    import json

    def importer_dirs(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        held = zipimport.__dict__.setdefault("_held_by_test", [])
        dirs = {}
        for key, imp in list(sys.path_importer_cache.items()):
            if isinstance(imp, zipimport.zipimporter) and (
                os.path.basename(imp.archive) == "pyspark.zip"
                or os.path.basename(imp.archive).startswith("spark-core")
            ):
                held.append(imp._files)
                dirs[key] = id(imp._files)
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "dirs": [json.dumps(dirs)]})

    seen: dict[int, list[dict]] = {}
    for _ in range(6):
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInPandas(importer_dirs, "pid long, dirs string")
            .collect()
        )
        seen.setdefault(row.pid, []).append(json.loads(row.dirs))
    reused = {pid: runs for pid, runs in seen.items() if len(runs) > 1}
    assert reused, f"no worker ran two tasks: {sorted(seen)}"
    for runs in reused.values():
        assert any(k for k in runs[0] if k.endswith("pyspark.zip")), runs[0]
        for later in runs[1:]:
            shared = runs[0].keys() & later.keys()
            assert shared
            assert {k: later[k] for k in shared} == {k: runs[0][k] for k in shared}


_ZIP_REREAD = """
import importlib, os, sys, zipfile, zipimport
from docker_based_real_time_etl_project_spark import _pyworker

_pyworker.install()
path = os.path.join({tmp!r}, "mods.zip")
with zipfile.ZipFile(path, "w") as z:
    z.writestr("zmod_a.py", "A = 1\\n")
sys.path.insert(0, path)
import zmod_a

imp = sys.path_importer_cache[path]
importlib.invalidate_caches()  # the first call records the archive's stat
files = imp._files
reads = []
real_read = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
importlib.invalidate_caches()
assert imp._files is files and reads == [], reads

with zipfile.ZipFile(path, "w") as z:
    z.writestr("zmod_a.py", "A = 1\\n")
    z.writestr("zmod_b.py", "B = 2\\n")
importlib.invalidate_caches()
assert reads == [path], reads
import zmod_b
print("ok", zmod_a.A, zmod_b.B)
"""


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    """With the worker patch installed, importlib.invalidate_caches()
    leaves an unchanged zip's directory alone after its first read and
    re-reads it once the archive is rewritten, so a module added to it
    imports. Run in a
    subprocess so the patch stays out of the test process."""
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_REREAD.format(tmp=str(tmp_path))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ok 1 2" in out.stdout
