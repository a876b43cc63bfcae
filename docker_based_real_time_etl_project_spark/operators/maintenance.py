"""Table maintenance operators: small-file compaction.

Streaming parquet sinks (S4/S10, and any per-micro-batch append) write
one-or-more files per trigger; at a 60 s cadence that is ~1 400
files/day/partition -- scan planning and footer reads degrade long
before data volume does. Compaction rewrites a directory into
size-targeted files and atomically swaps it in, preserving rows
exactly (count + content checked in tests).

At 100 TB this runs per partition directory (date/hour), never on the
whole table, and only on partitions whose file count exceeds the
threshold -- the same contract Delta's OPTIMIZE exposes, on plain
parquet.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession


def compaction_plan(path: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Inspect a parquet dir: file count, bytes, and the target file
    count a compaction would produce."""
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    total = sum(os.path.getsize(f) for f in files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "target_files": max(1, math.ceil(total / target_file_bytes)),
    }


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
) -> dict:
    """Rewrite `path` into ~target-sized files if it has >= min_files.

    Write-new + atomic rename (a directory swap); the old directory is
    retained alongside as `.pre_compact_*` until the caller's retention
    policy removes it -- readers holding the old file listing finish
    unharmed.
    Returns the plan dict plus what was done.
    """
    plan = compaction_plan(path, target_file_bytes)
    if plan["n_files"] < min_files:
        return {**plan, "compacted": False}
    df = spark.read.parquet(path)
    tmp = f"{path}.compact_{uuid.uuid4().hex[:8]}"
    # coalesce, not repartition: compaction must not shuffle -- it only
    # concatenates co-located row groups
    df.coalesce(plan["target_files"]).write.mode("overwrite").parquet(tmp)
    backup = f"{path}.pre_compact_{int(time.time())}"
    os.rename(path, backup)
    os.rename(tmp, path)
    return {**plan, "compacted": True, "backup": backup}


def drop_compaction_backups(path: str) -> int:
    """Retention: remove `.pre_compact_*` siblings of `path`."""
    parent, base = os.path.split(path.rstrip("/"))
    n = 0
    for d in os.listdir(parent or "."):
        if d.startswith(f"{base}.pre_compact_"):
            shutil.rmtree(os.path.join(parent, d))
            n += 1
    return n
