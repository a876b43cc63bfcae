"""Data-lake write path: partitioned, size-bounded, range-clustered
parquet writes plus small-file compaction (the maintenance half).

The reference's output side is a JDBC append and a Cassandra mapped
sink (etl.py:181-187, cassandra-sink-config.json:14-18) — row stores
fed row-at-a-time. At 100 TB the dominant output surface is a data
lake: parquet that downstream scans (Spark, DuckDB, Trino) must be
able to (a) partition-prune, (b) row-group-skip via min/max stats,
and (c) list cheaply. Those three properties are exactly what this
module's writers guarantee, and what a naive ``df.write.parquet``
forfeits:

- ``write_clustered``: dynamic partition directories on the declared
  low-cardinality keys (pruning), ``repartitionByRange`` over
  (partition keys, sort keys) so each task owns a contiguous key
  range (small per-directory file counts — a task touches few
  partition values — and globally sorted data -> tight,
  non-overlapping row-group min/max -> skipping), and
  ``maxRecordsPerFile`` so no file outgrows the target (the writer
  rolls files; row count is the deterministic proxy for bytes).
- ``compact_dir``: rewrite a fragmented directory (streaming sinks
  and incremental appends produce one small file per trigger per
  task) into target-sized files with the same clustering contract.
  The directory swap is rename-based and therefore NOT atomic under
  concurrent readers — plain parquet has no snapshot pointer to flip;
  this is the documented maintenance-window stand-in for what a table
  format (Iceberg/Delta) does transactionally. The physical layout
  produced is identical to those formats' ``rewrite_data_files``.

Scale notes: both writers shuffle once (the range exchange) — that is
the price of clustering and it replaces the N-small-files tax every
downstream scan would otherwise pay forever. Range partition count
defaults to Spark's shuffle parallelism; pass ``n_partitions``
(ceil(rows/target) from a known count) to bound it explicitly when
targeting a file budget. Nothing here collects rows to the driver;
``compact_dir``'s one ``count()`` is a metadata-cheap columnar scan
used only to size the rewrite.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` cached for the duration of the block and released on
    exit, so the several actions a write runs over one input (a
    partition collect, a range sample, the write itself) evaluate its
    plan once — Spark's guidance for a ``foreachBatch`` sink that acts
    on a batch more than once. Releasing on exit keeps a long-running
    stream from piling up cached blocks. A DataFrame the caller already
    cached is used as it is and stays cached."""
    if df.storageLevel != StorageLevel.NONE:
        yield df
        return
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    n_partitions: int | None = None,
    mode: str = "overwrite",
    bloom_filter_cols: Mapping[str, int] | None = None,
    writer_options: Mapping[str, str] | None = None,
    layout: str = "linear",
    zorder_by: Sequence[str] | None = None,
    zorder_bits: int = 3,
):
    """Write ``df`` as a pruning- and skipping-friendly parquet layout.

    One range exchange clusters rows by (partition_by, sort_by); the
    in-task sort makes every written row group's (sort_by) min/max
    tight, and ``maxRecordsPerFile`` bounds file sizes without a
    second shuffle (the writer rolls to a new file in place).

    ``layout="zorder"`` (with ``zorder_by=(col1, col2)``) makes the
    CLUSTERED dimension a Morton curve instead of a linear key: the
    two columns' bits interleave into a ``zb`` bucket column
    (operators/zorder.py — pure codegen'd bit arithmetic) appended to
    ``partition_by``, so a conjunctive 2-D range box maps to an
    exactly-enumerable bucket IN-list and partition pruning skips
    everything else — Delta's OPTIMIZE ZORDER BY as a write option.
    Returns the fitted ``ZGrid`` (None for linear) — keep it with the
    table; ``zorder.zorder_box_scan`` needs it to enumerate buckets.

    ``bloom_filter_cols`` maps column -> expected distinct count and
    turns on parquet bloom filters for those columns: min/max skipping
    only serves the SORTED keys, while point predicates on
    high-cardinality unsorted columns (user_id, doc fingerprint) scan
    everything — a row-group bloom filter (~1.2 bytes/NDV) lets those
    lookups skip row groups probabilistically, the standard lake-table
    trick for needle-in-100-TB fetches.
    """
    grid = None
    if layout == "zorder":
        if not zorder_by or len(zorder_by) < 2:
            raise ValueError("layout='zorder' needs zorder_by=(col1, col2, ...)")
        from docker_based_real_time_etl_project_spark.operators.zorder import (
            fit_grid,
            fit_grid_n,
            zvalue_expr,
            zvalue_expr_n,
        )

        if len(zorder_by) == 2:
            grid = fit_grid(df, zorder_by[0], zorder_by[1], bits=zorder_bits)
            df = df.withColumn("zb", zvalue_expr(grid))
        else:
            grid = fit_grid_n(df, tuple(zorder_by), bits=zorder_bits)
            df = df.withColumn("zb", zvalue_expr_n(grid))
        partition_by = (*partition_by, "zb")
    elif layout != "linear":
        raise ValueError(f"unknown layout {layout!r} (linear|zorder)")
    cols = [F.col(c) for c in (*partition_by, *sort_by)]
    out = df
    if cols:
        out = (
            out.repartitionByRange(n_partitions, *cols)
            if n_partitions
            else out.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    elif n_partitions:
        out = out.repartition(n_partitions)
    w = out.write.mode(mode)
    for k, v in (writer_options or {}).items():
        w = w.option(k, v)
    if target_rows_per_file:
        w = w.option("maxRecordsPerFile", int(target_rows_per_file))
    for col, ndv in (bloom_filter_cols or {}).items():
        # parquet-mr silently DROPS the bloom filter for chunks that
        # stay fully dictionary-encoded (the dictionary already gives
        # exact membership), so a bloom request must turn dictionary
        # off for that column to be deterministic at every scale —
        # verified empirically: with dictionary on, the written file is
        # byte-identical to a no-bloom write. High-cardinality columns
        # overflow the dictionary page anyway; this just makes the
        # contract hold on small data too.
        w = (
            w.option(f"parquet.bloom.filter.enabled#{col}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
            .option(f"parquet.enable.dictionary#{col}", "false")
        )
    if partition_by:
        w = w.partitionBy(*partition_by)
    # Spark's legacy default INT96 timestamp encoding writes NO
    # row-group min/max statistics — which silently forfeits skipping
    # on the single most common predicate column. A clustered layout
    # whose time column can't skip is pointless, so this writer pins
    # stats-bearing TIMESTAMP_MICROS for the duration of the write
    # (restored after: the conf is session-global and not ours to keep).
    conf = df.sparkSession.conf
    key = "spark.sql.parquet.outputTimestampType"
    prev = conf.get(key, None)
    conf.set(key, "TIMESTAMP_MICROS")
    try:
        w.parquet(path)
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)
    return grid


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_col: str,
    delete_col: str | None = None,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
) -> dict[str, int]:
    """Copy-on-write MERGE into a plain-parquet lake directory: the
    Delta/Hudi ``MERGE INTO`` pattern expressed with stock Spark.

    ``updates`` carries full rows in the table's schema (plus an
    optional boolean ``delete_col``): a row whose ``key_cols`` match an
    existing row replaces it (upsert), an unmatched row is inserted,
    and a ``delete_col=true`` row removes its key. Only the partition
    directories named in ``updates[partition_col]`` are read and
    rewritten — I/O is proportional to TOUCHED partitions, not table
    size, which is the entire point of CoW at 100 TB: a daily-partition
    upsert of one hot day rewrites one directory while the other ~36 k
    day-dirs are never opened (their files' mtimes are pinned unchanged
    in tests/test_lakewrite.py).

    Contract (the standard one for partitioned CoW tables without a
    global index, e.g. Hudi non-global): ``partition_col`` is immutable
    per key — an update must arrive in the partition its key already
    lives in, otherwise the old row survives in its old partition.

    Mechanics: base rows of the touched partitions are anti-joined
    against the (broadcast — update batches are small relative to the
    table by assumption) update keys, surviving rows are unioned with
    the non-delete updates, and the result is written with Spark's
    dynamic partition overwrite, which atomically-per-directory swaps
    exactly the partitions present in the output. A partition whose
    rows were ALL deleted produces no output and is removed explicitly
    (dynamic overwrite cannot express "overwrite with nothing").
    NOT atomic across partitions — same single-writer maintenance
    window caveat as :func:`compact_dir`; a table format (Iceberg/
    Delta) is the transactional upgrade, the physical work is this.

    Returns counts so callers/tests can assert the contract.
    """
    key_cols = list(key_cols)
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]  # O(touched partitions) — the batch's partition footprint, tiny
    if not _leaf_parquet_files(path):
        # create-or-merge bootstrap: nothing to anti-join against yet
        # (streaming foreachBatch sinks hit this on their first batch)
        base = spark.createDataFrame(
            [], updates.drop(delete_col).schema if delete_col else updates.schema
        )
    else:
        base = spark.read.parquet(path).filter(F.col(partition_col).isin(touched))
    upd_keys = updates.select(*key_cols).distinct()
    survivors = base.join(F.broadcast(upd_keys), on=key_cols, how="left_anti")
    incoming = updates
    # stats are counted BEFORE the overwrite: in a read-modify-write
    # cycle `updates` may derive from a read of THIS lake (streaming
    # foreachBatch sinks do exactly that), and re-evaluating it after
    # the swap would re-list files the overwrite just deleted
    n_updates = updates.count()
    n_deletes = 0
    if delete_col is not None:
        n_deletes = updates.filter(F.col(delete_col)).count()
        incoming = updates.filter(~F.col(delete_col)).drop(delete_col)
    merged = survivors.unionByName(incoming)
    if sort_by:
        merged = merged.repartitionByRange(
            partition_col, *sort_by
        ).sortWithinPartitions(partition_col, *sort_by)
    # A partition emptied by deletes must be detected from the MERGED
    # rows BEFORE the write: dynamic overwrite skips directories absent
    # from the output, so the emptied dir would keep its pre-merge
    # files and a post-write listing could not tell it apart. One
    # persist bounds the cost to the touched-partition footprint.
    with persisted(merged):
        out_parts = {r[0] for r in merged.select(partition_col).distinct().collect()}
        conf = spark.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = conf.get(key, None)
        conf.set(key, "dynamic")
        try:
            w = merged.write.mode("overwrite").partitionBy(partition_col)
            if target_rows_per_file:
                w = w.option("maxRecordsPerFile", int(target_rows_per_file))
            w.parquet(path)
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)
    emptied = {str(v) for v in touched if v not in out_parts}
    if emptied:
        from urllib.parse import unquote

        # match directories by their UNESCAPED partition value: the
        # writer Hive-escapes special characters (%XX) in dir names
        prefix = f"{partition_col}="
        for name in os.listdir(path):
            if name.startswith(prefix) and unquote(name[len(prefix):]) in emptied:
                d = os.path.join(path, name)
                if os.path.isdir(d):
                    shutil.rmtree(d)
    return {
        "touched_partitions": len(touched),
        "update_rows": n_updates,
        "delete_rows": n_deletes,
    }


def _leaf_parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def compact_dir(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
) -> dict[str, int]:
    """Rewrite the parquet directory at ``path`` into files of about
    ``target_rows_per_file`` rows, preserving/establishing the
    clustered layout. Returns before/after file counts and the row
    count so callers (and tests) can assert the contract.

    NOT atomic: readers racing the final rename see either the old or
    the new directory, but a listing taken mid-swap can miss both.
    Run inside the single-writer maintenance window, exactly like
    plain-parquet compaction jobs everywhere.
    """
    files_before = len(_leaf_parquet_files(path))
    df = spark.read.parquet(path)
    rows = df.count()
    n = max(1, math.ceil(rows / target_rows_per_file))
    tmp = f"{path.rstrip('/')}.__compact_{uuid.uuid4().hex[:8]}"
    write_clustered(
        df,
        tmp,
        partition_by=partition_by,
        sort_by=sort_by,
        target_rows_per_file=target_rows_per_file,
        n_partitions=n,
    )
    old = f"{path.rstrip('/')}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": len(_leaf_parquet_files(path)),
    }


def vacuum_dir(path: str, min_age_sec: float = 3600.0) -> dict[str, int]:
    """Remove ORPHANED maintenance debris next to a lake directory:
    ``<path>.__compact_*`` / ``<path>.__old_*`` staging dirs left by a
    :func:`compact_dir` that crashed between write and swap, and
    in-progress writer droppings inside the table (``_temporary``,
    ``.*.crc``). Plain parquet's no-manifest design means every
    non-hidden file under the table IS live data — so vacuum never
    touches those; only the staging names this module itself creates
    are eligible, and only once older than ``min_age_sec`` (a racing
    maintenance job's staging dir is younger). The table-format
    analogue is Delta VACUUM / Iceberg remove_orphan_files; the
    retention guard plays the same role as their retention interval.
    Returns counts for callers/tests."""
    import time

    base = path.rstrip("/")
    parent, name = os.path.dirname(base), os.path.basename(base)
    now = time.time()
    removed_dirs = removed_files = 0
    for sib in os.listdir(parent or "."):
        if sib.startswith((f"{name}.__compact_", f"{name}.__old_")):
            p = os.path.join(parent, sib)
            if os.path.isdir(p) and now - os.path.getmtime(p) >= min_age_sec:
                shutil.rmtree(p)
                removed_dirs += 1
    for root, dirs, files in os.walk(base):
        for d in list(dirs):
            if d == "_temporary":
                p = os.path.join(root, d)
                if now - os.path.getmtime(p) >= min_age_sec:
                    shutil.rmtree(p)
                    removed_dirs += 1
                dirs.remove(d)
        for f in files:
            if f.startswith(".") and f.endswith(".crc"):
                p = os.path.join(root, f)
                if now - os.path.getmtime(p) >= min_age_sec:
                    os.remove(p)
                    removed_files += 1
    return {"removed_dirs": removed_dirs, "removed_files": removed_files}


def row_group_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) of ``column`` for every row group under ``path``,
    straight from parquet footer statistics — the same metadata a
    scan's skipping logic reads. Test/audit helper: a clustered write
    is proven by these ranges being (near-)disjoint, an unclustered
    one by every range spanning the whole domain."""
    import pyarrow.parquet as pq

    out: list[tuple] = []
    for f in sorted(_leaf_parquet_files(path)):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is not None and st.has_min_max:
                out.append((st.min, st.max))
    return out
