"""Data-lake write path: partitioned, size-bounded, range-clustered
parquet writes.

The reference's output side is a JDBC append and a Cassandra mapped
sink (etl.py:181-187, cassandra-sink-config.json:14-18) — row stores
fed row-at-a-time. At 100 TB the dominant output surface is a data
lake: parquet that downstream scans (Spark, DuckDB, Trino) must be
able to (a) partition-prune, (b) row-group-skip via min/max stats,
and (c) list cheaply. Those three properties are exactly what
``write_clustered`` guarantees, and what a naive ``df.write.parquet``
forfeits: dynamic partition directories on the declared
low-cardinality keys (pruning), ``repartitionByRange`` over
(partition keys, sort keys) so each task owns a contiguous key range
(small per-directory file counts — a task touches few partition
values — and globally sorted data -> tight, non-overlapping row-group
min/max -> skipping), and ``maxRecordsPerFile`` so no file outgrows
the target (the writer rolls files; row count is the deterministic
proxy for bytes).

This module is only the physical writer. Keyed upserts, deletes,
compaction and retention are commits of the snapshot lake
(``lakesnap``), whose every write verb lands its files through
``write_clustered``.

Scale notes: the writer shuffles once (the range exchange) — that is
the price of clustering and it replaces the N-small-files tax every
downstream scan would otherwise pay forever. Range partition count
defaults to Spark's shuffle parallelism; pass ``n_partitions``
(ceil(rows/target) from a known count) to bound it explicitly when
targeting a file budget. Nothing here collects rows to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame
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
