"""Event-stream replay: turn the static ``events`` table into a file
stream whose micro-batches arrive in (rough) event-time order.

The reference's stream is Kafka topics fed by Debezium (SURVEY.md
S6-S8); tests have no broker, so the transport is swapped for Spark's
file source while every downstream operator (watermarks, windows,
state) is identical to what would run on ``readStream.format("kafka")``.
Slicing by time range (not hash) means later files carry later events,
so watermarks advance realistically and a held-back slice is genuinely
"late".
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark.schemas import TESTDATA_SCHEMAS
from docker_based_real_time_etl_project_spark.sources.parquet import load_table


def slice_events_to_dir(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 8,
    out_dir: str | None = None,
    hold_back_range: tuple[int, int] | None = None,
) -> str:
    """Write ``events`` as `n_slices` time-ordered parquet files under a
    temp dir; returns the dir. ``hold_back_range=(lo, hi)`` skips those
    slice indexes (write them later to model late/out-of-order arrival).

    Slices are ntile(ts) ranges written one file each, named so the file
    source lists them in time order. One pass: slice assignment is a
    when-chain over the quantile bounds, written partitionBy(slice) with
    a repartition on the slice key so each slice is exactly one file
    (maxFilesPerTrigger=1 => one slice per micro-batch). The file
    source orders by modification time, so mtimes are stamped strictly
    increasing in slice order after the write.
    """
    return slice_table_to_dir(
        spark, sf_dir, "events", "ts",
        n_slices=n_slices, out_dir=out_dir, hold_back_range=hold_back_range,
        prefix="events_stream_",
    )


def slice_table_to_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_col: str,
    n_slices: int = 8,
    out_dir: str | None = None,
    hold_back_range: tuple[int, int] | None = None,
    prefix: str | None = None,
    arrival_order: list[int] | None = None,
) -> str:
    """Generalized replay slicer: any testdata table becomes an
    `n_slices`-micro-batch file stream, sliced into contiguous
    ``order_col`` ranges (arrival order = that column's order). Used
    with ``order_col='ts'`` for event-time replay and with
    ``order_col='doc_id'`` to replay a corpus arriving in ingest
    order (the streaming-LLM-prep queries).

    ``arrival_order`` permutes the mtime stamping (a permutation of the
    kept slice indexes): slices then ARRIVE in that order while each
    still carries its own time range — a genuinely out-of-order stream
    for exercising watermark-delayed re-sort operators."""
    # lazy: the queries package imports this module
    from docker_based_real_time_etl_project_spark.queries.materialize import scratch_dir

    ev = load_table(spark, sf_dir, table)
    out = out_dir or scratch_dir(prefix or f"{table}_stream_")
    bounds = ev.selectExpr(
        f"percentile_approx(cast({order_col} as double), array({','.join(str((i + 1) / n_slices) for i in range(n_slices - 1))}), 10000) p"
    ).collect()[0]["p"]
    tsd = F.col(order_col).cast("double")
    slice_idx = F.lit(n_slices - 1)
    for i in range(n_slices - 2, -1, -1):
        slice_idx = F.when(tsd <= bounds[i], i).otherwise(slice_idx)
    keep = [
        i
        for i in range(n_slices)
        if not (hold_back_range and hold_back_range[0] <= i <= hold_back_range[1])
    ]
    (
        ev.withColumn("slice", F.format_string("%03d", slice_idx))
        .filter(F.col("slice").isin([f"{i:03d}" for i in keep]))
        .repartition(n_slices, "slice")
        .write.partitionBy("slice")
        .mode("append")
        .parquet(out)
    )
    # strictly increasing mtimes in slice order (2 s apart, newer than
    # anything already in the dir from a previous call — base is floored
    # at the max existing mtime so a rapid second call into the same
    # out_dir can't stamp files older than the first call's)
    existing = [
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(out)
        for f in files
    ]
    base = max([time.time(), *[m + 2.0 for m in existing]])
    order = arrival_order if arrival_order is not None else sorted(keep)
    assert sorted(order) == sorted(keep), "arrival_order must permute kept slices"
    for rank, i in enumerate(order):
        d = os.path.join(out, f"slice={i:03d}")
        if not os.path.isdir(d):
            continue  # a quantile bucket can be empty on tiny tables
        for f in os.listdir(d):
            p = os.path.join(d, f)
            os.utime(p, (base + 2 * rank, base + 2 * rank))
    return out


def replay_events(
    spark: SparkSession, slices_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the sliced events with the declared schema
    (schema inference is disabled on streaming sources for good reason).
    ``maxFilesPerTrigger=1`` -> one slice per micro-batch, so an
    availableNow run still exercises multi-batch state transitions.
    """
    return replay_table(spark, slices_dir, "events", max_files_per_trigger)


def replay_table(
    spark: SparkSession,
    slices_dir: str,
    table: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Generalized replay reader: declared-schema file stream over any
    table's slice dir (see :func:`slice_table_to_dir`)."""
    return (
        spark.readStream.schema(TESTDATA_SCHEMAS[table])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(slices_dir)
    )
