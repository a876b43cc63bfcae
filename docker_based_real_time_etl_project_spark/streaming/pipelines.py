"""Streaming pipelines: A1/A2/A4 + session windows as Structured
Streaming transformations, and the run helper tests/queries share.

Each builder takes the streaming events DataFrame and returns the
transformed streaming DataFrame; the decision of trigger/sink/output
mode stays with the caller (60 s ``processingTime`` against Kafka in
production -- reference cadence ``etl.py:240`` -- vs ``availableNow``
+ memory sink in tests and t2 queries).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _value_sum(exact_cents: bool):
    """Volume aggregate: float sum, or exact integer-cent sum (two-decimal
    data) whose result is identical however micro-batches split/merge --
    the trick that lets complete-mode streaming aggs be hash-oracled."""
    if exact_cents:
        return (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
    return F.sum("value")


def ohlcv_stream(
    events: DataFrame,
    watermark: str | None = "2 hours",
    window_duration: str = "1 hour",
    exact_cents: bool = False,
) -> DataFrame:
    """A1 streaming: tumbling OHLCV per event_type (klines computed
    natively from the raw stream; fields init-db.sql:27-38).

    min_by/max_by(value, ts) work in streaming aggregation state, so
    open/close are event-time-correct however batches interleave. The
    watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted (append mode emits exactly
    then). ``watermark=None`` -> complete-mode use (unbounded state;
    only for tests/small replays).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    w = F.window("ts", window_duration)
    return (
        events.groupBy(F.col("event_type"), w.alias("w"))
        .agg(
            F.min_by("value", "ts").alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", "ts").alias("close_value"),
            _value_sum(exact_cents).alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("open_time"),
            "open_value", "high_value", "low_value", "close_value",
            "volume", "n_trades",
        )
    )


def sliding_agg_stream(
    events: DataFrame,
    watermark: str | None = "2 hours",
    window_duration: str = "24 hours",
    slide: str = "1 hour",
    exact_cents: bool = False,
) -> DataFrame:
    """A2 streaming: sliding-window stats per event_type (ticker_24hr
    semantics, init-db.sql:39-49): each event lands in
    window/slide = 24 overlapping windows; Spark's Expand does the
    fan-out before the shuffle, state holds one row per (key, window).
    At 100 TB the slide count is the state multiplier to budget for.
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    w = F.window("ts", window_duration, slide)
    return (
        events.groupBy(F.col("event_type"), w.alias("w"))
        .agg(
            F.max_by("value", "ts").alias("last_value"),
            F.min_by("value", "ts").alias("prev_value"),
            _value_sum(exact_cents).alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "last_value", "prev_value", "volume", "n_events",
        )
    )


def session_agg_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    exact_cents: bool = False,
) -> DataFrame:
    """Session windows per user: a session extends while successive
    events are < `gap` apart (no batch analog in the reference -- this
    is the streaming-native windowing the prompt's category table
    requires). State merges adjacent sessions as late events bridge
    them, so output is only stable past the watermark (append mode).
    ``exact_cents`` accumulates value as integer cents so the session
    sum is state-merge-order independent (required for the oracle).
    """
    value_sum = (
        (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0)
        if exact_cents
        else F.sum("value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), value_sum.alias("session_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events", "session_value",
        )
    )


def dedup_latest_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """A4 streaming: drop re-deliveries of the same event_id within the
    watermark horizon (the at-least-once repair the reference never does
    -- its Cassandra PK upsert is the analogous idempotence,
    cassandra-init.cql:4). State = one entry per id seen within the
    horizon, evicted as the watermark passes: bounded, unlike plain
    ``dropDuplicates`` whose state grows forever.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def _fast_tmp() -> str | None:
    """tmpfs for THROWAWAY test/bench checkpoints (offset/commit logs
    fsync per micro-batch; memory-backed dirs make that free). Only this
    memory-sink helper uses it — a production stream must checkpoint to
    durable shared storage, and callers there pass checkpoint_dir."""
    import os

    return "/dev/shm" if os.path.isdir("/dev/shm") else None


STREAM_TIMEOUT_S = 600


def await_drained(q: StreamingQuery) -> None:
    """Wait for a finite (``availableNow``) query to finish. A query
    still running after ``STREAM_TIMEOUT_S`` is stopped and raises
    ``TimeoutError``, so a stalled stream never hands back a partial
    sink; a query that failed re-raises its exception."""
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not finish within {STREAM_TIMEOUT_S} s"
        )
    err = q.exception()
    if err is not None:
        raise err


# Observability for scale evidence: after each run_to_memory drain,
# this holds the drained stream's per-micro-batch state-operator row
# counts (from StreamingQuery.recentProgress). Peak state rows is THE
# number that matters for ingest-scale claims — O(distinct keys) vs
# O(rows seen) is unverifiable from wall time alone. Read-only
# diagnostics; results are unaffected.
LAST_PROGRESS: dict = {}


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
    expect_unique_key: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow into a memory
    sink; block until drained; return the sink table as a batch
    DataFrame. The driver's rows-only check and pytest both consume
    this.

    ``expect_unique_key`` is the UPDATE-mode safety latch (ADVICE
    r13): the update-mode gates (fuzzy / semantic / DSIR) are correct
    only because every key's rows land in exactly ONE replay
    micro-batch (slice_table_to_dir slices BY the key column, so one
    key value -> one contiguous range -> one slice). If that coupling
    ever breaks — a slicing-key change, an n_slices change that splits
    a key — a key's verdict updates across batches and the raw memory
    sink holds multiple rows for it, breaking hash parity in a
    non-obvious way downstream. Passing the key column name asserts
    sink rows == distinct keys right here, so the breakage names its
    cause at the source instead of surfacing as a bare hash mismatch.

    ``state_partitions`` right-sizes the stateful-operator partition
    count (captured from ``spark.sql.shuffle.partitions`` at stream
    start and then pinned into the checkpoint): one state store per
    partition is instantiated EVERY micro-batch, so a 5-key local agg
    on 32 partitions pays 27 empty stores x n_batches for nothing. At
    scale the same knob is sized UP to keep per-store state within
    executor memory. Results are partition-count independent (cent-sum
    / decimal aggregation throughout). The session value is restored
    after the stream drains."""
    spark = sdf.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option(
                "checkpointLocation",
                checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_", dir=_fast_tmp()),
            )
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)
        global LAST_PROGRESS
        per_batch = [
            sum(op.get("numRowsTotal", 0) for op in (p.get("stateOperators") or []))
            for p in (q.recentProgress or [])
        ]
        LAST_PROGRESS = {
            "n_batches": len(per_batch),
            "state_rows_per_batch": per_batch,
            "peak_state_rows": max(per_batch, default=0),
        }
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.table(name)
    if expect_unique_key is not None:
        import pyspark.sql.functions as F

        r = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(expect_unique_key).alias("k"),
        ).head()
        if r["n"] != r["k"]:
            raise AssertionError(
                f"update-mode sink holds {r['n']} rows for {r['k']} distinct "
                f"{expect_unique_key!r}: a key's rows were split across "
                "micro-batches — check slice_table_to_dir's slicing key"
            )
    return out


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: click -> subsequent purchase by the
    same user within `max_gap` (attribution-join shape). Both sides
    carry watermarks and the join has a two-sided event-time range, so
    state for unmatched rows is evicted once the other side's watermark
    passes -- the combination Structured Streaming requires to bound
    stream-stream join state. Inner + time-bounded means the drained
    (availableNow) result is independent of micro-batch slicing, hence
    SQL-oracle-able."""
    l = (
        left.select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    r = (
        right.select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        ).withWatermark("purchase_ts", watermark)
    )
    return l.join(
        r,
        (l.user_id == r.r_user_id)
        & (r.purchase_ts > l.click_ts)
        & (r.purchase_ts <= l.click_ts + F.expr(f"INTERVAL {max_gap}")),
        "inner",
    ).select("user_id", "click_id", "purchase_id")


def stream_stream_join_outer(
    left: DataFrame,
    right: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with two-sided watermarks: same
    attribution shape as :func:`stream_stream_join`, but a click with no
    purchase in its window emits a NULL row once the watermark passes
    the end of its match window (click_ts + max_gap) — the state
    machine's proof that it evicts, not just buffers. Determinism under
    availableNow: the final no-data batch advances the watermark to
    min(max ts per side) - `watermark`, so exactly the unmatched clicks
    whose window closed before that cut emit nulls — a SQL-expressible
    set."""
    l = (
        left.select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    r = (
        right.select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        ).withWatermark("purchase_ts", watermark)
    )
    return l.join(
        r,
        (l.user_id == r.r_user_id)
        & (r.purchase_ts > l.click_ts)
        & (r.purchase_ts <= l.click_ts + F.expr(f"INTERVAL {max_gap}")),
        "leftOuter",
    ).select("user_id", "click_id", "purchase_id")
