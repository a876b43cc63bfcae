"""CDC query surface (M3): the events table is re-cast as a Debezium
changelog (key=user_id, op derived from event_type, lsn=event_id),
round-tripped through the real JSON envelope encode -> decode -> A4
materialization. The oracle reproduces only the *semantics* (last
non-delete image per key) in SQL -- the JSON envelope plumbing is
exercised on the Spark side and must land on the same state.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docker_based_real_time_etl_project_spark.cdc import (
    decode_envelope,
    decode_envelope_images,
    encode_envelope,
    materialize_latest,
)
from docker_based_real_time_etl_project_spark.queries.registry import (
    dsum, register, sql_dsum, table,
)
from docker_based_real_time_etl_project_spark.streaming.pipelines import await_drained

ROW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# last change per user wins (ms-truncated event time, event_id as the
# within-millisecond total order = Debezium's lsn); a winning 'error'
# (delete) removes the key
_ORACLE = """
SELECT user_id, value AS current_value
FROM (
  SELECT user_id, value, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY epoch_ms(ts) DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
"""


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> Debezium-shaped JSON envelope strings."""
    ev = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "click", "u")
        .otherwise("c")
    )
    return encode_envelope(
        ev,
        row_cols=["user_id", "value"],
        op=op,
        ts_ms=F.unix_millis("ts"),
        lsn=F.col("event_id"),
        table="public.latest_values",
    )


@register("q_cdc_materialize", oracle=_ORACLE, tags=("cdc",))
def q_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+A4 batch: decode the JSON envelope stream and compact to
    current state (last non-delete image per user)."""
    changes = decode_envelope(_changelog(spark, sf_dir), ROW_SCHEMA)
    return materialize_latest(changes, ["user_id"]).select(
        "user_id", F.col("value").alias("current_value")
    )


@register("q_cdc_stream_upsert", oracle=_ORACLE, tags=("cdc", "streaming"))
def q_cdc_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+A4+S10 streaming: the same changelog replayed as a 4-batch
    stream through foreachBatch + the idempotent parquet upsert store;
    the final state hash-matches the batch oracle however the batches
    split."""
    import os

    from pyspark.sql import Window

    from docker_based_real_time_etl_project_spark.sinks import read_state, upsert_parquet_sink

    envelopes = _changelog(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="cdc_src_")
    # 4 deterministic micro-batches in envelope-string order -- i.e. NOT
    # in lsn order, so changes for a key may arrive across batches out of
    # order; the idempotent (ts_ms, lsn) merge must still converge
    envelopes.withColumn(
        "_bucket", F.ntile(4).over(Window.orderBy("value"))
    ).write.partitionBy("_bucket").mode("overwrite").parquet(src)

    state_dir = tempfile.mkdtemp(prefix="cdc_state_")
    stream = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    decoded = decode_envelope(stream, ROW_SCHEMA)
    q = (
        decoded.writeStream.foreachBatch(upsert_parquet_sink(state_dir, ["user_id"]))
        .option("checkpointLocation", os.path.join(state_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return read_state(spark, state_dir).select(
        "user_id", F.col("value").alias("current_value")
    )


@register(
    "q_cdc_agg_incremental",
    oracle="""
    WITH last AS (
      SELECT user_id, value, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    state AS (
      SELECT user_id, value FROM last WHERE rn = 1 AND event_type <> 'error'
    )
    SELECT user_id % 10 AS bucket,
           COUNT(*) AS n_keys,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_value
    FROM state GROUP BY user_id % 10
    """,
    tags=("cdc", "agg"),
)
def q_cdc_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance from a CDC changelog: per-bucket
    COUNT(keys) and SUM(value) maintained purely from change DELTAS
    (+after − before per envelope), never from a state rescan. The
    oracle recomputes the aggregate from the fully-materialized final
    state — the telescoped delta sum must land on the identical result.

    The changelog carries TRUE before-images (synthesized with one LAG
    window in the same (ts_ms, lsn) total order Debezium delivers in,
    exactly what a WAL decoder emits), round-tripped through the real
    JSON envelope encode → decode. Delta rules are image-driven —
    insert: +after; update: +after−before; delete: −before; a re-insert
    after delete has a NULL before and acts as an insert — so the
    aggregate is associative integer-cent addition: map-side partials,
    any merge order, one shuffle on the bucket key. At 100 TB this is
    the continuous-view pattern: O(changes) per refresh instead of
    O(state), with the same plan per micro-batch in foreachBatch.
    """
    envelopes = _before_image_changelog(spark, sf_dir)
    ch = decode_envelope_images(envelopes, ROW_SCHEMA)
    return (
        _bucket_deltas(ch)
        .groupBy("bucket")
        .agg(F.sum("dn").alias("n_keys"), F.sum("delta").alias("total_cents"))
        .filter(F.col("n_keys") > 0)
        .select(
            "bucket",
            "n_keys",
            (F.col("total_cents") / 100.0).alias("total_value"),
        )
    )


def _before_image_changelog(
    spark: SparkSession, sf_dir: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """events -> envelope strings carrying TRUE before-images, the way a
    WAL decoder emits them: one LAG window in the (ts_ms, lsn) delivery
    order supplies each change's prior image (NULL after a delete or
    for a key's first change)."""
    ev = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "click", "u")
        .otherwise("c")
    )
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    staged = ev.select(
        "user_id", "value", "ts", "event_id", op.alias("op")
    ).select(
        "*",
        F.when(
            F.lag("op").over(w) != "d", F.lag("value").over(w)
        ).alias("prev_value"),
    )
    before = F.when(
        F.col("prev_value").isNotNull(),
        F.struct(F.col("user_id"), F.col("prev_value").alias("value")),
    )
    return encode_envelope(
        staged,
        row_cols=["user_id", "value"],
        op=F.col("op"),
        ts_ms=F.unix_millis("ts"),
        lsn=F.col("event_id"),
        table="events",
        before=before,
        keep_cols=keep_cols,
    )


def _bucket_deltas(ch: DataFrame) -> DataFrame:
    """Decoded change images -> (bucket, delta, dn) contribution rows.
    Image-driven: insert +after, update +after-before, delete -before;
    a re-insert after delete has a NULL before and acts as an insert."""
    cents_after = F.round(F.col("_after.value") * 100).cast("bigint")
    cents_before = F.round(F.col("_before.value") * 100).cast("bigint")
    delta = F.coalesce(cents_after, F.lit(0)) - F.coalesce(cents_before, F.lit(0))
    dn = F.col("_after").isNotNull().cast("long") - F.col("_before").isNotNull().cast("long")
    key = F.coalesce(F.col("_after.user_id"), F.col("_before.user_id"))
    return ch.select((key % 10).alias("bucket"), delta.alias("delta"), dn.alias("dn"))


# One changelog-slicing pass per sf_dir per session (the input is
# immutable), mirroring streaming_q._SLICE_CACHE.
_CDC_SLICE_CACHE: dict[str, str] = {}


def _cdc_slices(spark: SparkSession, sf_dir: str, n_slices: int = 4) -> str:
    """Write the before-image changelog as time-ordered text slices so a
    file-source stream replays it as realistic micro-batches (envelope
    JSON lines, one slice per trigger, mtimes stamped in slice order)."""
    import os
    import tempfile
    import time as _time

    if sf_dir in _CDC_SLICE_CACHE:
        return _CDC_SLICE_CACHE[sf_dir]
    env = _before_image_changelog(spark, sf_dir, keep_cols=("ts",))
    qs = [str((i + 1) / n_slices) for i in range(n_slices - 1)]
    bounds = env.selectExpr(
        f"percentile_approx(unix_millis(ts), array({','.join(qs)}), 10000) p"
    ).collect()[0]["p"]
    ms = F.unix_millis("ts")
    slice_idx = F.lit(n_slices - 1)
    for i in range(n_slices - 2, -1, -1):
        slice_idx = F.when(ms <= bounds[i], i).otherwise(slice_idx)
    out = tempfile.mkdtemp(prefix="cdc_stream_")
    (
        env.withColumn("slice", F.format_string("%03d", slice_idx))
        .repartition(n_slices, "slice")
        .select("value", "slice")
        .write.partitionBy("slice")
        .mode("append")
        .text(out)
    )
    base = _time.time()
    for rank in range(n_slices):
        d = os.path.join(out, f"slice={rank:03d}")
        if os.path.isdir(d):
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (base + 2 * rank, base + 2 * rank))
    _CDC_SLICE_CACHE[sf_dir] = out
    return out


@register(
    "q_stream_cdc_agg",
    oracle="""
    WITH last AS (
      SELECT user_id, value, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    state AS (
      SELECT user_id, value FROM last WHERE rn = 1 AND event_type <> 'error'
    )
    SELECT user_id % 10 AS bucket,
           COUNT(*) AS n_keys,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_value
    FROM state GROUP BY user_id % 10
    """,
    tags=("cdc", "streaming", "agg"),
)
def q_stream_cdc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING materialized view: the before-image changelog
    replayed as a multi-micro-batch JSON stream, folded into per-bucket
    COUNT/SUM purely by delta addition inside a streaming aggregation
    (complete mode). Because every delta is associative integer-cent
    arithmetic, the final state is independent of how micro-batches
    split or interleave — so this streaming query carries the SAME
    full-state-recompute oracle as its batch twin q_cdc_agg_incremental.
    This is the end-to-end continuous-view pattern: Debezium-shaped
    transport in, O(changes) state maintenance, hash-exact result out.
    """
    from docker_based_real_time_etl_project_spark.streaming.pipelines import (
        run_to_memory,
    )

    src = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .text(_cdc_slices(spark, sf_dir))
    )
    ch = decode_envelope_images(src, ROW_SCHEMA)
    agg = (
        _bucket_deltas(ch)
        .groupBy("bucket")
        .agg(F.sum("dn").alias("n_keys"), F.sum("delta").alias("total_cents"))
    )
    final = run_to_memory(agg, output_mode="complete", state_partitions=8)
    return final.filter(F.col("n_keys") > 0).select(
        "bucket", "n_keys", (F.col("total_cents") / 100.0).alias("total_value")
    )


@register("q_stream_cdc_lake_merge", oracle=_ORACLE, tags=("cdc", "streaming", "sink"))
def q_stream_cdc_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC stream -> copy-on-write LAKE: the changelog replayed as a
    4-batch stream lands in a partitioned parquet lake via foreachBatch
    + lakewrite.merge_upsert — the production shape for "keep a 100 TB
    lake table in sync with an OLTP source". Per batch: reduce the
    batch to its latest image per key, read back ONLY the touched
    partition dirs (read-modify-write at partition granularity),
    resolve winners by the Debezium total order (ts_ms, lsn), and CoW
    the winners in. Deletes are SOFT (a tombstone column, the
    Hudi/Delta delete-marker practice): the replay deliberately splits
    out of lsn order, so a hard delete could be resurrected by an
    older image arriving in a later batch — the tombstone retains the
    delete's (ts_ms, lsn) so ordering resolves it like any other
    update. Final state filters tombstones and hash-matches the same
    batch oracle as q_cdc_materialize, however the batches split.
    Partition key = pmod(user_id, 8): derived from the key, so the
    CoW immutable-partition-key contract holds by construction."""
    import os

    from docker_based_real_time_etl_project_spark.lakewrite import merge_upsert

    envelopes = _changelog(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="cdc_lake_src_")
    envelopes.withColumn(
        "_bucket", F.ntile(4).over(Window.orderBy("value"))
    ).write.partitionBy("_bucket").mode("overwrite").parquet(src)

    lake = tempfile.mkdtemp(prefix="cdc_lake_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        rows = (
            batch_df.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(8)))
            .withColumn("deleted", F.col("_op") == "d")
            .select(
                "user_id", "bucket", "value",
                F.col("_ts_ms").alias("ts_ms"), F.col("_lsn").alias("lsn"),
                "deleted",
            )
        )
        # latest image per key WITHIN the batch (max_by over the
        # Debezium total order), then resolve against the lake's
        # current row for the key — read-modify-write on touched
        # partitions only
        order = F.struct(F.col("ts_ms"), F.col("lsn"))
        batch_latest = rows.groupBy("user_id", "bucket").agg(
            F.max_by(F.struct("value", "ts_ms", "lsn", "deleted"), order).alias("_w")
        ).select(
            "user_id",
            "bucket",
            F.col("_w.value").alias("value"),
            F.col("_w.ts_ms").alias("ts_ms"),
            F.col("_w.lsn").alias("lsn"),
            F.col("_w.deleted").alias("deleted"),
        )
        from docker_based_real_time_etl_project_spark.lakewrite import (
            _leaf_parquet_files,
        )

        if _leaf_parquet_files(lake):
            touched = batch_latest.select("bucket").distinct()
            cur = (
                s.read.parquet(lake)
                .join(F.broadcast(touched), "bucket", "left_semi")
                .join(
                    F.broadcast(batch_latest.select("user_id").distinct()),
                    "user_id",
                    "left_semi",
                )
            )
            winners = (
                cur.unionByName(batch_latest)
                .groupBy("user_id", "bucket")
                .agg(
                    F.max_by(
                        F.struct("value", "ts_ms", "lsn", "deleted"),
                        F.struct(F.col("ts_ms"), F.col("lsn")),
                    ).alias("_w")
                )
                .select(
                    "user_id", "bucket",
                    F.col("_w.value").alias("value"),
                    F.col("_w.ts_ms").alias("ts_ms"),
                    F.col("_w.lsn").alias("lsn"),
                    F.col("_w.deleted").alias("deleted"),
                )
            )
        else:
            winners = batch_latest
        merge_upsert(
            s, lake, winners,
            key_cols=("user_id",), partition_col="bucket",
        )

    stream = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    decoded = decode_envelope(stream, ROW_SCHEMA)
    q = (
        decoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(lake, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return (
        spark.read.option("pathGlobFilter", "*.parquet").parquet(lake)
        .filter(~F.col("deleted"))
        .select("user_id", F.col("value").alias("current_value"))
    )


def make_cdc_snap_sink(
    lake: str, bloom_col: str | None = None, mode: str = "cow"
):
    """foreachBatch sink committing each CDC micro-batch as ONE
    snapshot-lake version, idempotent under restart: the committed
    batch_id rides in every manifest (snap_merge meta overlay), and a
    REPLAYED batch — foreachBatch re-invoked after a crash between the
    lake commit and the checkpoint ack, Spark's documented
    at-least-once seam — is recognized and skipped, so a restart can
    never double-commit a version. The manifest is the idempotence
    ledger (the same role Delta's txn appId/version pair plays).

    ``mode="mor"`` commits each batch MERGE-ON-READ (round 10): old
    images -> delete files, winners -> seq-stamped data files, so the
    per-batch write cost tracks the CHANGELOG instead of the buckets
    it grazes — the shape a high-rate CDC apply needs at 100 TB, with
    snap_compact_partitions retiring the debris on maintenance
    cadence. Same winners computation, same idempotence ledger, same
    version-per-batch history."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_init,
        snap_merge,
        snap_meta,
        snap_read,
        snap_versions,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if snap_versions(lake):
            last = snap_meta(lake).get("batch_id")
            if last is not None and batch_id <= last:
                return  # replayed batch: already a committed version
        rows = (
            batch_df.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(8)))
            .withColumn("deleted", F.col("_op") == "d")
            .select(
                "user_id", "bucket", "value",
                F.col("_ts_ms").alias("ts_ms"), F.col("_lsn").alias("lsn"),
                "deleted",
            )
        )
        order = F.struct(F.col("ts_ms"), F.col("lsn"))
        batch_latest = rows.groupBy("user_id", "bucket").agg(
            F.max_by(F.struct("value", "ts_ms", "lsn", "deleted"), order).alias("_w")
        ).select(
            "user_id", "bucket",
            F.col("_w.value").alias("value"),
            F.col("_w.ts_ms").alias("ts_ms"),
            F.col("_w.lsn").alias("lsn"),
            F.col("_w.deleted").alias("deleted"),
        )
        if not snap_versions(lake):
            kw = {} if bloom_col is None else {"bloom_col": bloom_col,
                                               "bloom_bits": 8192}
            snap_init(
                s, batch_latest, lake, "bucket", sort_by=("user_id",),
                meta={"batch_id": batch_id}, **kw,
            )
            return
        touched = [
            str(r[0]) for r in batch_latest.select("bucket").distinct().collect()
        ]
        cur = (
            snap_read(s, lake, partitions=touched)
            .join(
                F.broadcast(batch_latest.select("user_id").distinct()),
                "user_id",
                "left_semi",
            )
        )
        winners = (
            cur.select(batch_latest.columns)
            .unionByName(batch_latest)
            .groupBy("user_id", "bucket")
            .agg(
                F.max_by(
                    F.struct("value", "ts_ms", "lsn", "deleted"),
                    F.struct(F.col("ts_ms"), F.col("lsn")),
                ).alias("_w")
            )
            .select(
                "user_id", "bucket",
                F.col("_w.value").alias("value"),
                F.col("_w.ts_ms").alias("ts_ms"),
                F.col("_w.lsn").alias("lsn"),
                F.col("_w.deleted").alias("deleted"),
            )
        )
        snap_merge(
            s, lake, winners, key_cols=("user_id",), sort_by=("user_id",),
            meta={"batch_id": batch_id}, mode=mode,
        )

    return sink


def _cdc_snap_pipeline(
    spark: SparkSession, sf_dir: str, mode: str = "cow"
) -> str:
    """The q_stream_cdc_lake_merge pipeline retargeted at the SNAPSHOT
    lake (lakesnap): every micro-batch commits one immutable version,
    so the sink leaves behind not just the synced table but its entire
    replayable history — version k IS the lake after changelog batch k
    (time travel over the sync, the audit/backfill story a CDC
    consumer actually needs). Returns the lake path; the query reads
    the LATEST version, tests walk the history."""
    import os

    envelopes = _changelog(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="cdc_snap_src_")
    envelopes.withColumn(
        "_bucket", F.ntile(4).over(Window.orderBy("value"))
    ).write.partitionBy("_bucket").mode("overwrite").parquet(src)

    lake = tempfile.mkdtemp(prefix="cdc_snap_lake_")
    sink = make_cdc_snap_sink(lake, mode=mode)

    stream = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    decoded = decode_envelope(stream, ROW_SCHEMA)
    q = (
        decoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(lake, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return lake


@register("q_stream_cdc_snap_merge", oracle=_ORACLE, tags=("cdc", "streaming", "sink", "lakesnap"))
def q_stream_cdc_snap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC stream -> SNAPSHOT lake: q_stream_cdc_lake_merge's
    out-of-lsn-order replay and soft-delete tombstone resolution, but
    every micro-batch is one atomic manifest commit — the sink
    produces the synced table AND its full version history (batch k's
    state = version k, time-travel-readable until vacuumed; pinned in
    tests/test_lakesnap.py). The final tombstone-filtered state
    hash-matches the same oracle as q_cdc_materialize, so correctness
    of the versioned path is held to the identical bar as the
    plain-parquet CoW sink."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_read

    lake = _cdc_snap_pipeline(spark, sf_dir)
    return (
        snap_read(spark, lake)
        .filter(~F.col("deleted"))
        .select("user_id", F.col("value").alias("current_value"))
    )


@register("q_stream_cdc_mor_merge", oracle=_ORACLE, tags=("cdc", "streaming", "sink", "lakesnap"))
def q_stream_cdc_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC stream -> snapshot lake with every micro-batch committed
    MERGE-ON-READ (the round-10 O(changes) CDC-apply shape): identical
    winners computation and batch-id idempotence ledger as
    q_stream_cdc_snap_merge, but each commit writes only old-image
    delete files + the batch's winner rows — per-batch I/O tracks the
    changelog, never the bucket partitions it grazes. The final state
    is read STRAIGHT THROUGH the accumulated delete debris (no
    compaction first — the read-side anti-join is the semantics under
    test) and hash-matches the same q_cdc_materialize oracle, holding
    the MoR sink to the identical bar as the CoW versioned sink and
    the plain-parquet sink."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_read

    lake = _cdc_snap_pipeline(spark, sf_dir, mode="mor")
    return (
        snap_read(spark, lake)
        .filter(~F.col("deleted"))
        .select("user_id", F.col("value").alias("current_value"))
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view (signed-delta algebra)
# ---------------------------------------------------------------------------

# Deterministic change sets a SQL oracle can restate exactly:
#   orders:   key%89==1 -> price +500 (update); key%89==2 -> delete;
#             key%101==7 -> re-insert under key+3e9 (same customer)
#   customer: key%31==4 -> acctbal +100 (update)
_IVM_O_UPD = "o_orderkey % 89 = 1"
_IVM_O_DEL = "o_orderkey % 89 = 2"
_IVM_O_INS = "o_orderkey % 101 = 7"
_IVM_C_UPD = "c_custkey % 31 = 4"


@register(
    "q_ivm_join_delta",
    oracle=f"""
    WITH o2 AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               CASE WHEN {_IVM_O_UPD} THEN o_totalprice + 500.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE NOT ({_IVM_O_DEL})
        UNION ALL
        SELECT o_orderkey + 3000000000, o_custkey, o_orderpriority, o_totalprice
        FROM orders WHERE {_IVM_O_INS}
    ),
    c2 AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN {_IVM_C_UPD} THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer
    )
    SELECT c2.c_mktsegment, o2.o_orderpriority,
           COUNT(*) AS n_rows,
           {{dp}} AS total_price,
           {{db}} AS total_bal
    FROM o2 JOIN c2 ON o2.o_custkey = c2.c_custkey
    GROUP BY c2.c_mktsegment, o2.o_orderpriority
    """.format(
        dp=sql_dsum("o2.o_totalprice"), db=sql_dsum("c2.c_acctbal")
    ),
    tags=("cdc", "ivm", "scale"),
)
def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE FOR A JOIN VIEW: an aggregate over
    orders JOIN customer is rolled forward under changes to BOTH base
    tables with the classic SIGNED-DELTA algebra (each update is a
    (-old, +new) pair; deletes -old, inserts +new):

        dV = dO >< C  +  O >< dC  +  dO >< dC

    so the maintained aggregate = base + the three delta joins'
    signed contributions — the full join is NEVER recomputed. Cost at
    100 TB: dO >< C joins the changelog against the dimension (keyed,
    broadcast when small), O >< dC scans only the fact rows of changed
    customers (semi-joinable), dO >< dC is changelog-sized; the
    base aggregate is the stored matview. The oracle recomputes the
    aggregate DIRECTLY from the post-change tables, so the hash proves
    the signed algebra exact — including the cross term (an updated
    order of an updated customer must count its new price against the
    new balance exactly once). Both metric sums ride decimal, and the
    count is a signed sum, so multiplicities cancel bit-exactly."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    upd, dele, ins = F.expr(_IVM_O_UPD), F.expr(_IVM_O_DEL), F.expr(_IVM_O_INS)

    def signed(df, sign):
        return df.withColumn("s", F.lit(sign))

    d_o = (
        signed(o.filter(upd), -1)
        .unionByName(
            signed(
                o.filter(upd).withColumn(
                    "o_totalprice", F.col("o_totalprice") + 500.0
                ),
                +1,
            )
        )
        .unionByName(signed(o.filter(dele), -1))
        .unionByName(
            signed(
                o.filter(ins).withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(3_000_000_000)
                ),
                +1,
            )
        )
    )
    cu = F.expr(_IVM_C_UPD)
    d_c = signed(c.filter(cu), -1).unionByName(
        signed(
            c.filter(cu).withColumn("c_acctbal", F.col("c_acctbal") + 100.0),
            +1,
        )
    )

    from docker_based_real_time_etl_project_spark.functions import (
        DEC,
        _dec_to_double,
    )

    keys = ["c_mktsegment", "o_orderpriority"]

    def agg(df):
        # DECIMAL partials all the way: the outer fold of the four
        # terms must be order-independent, so nothing drops to double
        # until the single final conversion
        return df.groupBy(*keys).agg(
            F.sum("s").alias("n_rows"),
            F.sum(
                F.col("s") * F.col("o_totalprice").cast(DEC)
            ).alias("total_price"),
            F.sum(F.col("s") * F.col("c_acctbal").cast(DEC)).alias("total_bal"),
        )

    base = agg(o.join(c, o.o_custkey == c.c_custkey).withColumn("s", F.lit(1)))
    t1 = agg(
        d_o.join(c, d_o.o_custkey == c.c_custkey)  # dO >< C, sign from dO
    )
    t2 = agg(
        o.withColumn("so", F.lit(1))
        .join(d_c, o.o_custkey == d_c.c_custkey)  # O >< dC, sign from dC
        .drop("so")
    )
    t3 = agg(  # dO >< dC: sign product
        d_o.withColumnRenamed("s", "so")
        .join(
            d_c.withColumnRenamed("s", "sc"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .withColumn("s", F.col("so") * F.col("sc"))
    )
    total = base.unionByName(t1).unionByName(t2).unionByName(t3)
    return (
        total.groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            _dec_to_double(F.sum("total_price")).alias("total_price"),
            _dec_to_double(F.sum("total_bal")).alias("total_bal"),
        )
        .filter(F.col("n_rows") > 0)
    )


def _ivm_lake_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Two snapshot tables with one committed change batch each:
    orders v2 = the standard deterministic merge batch (upserts +
    tombstones + inserts, the q_lake_merge restatement), customer v2 =
    an UPDATE WHERE on acctbal. Their snap_diff change feeds drive the
    join-view maintenance in q_lake_ivm_join."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_init,
        snap_merge,
        snap_update_where,
    )
    from docker_based_real_time_etl_project_spark.queries.materialize import (
        materialize_once,
        table_fingerprint,
    )
    from docker_based_real_time_etl_project_spark.queries.sources_q import (
        _merge_updates,
    )

    def build() -> str:
        o_lake = tempfile.mkdtemp(prefix="ivm_orders_lake_")
        snap_init(
            spark,
            table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
            ),
            o_lake,
            "o_orderpriority",
            sort_by=("o_orderkey",),
        )
        assert snap_merge(
            spark, o_lake,
            _merge_updates(spark, sf_dir).select(
                "o_orderkey", "o_custkey", "o_orderpriority",
                "o_totalprice", "_delete",
            ),
            key_cols=("o_orderkey",), delete_col="_delete",
            sort_by=("o_orderkey",),
        ) == 2
        c_lake = tempfile.mkdtemp(prefix="ivm_customer_lake_")
        snap_init(
            spark,
            table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment", "c_acctbal"
            ),
            c_lake,
            "c_mktsegment",
            sort_by=("c_custkey",),
        )
        assert snap_update_where(
            spark, c_lake, _IVM_C_UPD,
            {"c_acctbal": "c_acctbal + 100.0"}, sort_by=("c_custkey",),
        ) == 2
        return o_lake + "\n" + c_lake

    pair = materialize_once(
        (
            "ivm_lake_pair", sf_dir,
            table_fingerprint(sf_dir, "orders"),
            table_fingerprint(sf_dir, "customer"),
        ),
        build,
    )
    o_lake, c_lake = pair.split("\n")
    return o_lake, c_lake


@register(
    "q_lake_ivm_join",
    oracle=f"""
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               o_totalprice + 1000.0 AS o_totalprice, FALSE AS del
        FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 103 <> 5
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice, TRUE
        FROM orders WHERE o_orderkey % 103 = 5
        UNION ALL
        SELECT o_orderkey + 2000000000, o_custkey, o_orderpriority,
               o_totalprice, FALSE
        FROM orders WHERE o_orderkey % 101 = 3
    ),
    o2 AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, o.o_totalprice
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        FROM upd WHERE NOT del
    ),
    c2 AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN {_IVM_C_UPD} THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer
    )
    SELECT c2.c_mktsegment, o2.o_orderpriority,
           COUNT(*) AS n_rows,
           {{dp}} AS total_price,
           {{db}} AS total_bal
    FROM o2 JOIN c2 ON o2.o_custkey = c2.c_custkey
    GROUP BY c2.c_mktsegment, o2.o_orderpriority
    """.format(
        dp=sql_dsum("o2.o_totalprice"), db=sql_dsum("c2.c_acctbal")
    ),
    tags=("cdc", "ivm", "lakesnap", "scale"),
)
def q_lake_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-VIEW MAINTENANCE DRIVEN BY THE LAKE'S OWN CHANGE FEED:
    q_ivm_join_delta's signed-delta algebra, but the deltas are not
    synthesized — they come from ``snap_diff`` over two snapshot
    tables' committed histories (orders: a CoW merge with upserts,
    tombstones, and inserts; customer: an UPDATE WHERE), i.e. the Delta
    CDF -> incremental-matview pipeline end to end. Each diff row
    explodes into its signed images ((-old, +new) for updates), the
    three delta joins run against the V1 base tables, and the
    maintained aggregate hash-matches the oracle's DIRECT recompute
    from the post-change tables. At 100 TB the change feed is
    manifest-pruned to partitions that can differ, and the maintenance
    cost is O(changes) x join fanout — the matview never rescans."""
    from docker_based_real_time_etl_project_spark.functions import (
        DEC,
        _dec_to_double,
    )
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_diff,
        snap_read,
    )

    o_lake, c_lake = _ivm_lake_pair(spark, sf_dir)
    o1 = snap_read(spark, o_lake, 1)
    c1 = snap_read(spark, c_lake, 1)

    def images(diff, key, fields):
        old = diff.filter(F.col("_old").isNotNull()).select(
            F.col(key),
            *[F.col(f"_old.{f}").alias(f) for f in fields],
            F.lit(-1).alias("s"),
        )
        new = diff.filter(F.col("_new").isNotNull()).select(
            F.col(key),
            *[F.col(f"_new.{f}").alias(f) for f in fields],
            F.lit(1).alias("s"),
        )
        return old.unionByName(new)

    d_o = images(
        snap_diff(spark, o_lake, 1, 2, ["o_orderkey"]),
        "o_orderkey",
        ["o_custkey", "o_orderpriority", "o_totalprice"],
    )
    d_c = images(
        snap_diff(spark, c_lake, 1, 2, ["c_custkey"]),
        "c_custkey",
        ["c_mktsegment", "c_acctbal"],
    )

    keys = ["c_mktsegment", "o_orderpriority"]

    def agg(df):
        return df.groupBy(*keys).agg(
            F.sum("s").alias("n_rows"),
            F.sum(F.col("s") * F.col("o_totalprice").cast(DEC)).alias(
                "total_price"
            ),
            F.sum(F.col("s") * F.col("c_acctbal").cast(DEC)).alias("total_bal"),
        )

    base = agg(
        o1.join(c1, o1.o_custkey == c1.c_custkey).withColumn("s", F.lit(1))
    )
    t1 = agg(d_o.join(c1, d_o.o_custkey == c1.c_custkey))
    t2 = agg(o1.join(d_c, o1.o_custkey == d_c.c_custkey))
    t3 = agg(
        d_o.withColumnRenamed("s", "so")
        .join(
            d_c.withColumnRenamed("s", "sc"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .withColumn("s", F.col("so") * F.col("sc"))
    )
    total = base.unionByName(t1).unionByName(t2).unionByName(t3)
    return (
        total.groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            _dec_to_double(F.sum("total_price")).alias("total_price"),
            _dec_to_double(F.sum("total_bal")).alias("total_bal"),
        )
        .filter(F.col("n_rows") > 0)
    )


# ---------------------------------------------------------------------------
# IVM for NON-distributive aggregates: dirty-group recompute
# ---------------------------------------------------------------------------

# Deterministic change batch, keyed on o_orderkey (delete wins over
# update when the moduli coincide at large key ranges):
_MM_DEL = "o_orderkey % 1999 = 3"
_MM_UPD = "o_orderkey % 2003 = 5"
_MM_INS = "o_orderkey % 2011 = 7"
_MM_GROUPS = 512  # view group key: o_custkey % 512


@register(
    "q_ivm_minmax",
    oracle=f"""
    WITH o2 AS (
        SELECT o_custkey,
               CASE WHEN {_MM_UPD} THEN o_totalprice * 0.5
                    ELSE o_totalprice END AS p
        FROM orders WHERE NOT ({_MM_DEL})
        UNION ALL
        SELECT o_custkey, o_totalprice + 100000.0
        FROM orders WHERE {_MM_INS}
    )
    SELECT o_custkey % {_MM_GROUPS} AS g,
           COUNT(*) AS n_rows,
           MAX(p) AS max_price,
           MIN(p) AS min_price
    FROM o2 GROUP BY g
    """,
    tags=("cdc", "ivm", "scale"),
)
def q_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM FOR NON-DISTRIBUTIVE AGGREGATES (the MIN/MAX deletion
    problem): q_ivm_join_delta's signed-delta algebra cannot maintain
    MAX/MIN — deleting the group's current maximum gives the view no
    way to know the runner-up without looking back at the base table.
    The production answer (DBToaster/Materialize call these
    "non-decomposable"; Delta/Snowflake matviews do the same) is
    DIRTY-GROUP RECOMPUTE: the change batch marks the groups it
    touches, ONLY those groups re-aggregate from the post-change
    table, and the untouched groups are served verbatim from the
    stored matview. Here the change batch (deletes that can remove a
    max, halving updates that can demote one, inserts that can raise
    one) touches ~24 of 512 groups, so the maintained view =
    matview ANTI-JOIN dirty  UNION  agg(base SEMI-JOIN dirty) — at
    100 TB the semi-join prunes the rescan to the dirty groups'
    partitions (the group key is the natural clustering key for a
    maintained view) and the broadcast dirty set costs one scan of
    the changelog. The oracle recomputes every group directly from
    the post-change table, so a single stale clean-group row or a
    missed runner-up promotion hash-fails. MAX/MIN over doubles are
    selections (order-independent), so no decimal hop is needed;
    the halved/boosted prices are per-row double ops, which are
    bit-deterministic across engines.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    g = (F.col("o_custkey") % _MM_GROUPS).alias("g")
    dele, upd, ins = F.expr(_MM_DEL), F.expr(_MM_UPD), F.expr(_MM_INS)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("p").alias("max_price"),
            F.min("p").alias("min_price"),
        )

    # The stored matview over V1 (in production this is a lake table;
    # recomputing it here stands in for reading it).
    matview = agg(o.select(g, F.col("o_totalprice").alias("p")))

    # Change batch -> dirty group set. Every image (old or new) of a
    # changed row marks its group; updates/deletes/inserts here never
    # move a row across groups (g rides o_custkey), so old-image
    # groups cover it — a group-changing update would mark both.
    dirty = (
        o.filter(dele | upd | ins).select(g).distinct()
    )

    # Post-change table (in production: the table after the DML batch).
    v2 = (
        o.filter(~dele)
        .select(
            g,
            F.when(upd, F.col("o_totalprice") * 0.5)
            .otherwise(F.col("o_totalprice"))
            .alias("p"),
        )
        .unionByName(
            o.filter(ins).select(g, (F.col("o_totalprice") + 100000.0).alias("p"))
        )
    )

    clean = matview.join(F.broadcast(dirty), "g", "left_anti")
    recomputed = agg(v2.join(F.broadcast(dirty), "g", "left_semi"))
    return clean.unionByName(recomputed)


# ---------------------------------------------------------------------------
# SCD Type-2: changelog -> validity-interval dimension, and the fact join
# ---------------------------------------------------------------------------

_SCD2_WINDOW_SQL = "(PARTITION BY user_id ORDER BY ts, event_id)"


@register(
    "q_scd2_build",
    oracle=f"""
    SELECT user_id,
           CAST(ROW_NUMBER() OVER {_SCD2_WINDOW_SQL} AS BIGINT) AS version_no,
           value,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER {_SCD2_WINDOW_SQL} AS valid_to_us
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("cdc", "scd2", "window"),
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 DIMENSION BUILD: the warehouse pattern the CDC
    surface lacked — a change stream (each 'purchase' event is a new
    version of its user's attribute) becomes a versioned dimension
    with explicit VALIDITY INTERVALS: valid_from = the change's event
    time, valid_to = the NEXT change's event time (exclusive), NULL =
    the open current version. One window over (user, event-time,
    event_id-tiebreak) produces version numbers and the lead-shifted
    interval ends — a single keyed exchange, no self-join (the naive
    build joins each change to its successor). At 100 TB the window
    partitions by the dimension key, so state per task is one user's
    history; intervals land as epoch MICROS (timezone-independent,
    exact) rather than rendered timestamps. Oracled by the identical
    window algebra in DuckDB."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version_no"),
        "value",
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
    )


@register(
    "q_scd2_interval_join",
    oracle=f"""
    WITH dim AS (
        SELECT user_id, value AS dim_value,
               epoch_us(ts) AS valid_from_us,
               LEAD(epoch_us(ts)) OVER {_SCD2_WINDOW_SQL} AS valid_to_us
        FROM events WHERE event_type = 'purchase'
    ),
    f AS (
        SELECT user_id, epoch_us(ts) AS f_us, value AS f_value
        FROM events WHERE event_type = 'view'
    )
    SELECT f.user_id,
           COUNT(*) AS n_views,
           {sql_dsum("dim.dim_value")} AS total_dim_value,
           {sql_dsum("f.f_value")} AS total_view_value
    FROM f JOIN dim
      ON f.user_id = dim.user_id
     AND f.f_us >= dim.valid_from_us
     AND (dim.valid_to_us IS NULL OR f.f_us < dim.valid_to_us)
    GROUP BY f.user_id
    """,
    tags=("cdc", "scd2", "join"),
)
def q_scd2_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 FACT ENRICHMENT: every 'view' fact joins the dimension
    version that was VALID AT ITS EVENT TIME — the equality key
    (user_id) drives the shuffle and the validity interval
    [valid_from, valid_to) is a cheap post-join residual, the same
    scalable theta-with-equi-component shape as q_join_range. Facts
    before the user's first version match nothing and drop (inner
    semantics, stated). Because validity intervals partition each
    user's timeline, every fact matches AT MOST one version — the
    aggregate would double-count under any interval-construction bug,
    so the count per user doubles as an exactly-once pin. At 100 TB
    the dimension is orders-of-magnitude smaller than facts and
    broadcast-joins; here both sides shuffle on user_id. The sums ride
    the decimal hop; the oracle restates build + join directly."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_id").alias("d_eid"),
            F.col("value").alias("dim_value"),
            us.alias("valid_from_us"),
        )
        .withColumn(
            "valid_to_us",
            # event_id tiebreak mirrors the oracle's (ts, event_id)
            # order exactly — valid_from_us is a monotone map of ts,
            # so a same-microsecond tie must break identically or the
            # zero-length version lands on a different value.
            F.lead("valid_from_us").over(
                Window.partitionBy("d_user").orderBy("valid_from_us", "d_eid")
            ),
        )
        .drop("d_eid")
    )
    f = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("f_us"), F.col("value").alias("f_value")
    )
    joined = f.join(
        dim,
        (f.user_id == dim.d_user)
        & (f.f_us >= dim.valid_from_us)
        & (dim.valid_to_us.isNull() | (f.f_us < dim.valid_to_us)),
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        dsum("dim_value").alias("total_dim_value"),
        dsum("f_value").alias("total_view_value"),
    )


@register(
    "q_stream_scd2_build",
    oracle=f"""
    SELECT user_id,
           CAST(ROW_NUMBER() OVER {_SCD2_WINDOW_SQL} AS BIGINT) AS version_no,
           value,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER {_SCD2_WINDOW_SQL} AS valid_to_us
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("cdc", "scd2", "streaming", "lakesnap"),
)
def q_stream_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 MAINTENANCE: the q_scd2_build dimension kept
    current while the change stream arrives in micro-batches — the
    live warehouse shape (Debezium -> dimension table) the batch build
    only bootstraps. Each batch marks its DIRTY USERS, reads back only
    their existing version rows (partition-pruned to the dirty buckets
    + broadcast semi-join), re-windows those users' full histories
    with the incoming changes folded in, and upserts the re-versioned
    rows as one atomic snapshot-lake commit keyed on (user,
    valid_from, change id) — a change NEVER rewrites another user's
    versions, so per-batch cost is O(dirty users' histories), the
    dirty-group recompute discipline of q_ivm_minmax applied to
    interval maintenance. Version numbers and interval ends are
    recomputed per dirty user, so out-of-order arrival (a change
    landing BETWEEN two already-stored versions) splices correctly:
    the stale valid_to closes onto the late row and every version_no
    after it shifts — which is exactly why SCD2 under OOO cannot be an
    append-only sink. The manifest batch_id ledger makes restarts
    idempotent (same as the CDC snapshot sinks). The final dimension
    hash-matches the SAME oracle as the batch build: stream-then-read
    must equal build-once, per value, per interval end, per version
    number."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_read
    from docker_based_real_time_etl_project_spark.queries.streaming_q import (
        _slices,
    )

    lake = run_scd2_pipeline(spark, _slices(spark, sf_dir))
    return snap_read(spark, lake).select(
        "user_id", "version_no", "value", "valid_from_us", "valid_to_us"
    )


def make_scd2_sink(lake: str, mode: str = "cow"):
    """foreachBatch sink maintaining the SCD2 dimension in a snapshot
    lake — the dirty-user recompute described in q_stream_scd2_build's
    docstring, factored out so tests can drive it with adversarial
    arrival orders. ``mode="mor"`` commits each batch merge-on-read
    (old version rows -> delete files, re-versioned rows -> seq-stamped
    data files), so per-batch write I/O tracks the dirty users'
    histories instead of the bucket partitions they sit in."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_init,
        snap_merge,
        snap_meta,
        snap_read,
        snap_versions,
    )

    out_cols = ["user_id", "bucket", "event_id", "value", "valid_from_us"]

    def reversion(rows: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
        return rows.select(*out_cols).withColumn(
            "version_no", F.row_number().over(w).cast("bigint")
        ).withColumn("valid_to_us", F.lead("valid_from_us").over(w))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        ch = (
            batch_df.filter(F.col("event_type") == "purchase")
            .select(
                "user_id",
                F.pmod(F.col("user_id"), F.lit(8)).alias("bucket"),
                "event_id",
                "value",
                F.unix_micros(F.col("ts")).alias("valid_from_us"),
            )
        )
        if ch.isEmpty():
            return
        if not snap_versions(lake):
            snap_init(
                s, reversion(ch), lake, "bucket",
                sort_by=("user_id", "valid_from_us"),
                meta={"batch_id": batch_id},
            )
            return
        last = snap_meta(lake).get("batch_id")
        if last is not None and batch_id <= last:
            return  # replayed batch: already a committed version
        dirty = ch.select("user_id").distinct()
        touched = [
            str(r[0]) for r in ch.select("bucket").distinct().collect()
        ]
        cur = snap_read(s, lake, partitions=touched).join(
            F.broadcast(dirty), "user_id", "left_semi"
        )
        snap_merge(
            s, lake,
            reversion(cur.select(*out_cols).unionByName(ch.select(*out_cols))),
            key_cols=("user_id", "valid_from_us", "event_id"),
            sort_by=("user_id", "valid_from_us"),
            meta={"batch_id": batch_id},
            mode=mode,
        )

    return sink


def run_scd2_pipeline(
    spark: SparkSession, slices_dir: str, mode: str = "cow"
) -> str:
    """Drive make_scd2_sink over a replayed slice dir (any arrival
    order); returns the dimension lake path."""
    import os

    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_events,
    )

    lake = tempfile.mkdtemp(prefix="scd2_lake_")
    q = (
        replay_events(spark, slices_dir)
        .writeStream.foreachBatch(make_scd2_sink(lake, mode=mode))
        .option("checkpointLocation", os.path.join(lake, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return lake


@register(
    "q_lake_ivm_minmax",
    oracle=f"""
    WITH upd AS (
        SELECT o_orderkey, o_custkey,
               o_totalprice + 1000.0 AS o_totalprice, FALSE AS del
        FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 103 <> 5
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, TRUE
        FROM orders WHERE o_orderkey % 103 = 5
        UNION ALL
        SELECT o_orderkey + 2000000000, o_custkey, o_totalprice, FALSE
        FROM orders WHERE o_orderkey % 101 = 3
    ),
    o2 AS (
        SELECT o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT o_custkey, o_totalprice FROM upd WHERE NOT del
    )
    SELECT o_custkey % {_MM_GROUPS} AS g,
           COUNT(*) AS n_rows,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price
    FROM o2 GROUP BY g
    """,
    tags=("cdc", "ivm", "lakesnap", "scale"),
)
def q_lake_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX VIEW MAINTENANCE DRIVEN BY THE LAKE'S OWN CHANGE FEED —
    closes the IVM matrix: {signed-delta, dirty-group} algebra x
    {synthetic deltas, snap_diff change feed}. The orders snapshot
    table has one committed CoW merge (upserts that RAISE prices,
    tombstones that can DELETE a group's maximum, inserts); the diff
    between v1 and v2 marks the dirty groups (~rows-touched/512 of the
    groups, from BOTH images so a group-crossing change would mark
    both sides), the stored v1 matview serves every clean group
    verbatim, and only the dirty groups re-aggregate from the v2 read
    — which is manifest-pruned to the partitions the dirty groups live
    in at scale. The oracle recomputes every group directly from the
    post-change restatement, so a stale clean row, a missed runner-up
    promotion after a tombstoned max, or an unmarked dirty group all
    hash-fail."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_diff,
        snap_read,
    )

    o_lake, _ = _ivm_lake_pair(spark, sf_dir)
    g = (F.col("o_custkey") % _MM_GROUPS).alias("g")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("p").alias("max_price"),
            F.min("p").alias("min_price"),
        )

    v1 = snap_read(spark, o_lake, 1)
    matview = agg(v1.select(g, F.col("o_totalprice").alias("p")))

    diff = snap_diff(spark, o_lake, 1, 2, ["o_orderkey"])
    dirty = (
        diff.select(
            F.coalesce(
                F.col("_new.o_custkey"), F.col("_old.o_custkey")
            ).alias("ck")
        )
        .unionByName(
            diff.filter(F.col("_old").isNotNull()).select(
                F.col("_old.o_custkey").alias("ck")
            )
        )
        .select((F.col("ck") % _MM_GROUPS).alias("g"))
        .distinct()
    )

    v2 = snap_read(spark, o_lake, 2).select(
        g, F.col("o_totalprice").alias("p")
    )
    clean = matview.join(F.broadcast(dirty), "g", "left_anti")
    recomputed = agg(v2.join(F.broadcast(dirty), "g", "left_semi"))
    return clean.unionByName(recomputed)


@register(
    "q_stream_scd2_mor",
    oracle=f"""
    SELECT user_id,
           CAST(ROW_NUMBER() OVER {_SCD2_WINDOW_SQL} AS BIGINT) AS version_no,
           value,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER {_SCD2_WINDOW_SQL} AS valid_to_us
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("cdc", "scd2", "streaming", "lakesnap"),
)
def q_stream_scd2_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_stream_scd2_build with every micro-batch committed
    MERGE-ON-READ: the dirty users' superseded version rows become
    equality-delete files and their re-versioned rows seq-stamped data
    files — per-batch write I/O is O(dirty users' histories), never
    the bucket partitions they live in, the same trade the MoR CDC
    sink makes. The final dimension is read STRAIGHT THROUGH the
    accumulated delete debris (no compaction first — the read-side
    reconciliation is the semantics under test) and hash-matches the
    SAME oracle as the batch build and the CoW stream."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_read
    from docker_based_real_time_etl_project_spark.queries.streaming_q import (
        _slices,
    )

    lake = run_scd2_pipeline(spark, _slices(spark, sf_dir), mode="mor")
    return snap_read(spark, lake).select(
        "user_id", "version_no", "value", "valid_from_us", "valid_to_us"
    )
