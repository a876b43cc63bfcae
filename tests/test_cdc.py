"""CDC round-trip + lake-sink edge cases (SURVEY.md 5.2 item 5):
envelope encode/decode fidelity, delete tombstones, idempotent replay.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from docker_based_real_time_etl_project_spark.cdc import (
    decode_envelope,
    encode_envelope,
    materialize_latest,
    snapshot_envelopes,
)
from docker_based_real_time_etl_project_spark.lakesnap import snap_read, snap_versions
from docker_based_real_time_etl_project_spark.queries.cdc_q import (
    ROW_SCHEMA,
    make_cdc_snap_sink,
)

ROW = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
)


def _envelopes(spark, rows, cols=("k", "v")):
    """rows: (key, value, op, ts_ms, lsn); ``cols`` names key and value."""
    k, v = cols
    df = spark.createDataFrame(
        rows, f"{k} long, {v} double, op string, ts_ms long, lsn long"
    )
    return encode_envelope(
        df, [k, v], op=F.col("op"), ts_ms=F.col("ts_ms"), lsn=F.col("lsn"), table="t"
    )


def test_envelope_roundtrip_preserves_delete_image(spark):
    env = _envelopes(spark, [(1, 10.0, "c", 100, 1), (1, 10.0, "d", 200, 2)])
    decoded = decode_envelope(env, ROW).orderBy("_lsn").collect()
    assert decoded[0]["_op"] == "c" and decoded[0]["v"] == 10.0
    # delete keeps the before-image keyed fields (the SMT would drop it)
    assert decoded[1]["_op"] == "d" and decoded[1]["k"] == 1 and decoded[1]["v"] == 10.0


def test_materialize_last_writer_wins_and_deletes(spark):
    env = _envelopes(
        spark,
        [
            (1, 10.0, "c", 100, 1),
            (1, 11.0, "u", 200, 2),
            (2, 20.0, "c", 100, 3),
            (2, 20.0, "d", 300, 4),
            (3, 30.0, "c", 300, 5),
            (3, 31.0, "u", 300, 6),  # same ts_ms: lsn breaks the tie
        ],
    )
    state = materialize_latest(decode_envelope(env, ROW), ["k"]).orderBy("k").collect()
    assert [(r.k, r.v) for r in state] == [(1, 11.0), (3, 31.0)]  # 2 deleted


def _sink_batch(spark, rows):
    """rows: (user_id, value, op, ts_ms, lsn) -> a decoded micro-batch in
    the CDC lake sink's row schema."""
    return decode_envelope(_envelopes(spark, rows, ("user_id", "value")), ROW_SCHEMA)


def _live(spark, lake):
    return {
        (r.user_id, r.value)
        for r in snap_read(spark, lake).filter(~F.col("deleted")).collect()
    }


def test_cdc_lake_sink_delete_beats_late_update_and_redelivery_is_idempotent(spark):
    """A delete must survive a later-arriving OLDER update (its
    tombstone row keeps the delete's (ts_ms, lsn)), and re-delivering
    that batch under a NEW batch_id, which the sink's ledger does not
    skip, must leave the state unchanged: the merge itself is
    idempotent by (ts_ms, lsn) order."""
    lake = tempfile.mkdtemp(prefix="cdc_ooo_")
    sink = make_cdc_snap_sink(lake)
    b1 = _sink_batch(
        spark, [(1, 10.0, "c", 100, 1), (2, 20.0, "c", 100, 2), (2, 20.0, "d", 300, 5)]
    )
    # k=2's update is OLDER than its delete in b1
    b2 = _sink_batch(spark, [(2, 25.0, "u", 200, 3), (1, 12.0, "u", 400, 6)])
    sink(b1, 0)
    sink(b2, 1)
    assert _live(spark, lake) == {(1, 12.0)}  # k=2 stays deleted
    sink(b2, 2)  # the same changes again, past the ledger
    assert snap_versions(lake) == [1, 2, 3]

    def rows(v):
        cols = ("user_id", "value", "ts_ms", "lsn", "deleted")
        return sorted(tuple(r) for r in snap_read(spark, lake, v).select(*cols).collect())

    assert rows(3) == rows(2)
    assert (2, 20.0, 300, 5, True) in rows(3)


def test_cdc_lake_sink_snapshot_then_stream_backfill(spark):
    """S6 snapshot.mode=initial: snapshot read events (op='r', ts_ms=0)
    seed the lake; later WAL changes override; unchanged snapshot rows
    survive, in an untouched bucket and in a rewritten one. Exactly
    Debezium's backfill-then-stream contract."""
    lake = tempfile.mkdtemp(prefix="cdc_backfill_")
    sink = make_cdc_snap_sink(lake)
    # bucket = user_id % 8: user 9 shares user 1's bucket, user 4 has
    # a bucket of its own that the WAL batch never touches
    snap_df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (4, 40.0), (9, 90.0)], "user_id long, value double"
    )
    sink(
        decode_envelope(
            snapshot_envelopes(snap_df, ["user_id", "value"], lsn=F.col("user_id"), table="t"),
            ROW_SCHEMA,
        ),
        0,
    )
    assert _live(spark, lake) == {(1, 10.0), (2, 20.0), (4, 40.0), (9, 90.0)}
    # then the WAL stream: k=1 updated, k=3 created, k=2 deleted
    sink(
        _sink_batch(
            spark,
            [(1, 11.0, "u", 100, 10), (3, 30.0, "c", 150, 11), (2, 20.0, "d", 200, 12)],
        ),
        1,
    )
    assert _live(spark, lake) == {(1, 11.0), (3, 30.0), (4, 40.0), (9, 90.0)}


def test_incremental_agg_equals_state_recompute_under_batch_splits(spark):
    """The delta aggregate must be refresh-schedule independent: folding
    the changelog in ANY batch split (the foreachBatch reality) gives
    the same running total as one pass, and both equal the aggregate of
    the fully-materialized state. Covers insert, update, delete, and
    re-insert-after-delete (NULL before-image)."""
    from docker_based_real_time_etl_project_spark.cdc import (
        decode_envelope_images, encode_envelope,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rows = [
        # (lsn, user, value, op, prev_value or None)
        (1, 1, 10.0, "c", None),
        (2, 2, 5.0, "c", None),
        (3, 1, 12.5, "u", 10.0),
        (4, 2, None, "d", 5.0),
        (5, 2, 7.25, "c", None),   # re-insert after delete: NULL before
        (6, 1, None, "d", 12.5),
    ]
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )

    def deltas(df):
        ch = decode_envelope_images(df, schema)
        after_c = F.round(F.col("_after.value") * 100).cast("bigint")
        before_c = F.round(F.col("_before.value") * 100).cast("bigint")
        return ch.select(
            (F.coalesce(after_c, F.lit(0)) - F.coalesce(before_c, F.lit(0))).alias("d"),
            (F.col("_after").isNotNull().cast("long")
             - F.col("_before").isNotNull().cast("long")).alias("dn"),
        ).agg(F.sum("d").alias("cents"), F.sum("dn").alias("keys")).collect()[0]

    def envelopes(subset):
        df = spark.createDataFrame(
            subset, "lsn long, user_id long, value double, op string, prev double"
        )
        before = F.when(
            F.col("prev").isNotNull(),
            F.struct(F.col("user_id"), F.col("prev").alias("value")),
        )
        return encode_envelope(
            df.withColumn("value", F.coalesce("value", "prev")),
            row_cols=["user_id", "value"],
            op=F.col("op"),
            ts_ms=F.col("lsn") * 1000,
            lsn=F.col("lsn"),
            table="t",
            before=before,
        )

    whole = deltas(envelopes(rows))
    # final state: user1 deleted, user2 = 7.25
    assert (whole.cents, whole.keys) == (725, 1)
    # any split point gives the same telescoped totals
    for cut in range(1, len(rows)):
        a, b = deltas(envelopes(rows[:cut])), deltas(envelopes(rows[cut:]))
        assert (a.cents + b.cents, a.keys + b.keys) == (725, 1), f"split at {cut}"


def test_snap_sink_batch_ledger_skips_replayed_batch(spark):
    """The snapshot-lake CDC sink's manifests record the committed
    batch_id; re-invoking the sink with an already-committed batch
    (foreachBatch's at-least-once replay after a crash between commit
    and checkpoint ack) must be a NO-OP — no duplicate lake version."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_meta,
        snap_versions,
    )
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        ROW_SCHEMA,
        _changelog,
        make_cdc_snap_sink,
    )
    from tests.conftest import SF_SMOKE

    decoded = decode_envelope(_changelog(spark, SF_SMOKE), ROW_SCHEMA)
    b0 = decoded.filter(F.col("user_id") % 2 == 0)
    b1 = decoded.filter(F.col("user_id") % 2 == 1)
    lake = tempfile.mkdtemp(prefix="cdc_ledger_")
    sink = make_cdc_snap_sink(lake)

    sink(b0, 0)
    assert snap_versions(lake) == [1]
    sink(b0, 0)  # replayed first batch
    assert snap_versions(lake) == [1], "replayed batch double-committed"
    sink(b1, 1)
    assert snap_versions(lake) == [1, 2]
    sink(b1, 1)  # replayed second batch
    assert snap_versions(lake) == [1, 2]
    assert snap_meta(lake, 1)["batch_id"] == 0
    assert snap_meta(lake, 2)["batch_id"] == 1


def test_cdc_snap_sink_evaluates_batch_once_and_releases_it(spark):
    """A CoW sink call on an existing lake evaluates its micro-batch
    once, reads the lake with its recorded schema and resolves lake ∪
    batch in one ordered merge: every call runs within 7 Spark jobs
    however many commit dirs the read of the touched buckets spans (a
    separate winners join before the merge took 15, 19 and 19 on these
    batches), and every block it cached is released before it
    returns, so a long-running stream piles up no persisted RDDs."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_versions
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        ROW_SCHEMA,
        _changelog,
        make_cdc_snap_sink,
    )
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    decoded = decode_envelope(_changelog(spark, SF_SMOKE), ROW_SCHEMA)
    lake = tempfile.mkdtemp(prefix="cdc_once_")
    sink = make_cdc_snap_sink(lake)
    # each batch holds 3 of the 4 user_id residues, so every call after
    # the first merges into buckets that earlier commits wrote
    sink(decoded.filter(F.col("user_id") % 4 != 0), 0)
    persisted = sc._jsc.getPersistentRDDs().size()
    jobs = []
    for b in range(1, 4):
        group = f"cdc_once_{b}"
        sc.setJobGroup(group, group)
        try:
            sink(decoded.filter(F.col("user_id") % 4 != b), b)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert snap_versions(lake) == [1, 2, 3, 4]
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert max(jobs) <= 7, jobs


def test_cdc_snap_restart_no_double_commit(spark):
    """End-to-end kill-and-restart of the CDC -> snapshot-lake sync:
    stream half the changelog files, stop, deliver the rest, restart
    from the same checkpoint. Exactly one lake version per micro-batch
    (4 files -> versions [1..4], batch_ids strictly increasing) and
    the final tombstone-filtered state equals the batch truth."""
    import os
    import shutil

    from pyspark.sql import Window

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_meta,
        snap_read,
        snap_versions,
    )
    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        ROW_SCHEMA,
        _changelog,
        make_cdc_snap_sink,
    )
    from tests.conftest import SF_SMOKE

    src = tempfile.mkdtemp(prefix="cdc_restart_src_")
    _changelog(spark, SF_SMOKE).withColumn(
        "_bucket", F.ntile(4).over(Window.orderBy("value"))
    ).write.partitionBy("_bucket").mode("overwrite").parquet(src)

    held = [d for d in os.listdir(src) if d in ("_bucket=3", "_bucket=4")]
    assert len(held) == 2
    hold = tempfile.mkdtemp(prefix="cdc_restart_hold_")
    for h in held:
        shutil.move(os.path.join(src, h), os.path.join(hold, h))

    lake = tempfile.mkdtemp(prefix="cdc_restart_lake_")
    sink = make_cdc_snap_sink(lake)

    def run_once():
        stream = (
            spark.readStream.schema(
                T.StructType([T.StructField("value", T.StringType())])
            )
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )
        q = (
            decode_envelope(stream, ROW_SCHEMA)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(lake, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not drain"

    run_once()
    mid_versions = snap_versions(lake)
    assert mid_versions == [1, 2]
    for h in held:
        shutil.move(os.path.join(hold, h), os.path.join(src, h))
    run_once()

    versions = snap_versions(lake)
    assert versions == [1, 2, 3, 4]  # one version per micro-batch, no doubles
    bids = [snap_meta(lake, v)["batch_id"] for v in versions]
    assert bids == sorted(bids) and len(set(bids)) == 4
    final = (
        snap_read(spark, lake)
        .filter(~F.col("deleted"))
        .select("user_id", F.col("value").alias("current_value"))
    )
    truth = REGISTRY["q_cdc_materialize"].fn(spark, SF_SMOKE)
    assert final.exceptAll(truth).count() == 0
    assert truth.exceptAll(final).count() == 0


def test_cdc_snap_sink_maintains_bloom_index(spark):
    """A bloom-indexed CDC-synced snapshot table: the config rides the
    first commit's manifest, so EVERY streaming micro-batch commit
    indexes its new files without sink cooperation — and point lookups
    on the synced key prune files at any point in the history."""
    import os
    import tempfile

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from docker_based_real_time_etl_project_spark.cdc import decode_envelope
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        ROW_SCHEMA,
        _changelog,
        make_cdc_snap_sink,
    )
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _bloom_sidecar_files,
        snap_point_read,
        snap_read,
        snap_versions,
    )
    from pyspark.sql import Window
    from tests.conftest import SF_SMOKE

    envelopes = _changelog(spark, SF_SMOKE)
    src = tempfile.mkdtemp(prefix="cdc_bloom_src_")
    envelopes.withColumn(
        "_bucket", F.ntile(4).over(Window.orderBy("value"))
    ).write.partitionBy("_bucket").mode("overwrite").parquet(src)
    lake = tempfile.mkdtemp(prefix="cdc_bloom_lake_")
    sink = make_cdc_snap_sink(lake, bloom_col="user_id")
    stream = (
        spark.readStream.schema(
            T.StructType([T.StructField("value", T.StringType())])
        )
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    q = (
        decode_envelope(stream, ROW_SCHEMA)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(lake, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    versions = snap_versions(lake)
    assert len(versions) >= 3
    # every commit dir that exists has its sidecar
    commits = [d for d in os.listdir(lake) if d.startswith("c")]
    assert commits
    for c in commits:
        has_data = any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for _, _, fs in os.walk(os.path.join(lake, c))
            for f in fs
        )
        if has_data:  # a data-less commit carries entries only
            assert _bloom_sidecar_files(lake, c), c
    keys = [r[0] for r in snap_read(spark, lake).select("user_id").limit(2).collect()]
    got = snap_point_read(spark, lake, keys)
    want = snap_read(spark, lake).filter(F.col("user_id").isin(keys))
    assert sorted(got.collect()) == sorted(want.collect())


def test_cdc_mor_sink_writes_o_of_changes(spark):
    """The MoR CDC sink's commits carry every prior data entry
    VERBATIM and add only the batch's winner files + old-image delete
    files — per-batch write I/O tracks the changelog. History still
    reads version-per-batch, and the final state matches the CoW
    sink's exactly."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_read,
        snap_versions,
    )
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        _cdc_snap_pipeline,
    )
    from tests.conftest import SF_SMOKE

    cow = _cdc_snap_pipeline(spark, SF_SMOKE, mode="cow")
    mor = _cdc_snap_pipeline(spark, SF_SMOKE, mode="mor")
    vs = snap_versions(mor)
    assert len(vs) >= 3
    for v in vs[1:]:
        prev = _read_manifest(mor, v - 1)
        curm = _read_manifest(mor, v)
        # every pre-existing data entry carried verbatim (no rewrite)
        assert all(e in curm["entries"] for e in prev["entries"])
        # delete debris accumulates monotonically until compaction
        assert len(curm.get("delete_entries") or []) >= len(
            prev.get("delete_entries") or []
        )
    a = snap_read(spark, cow).select("user_id", "value", "deleted")
    b = snap_read(spark, mor).select("user_id", "value", "deleted")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_scd2_stream_arrival_order_independent(spark):
    """The streaming SCD2 build's defining property: the maintained
    dimension is a pure function of the CHANGE SET, not the arrival
    schedule. A change arriving BETWEEN two already-stored versions
    must splice — close the stale valid_to onto the late row and shift
    every later version_no. Replay the same purchases in time order
    and fully REVERSED slice order; both lakes' final states must
    equal the batch q_scd2_build output row-for-row."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_read
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        run_scd2_pipeline,
    )
    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        slice_table_to_dir,
    )

    sf = "/root/testdata/sf0.001"
    cols = ["user_id", "version_no", "value", "valid_from_us", "valid_to_us"]
    truth = sorted(
        tuple(r) for r in REGISTRY["q_scd2_build"].fn(spark, sf).collect()
    )
    assert truth, "fixture must produce versions"
    for order in (None, list(range(5, -1, -1))):
        slices = slice_table_to_dir(
            spark, sf, "events", "ts", n_slices=6, arrival_order=order
        )
        lake = run_scd2_pipeline(spark, slices)
        got = sorted(
            tuple(r) for r in snap_read(spark, lake).select(*cols).collect()
        )
        assert got == truth, f"arrival_order={order}"


def test_scd2_sink_restart_idempotent(spark):
    """Replaying an already-committed batch (foreachBatch's documented
    at-least-once seam) must be a no-op: same version count, same
    final rows."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_read, snap_versions,
    )
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        make_scd2_sink,
    )
    from docker_based_real_time_etl_project_spark.queries.registry import table

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events")
    b0 = ev.filter("event_id % 2 = 0")
    b1 = ev.filter("event_id % 2 = 1")
    lake = tempfile.mkdtemp(prefix="scd2_restart_")
    sink = make_scd2_sink(lake)
    sink(b0, 0)
    sink(b1, 1)
    n_versions = len(snap_versions(lake))
    before = sorted(tuple(r) for r in snap_read(spark, lake).collect())
    sink(b1, 1)  # exact re-delivery after a crash-restart
    assert len(snap_versions(lake)) == n_versions
    after = sorted(tuple(r) for r in snap_read(spark, lake).collect())
    assert after == before
