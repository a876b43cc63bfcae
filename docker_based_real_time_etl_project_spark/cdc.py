"""CDC ingest: Debezium envelope decode + changelog materialization
(SURVEY.md S6-S8, A4; M3).

The reference's CDC half is config executed by JVM services: Postgres
WAL -> Debezium source connector (``debezium-config.json:4-16``) ->
schema-less JSON envelopes on Kafka topics ``dbserver1.public.<table>``
-> the sink's ``ExtractNewRecordState`` unwrap
(``cassandra-sink-config.json:19-20``). Here the same contract is a
pair of composable operators:

- :func:`decode_envelope` -- S8: parse the JSON envelope with a
  declared schema and surface (op, ts_ms, key fields, after image);
- :func:`materialize_latest` -- A4: compact a changelog to current
  state (last non-delete image per key), the exact semantics the
  reference gets implicitly from Cassandra's upsert-by-PK
  (``cassandra-init.cql:4``).

Works identically on a batch DataFrame of envelopes and on a streaming
one. A stream materializes incrementally: each ``foreachBatch`` call
commits one ordered ``lakesnap.snap_merge`` of its decoded changes by
``(ts_ms, lsn)``, with deletes kept as tombstone rows so a late older
image cannot resurrect a key (``queries.cdc_q.make_cdc_snap_sink``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def envelope_schema(row_schema: T.StructType) -> T.StructType:
    """Debezium change-event envelope for a table with `row_schema`:
    {before, after, source{lsn, ts_ms}, op, ts_ms}. JsonConverter with
    schemas.enable=false (docker-compose.yml:57-58) ships exactly this
    shape, no schema wrapper."""
    return T.StructType(
        [
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("lsn", T.LongType()),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField("table", T.StringType()),
                    ]
                ),
            ),
            T.StructField("op", T.StringType()),  # c | u | d | r (snapshot read)
            T.StructField("ts_ms", T.LongType()),
        ]
    )


def encode_envelope(
    df: DataFrame,
    row_cols: Sequence[str],
    op: Column,
    ts_ms: Column,
    lsn: Column,
    table: str,
    before: Column | None = None,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Wrap rows as Debezium-shaped JSON envelope strings (the test/
    replay producer standing in for Debezium itself). Delete events
    carry `before` and a null `after`, matching the connector.

    ``before`` (a struct column matching the row schema, or NULL where
    the key had no prior image) supplies TRUE before-images the way a
    WAL decoder does — required by delta consumers (incremental
    aggregate maintenance); without it the default before is the
    delete-image-only approximation. ``keep_cols`` ride alongside the
    envelope string (e.g. a timestamp for replay slicing)."""
    after = F.struct(*[F.col(c) for c in row_cols])
    is_del = op == F.lit("d")
    env = F.struct(
        (before if before is not None else F.when(is_del, after)).alias("before"),
        F.when(~is_del, after).alias("after"),
        F.struct(
            lsn.alias("lsn"), ts_ms.alias("ts_ms"), F.lit(table).alias("table")
        ).alias("source"),
        op.alias("op"),
        ts_ms.alias("ts_ms"),
    )
    return df.select(F.to_json(env).alias("value"), *[F.col(c) for c in keep_cols])


def decode_envelope(df: DataFrame, row_schema: T.StructType, value_col: str = "value") -> DataFrame:
    """S8 (ExtractNewRecordState, generalized): JSON envelope string ->
    typed columns (op, ts_ms, lsn, after.*). Unlike the SMT, the delete
    image is preserved (after = before for 'd') so downstream
    compaction can key on it -- the SMT drops deletes entirely unless
    rewritten as tombstones."""
    env = F.from_json(F.col(value_col), envelope_schema(row_schema))
    img = F.coalesce(env["after"], env["before"])
    return df.select(
        env["op"].alias("_op"),
        env["ts_ms"].alias("_ts_ms"),
        env["source"]["lsn"].alias("_lsn"),
        img.alias("_row"),
    ).select("_op", "_ts_ms", "_lsn", "_row.*")


def decode_envelope_images(
    df: DataFrame, row_schema: T.StructType, value_col: str = "value"
) -> DataFrame:
    """Envelope decode keeping BOTH images: (op, ts_ms, lsn, before,
    after) with before/after as structs. The delta form a downstream
    incremental-aggregation consumer needs; `decode_envelope` is the
    collapse-to-one-image form A4 materialization needs."""
    env = F.from_json(F.col(value_col), envelope_schema(row_schema))
    return df.select(
        env["op"].alias("_op"),
        env["ts_ms"].alias("_ts_ms"),
        env["source"]["lsn"].alias("_lsn"),
        env["before"].alias("_before"),
        env["after"].alias("_after"),
    )


def materialize_latest(changes: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """A4: changelog -> current state. Last change per key wins, ordered
    by (ts_ms, lsn) -- lsn is the total-order tiebreaker within a
    millisecond, exactly Debezium's delivery order; a surviving 'd'
    removes the key.

    One shuffle on the key, over the whole changelog given: the batch
    form. A stream applies only each micro-batch's DELTA to a
    partitioned snapshot lake (``queries.cdc_q.make_cdc_snap_sink``),
    never the full history.
    """
    from docker_based_real_time_etl_project_spark.operators.aggregates import latest_per_key

    latest = latest_per_key(
        changes, list(key_cols), [F.col("_ts_ms").desc(), F.col("_lsn").desc()]
    )
    return latest.filter(F.col("_op") != "d").drop("_op", "_ts_ms", "_lsn")


def snapshot_envelopes(
    df: DataFrame, row_cols: Sequence[str], lsn: Column, table: str
) -> DataFrame:
    """S6 snapshot.mode=initial: the connector first emits every existing
    row as a read event (op='r', ts_ms=0 -- before any WAL change), then
    streams changes. Feeding these through the same CDC lake sink gives
    backfill-then-stream: the snapshot seeds state and any subsequent
    change (real ts_ms > 0) wins by the (ts_ms, lsn) order."""
    return encode_envelope(
        df, row_cols, op=F.lit("r"), ts_ms=F.lit(0).cast("long"), lsn=lsn, table=table
    )
