"""Sinks (SURVEY.md S4/S9/S10; M3).

The reference's two sinks are a JDBC append (``etl.py:181-187``) and a
column-mapped Cassandra writer (``cassandra-sink-config.json:14-18``).
Both are expressed here as ``foreachBatch`` adapters so the same code
serves batch writes and checkpointed streaming writes (at-least-once
from the checkpoint, exactly-once when the target write is idempotent
-- S10). External-system connectors are import-gated. The keyed
upsert-by-PK the Cassandra sink performs for CDC is the snapshot
lake's ordered merge (``queries.cdc_q.make_cdc_snap_sink`` over
``lakesnap.snap_merge``), testable without any container.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mapped_projection(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """S9's field mapping `target_col=value.src_col` as a projection --
    the declarative heart of the Cassandra sink config
    (cassandra-sink-config.json:14-18)."""
    return df.select(*[F.col(src).alias(dst) for dst, src in mapping.items()])


def jdbc_append_writer(
    url: str, table: str, properties: Mapping[str, str] | None = None, batchsize: int = 1000
) -> Callable[[DataFrame, int], None]:
    """S4: `df.to_sql(if_exists='append')` equivalent. Returns a
    foreachBatch function; also callable directly with (df, -1) for a
    batch write. Requires a JDBC driver jar on the classpath at runtime
    -- absent in tests, so this is exercised only via its projection and
    option plumbing."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        writer = (
            batch_df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", str(batchsize))
            .mode("append")
        )
        for k, v in (properties or {}).items():
            writer = writer.option(k, v)
        writer.save()

    return write


def cassandra_sink_options(
    batch_size_rows: int = 32,
    concurrent_writes: int = 500,
    request_timeout_ms: int = 30_000,
) -> dict[str, str]:
    """The reference sink's performance knobs (batch size 32 / 500
    max concurrent requests / 30 s timeout,
    ``cassandra-sink-config.json:10-12``) surfaced as the Spark
    Cassandra Connector's public option keys. Kept as a pure function
    so the mapping is contract-testable without a Cassandra container."""
    return {
        "spark.cassandra.output.batch.size.rows": str(batch_size_rows),
        "spark.cassandra.output.concurrent.writes": str(concurrent_writes),
        "spark.cassandra.connection.timeoutMS": str(request_timeout_ms),
    }


def cassandra_mapped_writer(
    keyspace: str,
    table: str,
    mapping: Mapping[str, str],
    sink_options: Mapping[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """S9: column-mapped write via the Spark Cassandra Connector if its
    jar is present (it is not in this environment -- the adapter raises
    a clear error instead of failing deep inside py4j).
    ``sink_options``: see :func:`cassandra_sink_options`."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        projected = mapped_projection(batch_df, mapping)
        try:
            (
                projected.write.format("org.apache.spark.sql.cassandra")
                .options(keyspace=keyspace, table=table, **(sink_options or {}))
                .mode("append")
                .save()
            )
        except Exception as e:  # pragma: no cover - connector not bundled
            raise RuntimeError(
                "Spark Cassandra Connector jar not on classpath; "
                "add com.datastax.spark:spark-cassandra-connector to spark.jars.packages"
            ) from e

    return write
