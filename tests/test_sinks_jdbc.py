"""S4 JDBC append sink, exercised END-TO-END against embedded Derby
(the derby jars ship inside pyspark/jars, so the real Spark JDBC write
path -- dialect, DDL, batched inserts -- runs with no external DB).

Mirrors the reference's `df.to_sql(..., if_exists='append')` contract
(etl.py:181-187): first write creates the table, subsequent writes
append, read-back sees the union.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark.sinks import (
    cassandra_sink_options,
    jdbc_append_writer,
    mapped_projection,
)

URL = "jdbc:derby:memory:graftdb;create=true"
PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _read(spark, table):
    reader = spark.read.format("jdbc").option("url", URL).option("dbtable", table)
    for k, v in PROPS.items():
        reader = reader.option(k, v)
    return reader.load()


def test_jdbc_append_roundtrip(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(2)
    )
    n = df.count()
    write = jdbc_append_writer(URL, "nation_sink", properties=PROPS, batchsize=32)

    write(df, -1)  # creates the table
    got = _read(spark, "nation_sink")
    assert got.count() == n
    assert {r.n_name for r in got.collect()} == {r.n_name for r in df.collect()}

    write(df, -1)  # if_exists='append' semantics: second write doubles
    assert _read(spark, "nation_sink").count() == 2 * n


def test_jdbc_append_via_streaming_foreachbatch(spark, tmp_path):
    """The same writer function serves as the streaming sink: a
    checkpointed availableNow stream lands its batches in Derby."""
    src = tmp_path / "src"
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).write.parquet(str(src))
    stream = spark.readStream.schema("id bigint, grp bigint").parquet(str(src))
    write = jdbc_append_writer(URL, "stream_sink", properties=PROPS, batchsize=32)
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    assert _read(spark, "stream_sink").count() == 100


def test_jdbc_mapped_projection_write(spark, sf_dir):
    """Reference flow shape: CDC-style field mapping applied before the
    JDBC append (cassandra-sink-config.json:14-18 idiom on the S4 path)."""
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    projected = mapped_projection(
        df, {"region_id": "r_regionkey", "region_name": "r_name"}
    )
    write = jdbc_append_writer(URL, "region_mapped", properties=PROPS)
    write(projected, -1)
    got = _read(spark, "region_mapped")
    assert set(got.columns) == {"region_id", "region_name"}
    assert got.count() == df.count()


def test_cassandra_sink_options_contract():
    """The reference's connector perf knobs (batch 32 / 500 concurrent /
    30 s timeout) map onto the public SCC option keys."""
    opts = cassandra_sink_options()
    assert opts == {
        "spark.cassandra.output.batch.size.rows": "32",
        "spark.cassandra.output.concurrent.writes": "500",
        "spark.cassandra.connection.timeoutMS": "30000",
    }
    custom = cassandra_sink_options(16, 100, 5000)
    assert custom["spark.cassandra.output.batch.size.rows"] == "16"
    assert custom["spark.cassandra.output.concurrent.writes"] == "100"
    assert custom["spark.cassandra.connection.timeoutMS"] == "5000"
