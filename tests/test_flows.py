"""The five reference flows end-to-end on the rest_poll source:
schema parity with init-db.sql:3-49 and the reference's edge shapes
(SURVEY.md 5.2 item 3): short order book, string numerics, multi-symbol
polls, streaming reads.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark import schemas
from docker_based_real_time_etl_project_spark.flows import (
    FLOWS,
    flow_order_book,
    flow_recent_trades,
    poll_batch,
    poll_cycle,
)
from docker_based_real_time_etl_project_spark.sources.rest import register_rest_source


def test_poll_cycle_row_contract(spark):
    """157 rows per 1-symbol cycle, split 1/5/50/100/1 (BASELINE.md)."""
    out = poll_cycle(spark, "BTCUSDT", poll_id=3)
    counts = {name: df.count() for name, df in out.items()}
    assert counts == {
        "latest_prices": 1,
        "order_book": 5,
        "recent_trades": 50,
        "klines": 100,
        "ticker_24hr": 1,
    }


def test_flow_schemas_match_reference_tables(spark):
    """Column names/types line up with init-db.sql:3-49 (minus id and
    ingest timestamp, which are sink-edge concerns T10/T11)."""
    out = poll_cycle(spark, "BTCUSDT")
    expect = {
        "latest_prices": ["symbol", "price"],
        "order_book": ["symbol", "bid_price", "bid_quantity", "ask_price", "ask_quantity"],
        "recent_trades": ["symbol", "price", "quantity", "trade_time", "is_buyer_maker"],
        "klines": ["symbol", "open_time", "open_price", "high_price", "low_price",
                   "close_price", "volume", "close_time"],
        "ticker_24hr": ["symbol", "price_change", "price_change_percent",
                        "weighted_avg_price", "prev_close_price", "last_price", "volume"],
    }
    for name, cols in expect.items():
        assert out[name].columns == cols, name
    # string numerics became doubles
    ob = dict(out["order_book"].dtypes)
    assert ob["bid_price"] == "double" and ob["ask_quantity"] == "double"
    tr = dict(out["recent_trades"].dtypes)
    assert tr["trade_time"] == "bigint" and tr["is_buyer_maker"] == "boolean"


def test_multi_symbol_poll_is_distributed(spark):
    """3 symbols -> 3x rows per flow, no driver-side loop needed."""
    out = poll_cycle(spark, "BTCUSDT,ETHUSDT,SOLUSDT")
    assert out["order_book"].count() == 15
    assert out["klines"].select("symbol").distinct().count() == 3
    # depth levels pair positionally per symbol: 5 levels each
    per_sym = out["order_book"].groupBy("symbol").count().collect()
    assert all(r["count"] == 5 for r in per_sym)


def test_short_order_book_tolerated(spark):
    """The reference's [:5] slice tolerates books shallower than 5
    levels (etl.py:126-127); ragged sides pair with nulls."""
    payload = {"bids": [["1.0", "2.0"], ["0.9", "1.0"]], "asks": [["1.1", "3.0"]]}
    raw = spark.createDataFrame(
        [("depth", "XUSDT", 0, json.dumps(payload))],
        "endpoint string, symbol string, poll_id long, payload string",
    )
    rows = flow_order_book(raw).orderBy(F.col("bid_price").desc()).collect()
    assert len(rows) == 2
    assert rows[0].bid_price == 1.0 and rows[0].ask_price == 1.1
    assert rows[1].bid_price == 0.9 and rows[1].ask_price is None  # ragged


def test_trades_limit_applied_per_symbol(spark):
    """T5 head-N: the first-50 slice applies per symbol payload, not
    globally across the batch."""
    raw = poll_batch(spark, "BTCUSDT,ETHUSDT")
    t = flow_recent_trades(raw, limit=7)
    per = {r.symbol: r["count"] for r in t.groupBy("symbol").count().collect()}
    assert per == {"BTCUSDT": 7, "ETHUSDT": 7}


def test_streaming_source_advances_polls(spark):
    """S2: the streaming reader's offset is the poll counter; an
    availableNow run drains exactly one poll cycle per micro-batch."""
    import uuid

    register_rest_source(spark)
    name = f"polls_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("rest_poll")
        .option("symbols", "BTCUSDT")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    got = spark.table(name)
    # one poll cycle: 5 endpoint rows for the symbol
    assert got.count() == 5
    assert {r.endpoint for r in got.collect()} == {
        "price", "depth", "trades", "klines", "ticker24h"
    }
    assert got.select("poll_id").distinct().collect()[0][0] == 0


def test_fetch_failure_skips_endpoint_not_batch(spark):
    """S1/S3: a failing endpoint (fetcher returns None, like etl.py:111)
    drops that endpoint's rows; the other four flows still deliver."""
    register_rest_source(spark)
    raw = (
        spark.read.format("rest_poll")
        .option("symbols", "BTCUSDT")
        .option("fetcher", "tests.fetchers.depth_down_fetch")
        .load()
    )
    got = {r.endpoint for r in raw.select("endpoint").distinct().collect()}
    assert got == {"price", "trades", "klines", "ticker24h"}  # no depth
    assert raw.count() == 4


def test_csv_failfast_surfaces_malformed_rows(spark, tmp_path):
    """Source policy: FAILFAST -- a malformed row must raise, not
    silently null out (the permissive default turns data corruption
    into downstream NULL mysteries)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkUpgradeException

    from docker_based_real_time_etl_project_spark.queries.sources_q import read_csv

    p = tmp_path / "bad.csv"
    p.write_text(
        "event_id,ts,user_id,event_type,value,props\n"
        "1,2024-01-01 00:00:00.000000,7,click,1.25,{}\n"
        "2,NOT_A_TIMESTAMP,8,view,2.5,{}\n"
    )
    with pytest.raises(Exception) as exc:
        read_csv(spark, str(p), "events").collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)
