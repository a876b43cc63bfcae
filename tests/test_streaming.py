"""M2 streaming behavior that the registry's rows-only checks can't
express: watermark late-data semantics, checkpointed exactly-once
restart, and batch-vs-stream equivalence for sessions and dedup.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark.sources.parquet import load_table
from docker_based_real_time_etl_project_spark.streaming.pipelines import (
    dedup_latest_stream,
    ohlcv_stream,
    run_to_memory,
    session_agg_stream,
)
from docker_based_real_time_etl_project_spark.streaming.replay import (
    replay_events,
    slice_events_to_dir,
)


def test_watermark_drops_late_slice(spark, sf_dir):
    """Hold back a mid-stream time slice so it arrives after the
    watermark has advanced past it: append-mode output must exclude
    (at least some of) its windows, and a no-watermark complete run
    over the same files must include them all."""
    out_dir = tempfile.mkdtemp(prefix="late_")
    # write slices 0-7 except 2-3; then write 2-3 AFTER (mtime order =
    # arrival order for the file source)
    slice_events_to_dir(spark, sf_dir, n_slices=8, out_dir=out_dir, hold_back_range=(2, 3))
    slice_events_to_dir(spark, sf_dir, n_slices=8, out_dir=out_dir + "/late", hold_back_range=None)
    # keep only slices 2-3 from the second pass, placed under the same root
    import shutil

    for i in (2, 3):
        shutil.move(f"{out_dir}/late/slice={i:03d}", f"{out_dir}/slice={i:03d}")
    shutil.rmtree(out_dir + "/late")

    stream = replay_events(spark, out_dir)
    appended = run_to_memory(
        ohlcv_stream(stream, watermark="1 hour"), output_mode="append"
    )
    complete = run_to_memory(
        ohlcv_stream(replay_events(spark, out_dir), watermark=None),
        output_mode="complete",
    )
    # late slice's windows: present in complete, missing from append
    # (their windows were finalized before the late files arrived)
    n_append, n_complete = appended.count(), complete.count()
    assert n_append < n_complete, (n_append, n_complete)
    # the emitted window SET is a subset of the full recompute's windows
    join_cols = ["event_type", "open_time"]
    assert (
        appended.select(*join_cols).exceptAll(complete.select(*join_cols)).count() == 0
    )


def test_checkpoint_restart_exactly_once(spark, sf_dir):
    """S3/S10: kill-and-restart from checkpoint must neither lose nor
    duplicate rows. Run availableNow over half the slices, then add the
    rest and restart with the SAME checkpoint: the parquet sink ends up
    with every event exactly once."""
    src = tempfile.mkdtemp(prefix="restart_src_")
    sink = tempfile.mkdtemp(prefix="restart_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="restart_ckpt_")
    slice_events_to_dir(spark, sf_dir, n_slices=8, out_dir=src, hold_back_range=(4, 7))

    def run_once():
        q = (
            replay_events(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not drain"

    run_once()
    first = spark.read.parquet(sink).count()
    # deliver the held-back half, restart from the same checkpoint
    tmp2 = tempfile.mkdtemp(prefix="restart_more_")
    slice_events_to_dir(spark, sf_dir, n_slices=8, out_dir=tmp2, hold_back_range=(0, 3))
    import shutil

    for i in range(4, 8):
        shutil.move(f"{tmp2}/slice={i:03d}", f"{src}/slice={i:03d}")
    run_once()

    total_events = load_table(spark, sf_dir, "events").count()
    sunk = spark.read.parquet(sink)
    assert first < total_events
    assert sunk.count() == total_events  # nothing lost, nothing doubled
    assert sunk.select("event_id").distinct().count() == total_events


def test_session_stream_matches_batch(spark, sf_dir):
    """Emitted (finalized) streaming sessions must equal the batch
    session_window aggregation for the same keys/starts."""
    src = slice_events_to_dir(spark, sf_dir, n_slices=6)
    emitted = run_to_memory(
        session_agg_stream(replay_events(spark, src), gap="30 minutes", watermark="1 hour"),
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    assert emitted.count() > 0
    # every emitted session matches a batch session exactly (keys+bounds+count)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert emitted.select(*cols).exceptAll(batch.select(*cols)).count() == 0


def test_stream_dedup_equals_distinct(spark, sf_dir):
    """Doubled delivery + dropDuplicatesWithinWatermark == distinct ids."""
    src = slice_events_to_dir(spark, sf_dir, n_slices=4)
    doubled = replay_events(spark, src).unionByName(replay_events(spark, src))
    out = run_to_memory(dedup_latest_stream(doubled), output_mode="append")
    total = load_table(spark, sf_dir, "events").count()
    assert out.count() == total
    assert out.select("event_id").distinct().count() == total


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The at-scale state backend: the same windowed aggregation runs on
    RocksDB state (the provider SCALE.md prescribes once state exceeds
    executor heap) and produces the same windows as the default
    HDFS-backed store."""
    src = slice_events_to_dir(spark, sf_dir, n_slices=4)
    default_out = run_to_memory(
        ohlcv_stream(replay_events(spark, src), watermark=None), output_mode="complete"
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_out = run_to_memory(
            ohlcv_stream(replay_events(spark, src), watermark=None), output_mode="complete"
        )
        assert rocks_out.count() == default_out.count()
        assert rocks_out.exceptAll(default_out).count() == 0
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_concurrent_streaming_queries(spark, sf_dir):
    """The reference runs its five flows sequentially in one loop
    (etl.py:210-237); the engine runs flows as CONCURRENT streaming
    queries on one session -- both must drain fully while overlapping."""
    import uuid

    src = slice_events_to_dir(spark, sf_dir, n_slices=4)
    names = [f"conc_{uuid.uuid4().hex[:6]}_{i}" for i in range(2)]
    q1 = (
        ohlcv_stream(replay_events(spark, src), watermark=None)
        .writeStream.format("memory").queryName(names[0])
        .outputMode("complete").trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="c1_")).start()
    )
    q2 = (
        dedup_latest_stream(replay_events(spark, src))
        .writeStream.format("memory").queryName(names[1])
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="c2_")).start()
    )
    # both run at once; both must finish
    assert q1.awaitTermination(300), "stream did not drain"
    assert q2.awaitTermination(300), "stream did not drain"
    total = load_table(spark, sf_dir, "events").count()
    assert spark.table(names[1]).count() == total
    assert spark.table(names[0]).count() > 0


def test_stream_asof_state_carries_across_batches(spark, tmp_path):
    """A quote must attach to a trade arriving SEVERAL micro-batches
    later purely via the carried state tuple: 3 slices where the only
    quote for user 1 is in slice 0 and their trades are in slices 1
    and 2; a quote-less user's trades emit NULL quote fields; a
    same-timestamp (quote, trade) pair in one slice matches
    inclusively. Emitted rows equal the batch same-source as-of."""
    from datetime import datetime, timezone

    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table, slice_table_to_dir,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        asof_attach_stream,
    )
    from docker_based_real_time_etl_project_spark.streaming.pipelines import (
        run_to_memory,
    )

    def t(minute):
        return datetime(2024, 1, 1, 12, minute, tzinfo=timezone.utc)

    rows = [
        # event_id, user_id, event_type, ts, value
        (1, 1, "view", t(0), 5.0),       # slice 0: the only quote for user 1
        (2, 2, "purchase", t(1), 9.0),   # slice 0: user 2 never sees a quote
        (3, 1, "purchase", t(10), 1.0),  # slice 1: one batch later
        (4, 1, "view", t(20), 6.0),      # slice 2 (same ts as the trade below)
        (5, 1, "purchase", t(20), 2.0),  # slice 2: inclusive same-ts match
    ]
    # one single-file table, exactly like the driver testdata layout
    # (the loader's footer sniff reads the file directly)
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "user_id": pa.array(cols[1], pa.int64()),
            "event_type": pa.array(cols[2], pa.string()),
            "ts": pa.array(cols[3], pa.timestamp("us", tz="UTC")),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    src = str(tmp_path / "mini_sf")
    import os

    os.makedirs(src, exist_ok=True)
    pq.write_table(tbl, f"{src}/events.parquet")

    slices = slice_table_to_dir(spark, src, "events", "ts", n_slices=3)
    tagged = (
        replay_table(spark, slices, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id", "user_id", "ts", "value",
            (F.col("event_type") == "purchase").cast("int").alias("side"),
        )
    )
    got = {
        r.trade_id: (r.quote_id, r.quote_value, r.quote_age_us)
        for r in run_to_memory(
            asof_attach_stream(tagged), output_mode="append", state_partitions=2
        ).collect()
    }
    assert got == {
        2: (None, None, None),                    # no quote for user 2
        3: (1, 5.0, 10 * 60 * 1_000_000),         # carried from slice 0 state
        5: (4, 6.0, 0),                           # same-ts inclusive, same slice
    }


def test_stream_asof_out_of_order_degrades_as_documented(spark, tmp_path):
    """asof_attach_stream's contract is per-key ts-monotone arrival
    ACROSS batches. This pins the documented degradation when that is
    violated (slicing by event_id so a quote with an older ts arrives
    a batch late): the already-emitted trade keeps NULL (append mode —
    no retro-update), the late quote still rolls the state forward,
    and a later trade picks it up. No crash, no duplicate emission."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from docker_based_real_time_etl_project_spark.streaming.pipelines import (
        run_to_memory,
    )
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table, slice_table_to_dir,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        asof_attach_stream,
    )

    def t(minute):
        return datetime(2024, 1, 1, 12, minute, tzinfo=timezone.utc)

    rows = [
        # event_id order != ts order: the quote (id 3) has the OLDEST
        # ts but arrives in the last of three id-sliced batches
        (1, 1, "purchase", t(10), 1.0),
        (2, 1, "purchase", t(30), 2.0),
        (3, 1, "view", t(0), 5.0),
    ]
    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "user_id": pa.array(cols[1], pa.int64()),
            "event_type": pa.array(cols[2], pa.string()),
            "ts": pa.array(cols[3], pa.timestamp("us", tz="UTC")),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    src = str(tmp_path / "mini_sf2")
    import os

    os.makedirs(src, exist_ok=True)
    pq.write_table(tbl, f"{src}/events.parquet")

    slices = slice_table_to_dir(spark, src, "events", "event_id", n_slices=3)
    tagged = (
        replay_table(spark, slices, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id", "user_id", "ts", "value",
            (F.col("event_type") == "purchase").cast("int").alias("side"),
        )
    )
    out = run_to_memory(
        asof_attach_stream(tagged), output_mode="append", state_partitions=2
    ).collect()
    got = {r.trade_id: r.quote_id for r in out}
    assert len(out) == 2  # each trade emitted exactly once
    assert got[1] is None  # quote hadn't arrived yet: NULL, not retro-fixed
    # trade 2 is in the batch BEFORE the late quote too -> also NULL;
    # the batch as-of (full history) would attach quote 3 to both —
    # that delta IS the documented monotone-arrival contract
    assert got[2] is None


def test_stream_asof_carry_is_exact_above_2_53():
    """The carry path must move 64-bit ids/timestamps as masked int64,
    never float NaN-sentinel arrays: any id above 2^53 (snowflake-style
    ids exceed it) would silently round. Drives _make_attach_asof
    directly with a stub GroupState: a quote id at 2^53 + 1 must round-
    trip bit-exact both in-batch and via the carried state tuple."""
    from datetime import datetime, timezone

    import pandas as pd

    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        _make_attach_asof,
    )

    big = (1 << 53) + 1  # not representable in float64

    class StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

    def t(minute):
        return datetime(2024, 1, 1, 12, minute, tzinfo=timezone.utc)

    fn = _make_attach_asof(None)
    state = StubState()
    # batch 1: the big-id quote, then one trade (in-batch attach)
    b1 = pd.DataFrame(
        {
            "event_id": pd.array([big, 10], dtype="int64"),
            "user_id": pd.array([1, 1], dtype="int64"),
            "ts": [t(0), t(1)],
            "value": [5.0, 1.0],
            "side": pd.array([0, 1], dtype="int32"),
        }
    )
    (out1,) = fn((1,), [b1], state)
    assert out1["quote_id"].tolist() == [big]
    assert state.get[0] == big
    # batch 2: trade only -> the big id must survive the state carry too
    b2 = pd.DataFrame(
        {
            "event_id": pd.array([11], dtype="int64"),
            "user_id": pd.array([1], dtype="int64"),
            "ts": [t(2)],
            "value": [2.0],
            "side": pd.array([1], dtype="int32"),
        }
    )
    (out2,) = fn((1,), [b2], state)
    assert out2["quote_id"].tolist() == [big]
    assert out2["quote_age_us"].tolist() == [2 * 60 * 1_000_000]


class _WatermarkState:
    """GroupState stub for an out-of-order fold: the StubState above
    plus an event-time watermark the test advances, the timed-out flag
    and the armed timeout."""

    def __init__(self):
        self.exists = False
        self._v = None
        self.wm_ms = 0
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists = True
        self._v = tuple(v)

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms > self.wm_ms  # Spark rejects a timeout below the watermark
        self.timeout_ms = ms


@given(data=hst.data())
@settings(max_examples=60, deadline=None)
def test_fold_stream_ooo_release_matches_in_order_fold(data):
    """The fold combinator's out-of-order contract, without Spark.
    Ticks arrive shuffled by less than the watermark delay, in batches
    under an advancing watermark, plus injected rows: below the
    watermark (late) or exactly at it (on time). The RSI and
    max-drawdown folds behind the reorder buffer must emit exactly what
    one in-order fold of the (ts, event_id)-sorted on-time rows emits,
    and a fold that echoes its input must see exactly that sequence;
    late rows must be dropped; the buffer must hold exactly the on-time
    rows at or above the watermark; and the event-time timeout must be
    armed at max(wm + 1, max_kept_ms + 1) exactly while rows stay
    buffered."""
    import numpy as np
    import pandas as pd

    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        _MDD_CARRY,
        _RSI_CARRY,
        _fold_update,
        _mdd_fold,
        _mdd_rows_fold,
        _rsi_fold,
    )

    delay_ms = data.draw(hst.integers(1, 5_000), label="delay_ms")
    # 50 ms ticks over 20 s: equal timestamps are common, so the
    # event_id tiebreak of the release order is exercised
    ticks = data.draw(
        hst.lists(
            hst.tuples(hst.integers(0, 400).map(lambda t: t * 50_000), hst.integers(1, 5_000)),
            min_size=1,
            max_size=60,
        ),
        label="ticks",
    )
    n = len(ticks)
    eids = data.draw(hst.permutations(range(n)), label="eids")
    rows = [(t, e, c) for (t, c), e in zip(ticks, eids)]
    jitter = data.draw(
        hst.lists(
            hst.integers(0, delay_ms * 1000 - 1), min_size=n, max_size=n
        ),
        label="jitter",
    )
    arrival = [r for _, r in sorted(zip(jitter, rows), key=lambda p: p[1][0] + p[0])]
    cuts = sorted(
        data.draw(hst.sets(hst.integers(1, n - 1), max_size=6), label="cuts")
    ) if n > 1 else []
    batches = [arrival[a:b] for a, b in zip([0] + cuts, cuts + [n])]

    def frame(batch):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in batch], unit="us"),
                "event_id": np.asarray([r[1] for r in batch], np.int64),
                "value": [r[2] / 100 for r in batch],
            }
        )

    def release_order(carry, rows):
        return (len(rows[0]),), pd.DataFrame({"ts": rows[0], "eid": rows[1]})

    folds = {
        "order": _fold_update(("event_type",), release_order, ("cents",),
                              (np.int64,) * 3, 1, True),
        "rsi": _fold_update(("event_type",), _rsi_fold, ("cents",),
                            (np.int64,) * 3, len(_RSI_CARRY), True),
        "mdd": _fold_update(("event_type",), _mdd_rows_fold, ("cents",),
                            (np.int64,) * 3, len(_MDD_CARRY), True),
    }
    states = {k: _WatermarkState() for k in folds}
    emitted = {k: [] for k in folds}

    on_time = []  # every on-time row delivered so far

    def call(batch, wm_ms, timed_out):
        want_kept = sorted(r[0] for r in on_time if r[0] >= wm_ms * 1000)
        for k, update in folds.items():
            state = states[k]
            state.wm_ms, state.hasTimedOut, state.timeout_ms = wm_ms, timed_out, None
            pdfs = [] if timed_out else [frame(batch)]
            emitted[k].extend(update(("K",), iter(pdfs), state))
            kept = np.asarray(state.get[0], np.int64)
            assert sorted(kept.tolist()) == want_kept
            if len(kept):
                assert state.timeout_ms == max(wm_ms + 1, int(kept.max()) // 1000 + 1)
            else:
                assert state.timeout_ms is None

    wm_ms, seen_ms = 0, None
    for i, batch in enumerate(batches):
        if seen_ms is not None:
            wm_ms = max(wm_ms, seen_ms - delay_ms)
        on_time.extend(batch)
        extra = []
        inject = data.draw(hst.sampled_from(["none", "late", "at_wm"]), label="inject")
        if wm_ms > 0 and inject == "late":
            extra = [(data.draw(hst.integers(0, wm_ms * 1000 - 1)), -1 - i, 100)]
        elif wm_ms > 0 and inject == "at_wm":
            # on time by the watermark contract; later injections carry
            # smaller event ids, so an early release would misorder them
            extra = [(wm_ms * 1000, -1 - i, data.draw(hst.integers(1, 5_000)))]
            on_time.extend(extra)
        call(batch + extra, wm_ms, False)
        top = max(r[0] for r in batch) // 1000
        seen_ms = top if seen_ms is None else max(seen_ms, top)
    # tail flush: the key's timeout fires once the watermark passes it
    while states["rsi"].timeout_ms is not None:
        wm_ms = states["rsi"].timeout_ms + 1
        call([], wm_ms, True)
    assert states["mdd"].timeout_ms is None

    ts, eid, cents = (
        np.asarray(c, np.int64) for c in zip(*sorted(on_time))
    )
    released = pd.concat(emitted["order"], ignore_index=True)
    assert list(zip(released["ts"], released["eid"])) == list(zip(ts, eid))
    _, want = _rsi_fold(None, (ts, eid, cents))
    got = (
        pd.concat(emitted["rsi"], ignore_index=True).drop(columns="event_type")
        if emitted["rsi"]
        else want.iloc[:0]
    )
    assert got.astype(object).values.tolist() == want.astype(object).values.tolist()
    _, whole = _mdd_fold(None, cents)
    parts = pd.concat(emitted["mdd"], ignore_index=True)
    assert (parts["event_type"] == "K").all()
    assert (int(parts["n"].sum()), int(parts["dd"].max()), int(parts["pk"].max())) == (
        whole["n"], whole["dd"], whole["pk"]
    )


def test_await_drained_raises_on_timeout(spark, tmp_path, monkeypatch):
    """A stream that cannot finish in time is stopped and raises,
    instead of handing back whatever its sink holds so far."""
    from docker_based_real_time_etl_project_spark.streaming import pipelines

    monkeypatch.setattr(pipelines, "STREAM_TIMEOUT_S", 0.5)
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError):
            pipelines.await_drained(q)
        assert not q.isActive
    finally:
        q.stop()


def test_stream_topk_is_arrival_order_independent(spark, tmp_path):
    """The leaderboard's defining property: top-k under a total order
    is a commutative, associative merge, so the final board must be
    IDENTICAL however arrival slices the stream — unlike the as-of
    gate, which documents an ordering contract, this operator has
    none. Replay the same orders in ascending, descending, and
    interleaved 3-batch orders; all three final boards must match the
    batch window truth exactly (including ties broken by orderkey and
    groups with fewer than k rows)."""
    import os
    import time

    import pandas as pd

    from pyspark.sql import functions as F
    from docker_based_real_time_etl_project_spark.streaming.replay import replay_table
    from docker_based_real_time_etl_project_spark.streaming.pipelines import run_to_memory
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        topk_per_group_stream,
    )

    rows = [
        # cust 1: four orders incl. a price tie (keys 11/12 at 50.0)
        (11, 1, 50.0), (12, 1, 50.0), (13, 1, 99.0), (14, 1, 10.0),
        # cust 2: fewer than k
        (21, 2, 5.0), (22, 2, 7.0),
        # cust 3: singleton
        (31, 3, 1.0),
    ]
    want = {
        (1, 13, 99.0, 1), (1, 11, 50.0, 2), (1, 12, 50.0, 3),
        (2, 22, 7.0, 1), (2, 21, 5.0, 2),
        (3, 31, 1.0, 1),
    }
    orders = [  # three arrival orders of the same rows
        rows,
        rows[::-1],
        [rows[i] for i in (3, 5, 0, 6, 2, 4, 1)],
    ]
    for case, seq in enumerate(orders):
        d = tmp_path / f"ord{case}"
        os.makedirs(d)
        base = time.time()
        for b in range(3):  # 3 slices of 3/3/1 rows, mtime-ordered
            chunk = seq[b * 3:(b + 1) * 3]
            if not chunk:
                continue
            p = str(d / f"slice{b}.parquet")
            pdf = pd.DataFrame(chunk, columns=["o_orderkey", "o_custkey", "o_totalprice"])
            for c in ("o_orderkey", "o_custkey"):
                pdf[c] = pdf[c].astype("int64")
            # pad to the declared orders schema (extra cols unused)
            pdf["o_orderstatus"] = "O"
            pdf["o_orderdate"] = pd.Timestamp("2024-01-01")
            pdf["o_orderpriority"] = "1-URGENT"
            pdf[["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"]].to_parquet(p)
            os.utime(p, (base + 2 * b, base + 2 * b))
        emitted = run_to_memory(
            topk_per_group_stream(
                replay_table(spark, str(d), "orders").select(
                    "o_custkey", "o_orderkey", "o_totalprice"
                )
            ),
            output_mode="update",
            state_partitions=4,
        )
        from pyspark.sql import Window as W

        final = (
            emitted.withColumn("_mx", F.max("upd").over(W.partitionBy("o_custkey")))
            .filter(F.col("upd") == F.col("_mx"))
        )
        got = {
            (r.o_custkey, r.o_orderkey, r.o_totalprice, r.rnk)
            for r in final.collect()
        }
        assert got == want, f"arrival order {case}: {got}"


def test_stream_topk_state_survives_checkpoint_restart(spark, sf_dir):
    """Kill-and-restart for the leaderboard's applyInPandasWithState
    state: run availableNow over half the order slices with a
    checkpoint, then deliver the rest and restart from the SAME
    checkpoint. The restored state must merge the new batches into the
    identical final board the batch window computes over ALL orders —
    i.e. recovery neither loses a key's top-k nor re-plays admitted
    rows into it."""
    import shutil

    from pyspark.sql import Window as W
    from docker_based_real_time_etl_project_spark.sources.parquet import load_table
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table, slice_table_to_dir,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        topk_per_group_stream,
    )

    src = tempfile.mkdtemp(prefix="topk_src_")
    sink = tempfile.mkdtemp(prefix="topk_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="topk_ckpt_")
    slice_table_to_dir(
        spark, sf_dir, "orders", "o_orderkey",
        n_slices=8, out_dir=src, hold_back_range=(4, 7),
    )

    def run_once():
        orders = replay_table(spark, src, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        )
        q = (
            topk_per_group_stream(orders)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not drain"

    run_once()
    tmp2 = tempfile.mkdtemp(prefix="topk_more_")
    slice_table_to_dir(
        spark, sf_dir, "orders", "o_orderkey",
        n_slices=8, out_dir=tmp2, hold_back_range=(0, 3),
    )
    for i in range(4, 8):
        shutil.move(f"{tmp2}/slice={i:03d}", f"{src}/slice={i:03d}")
    run_once()

    emitted = spark.read.parquet(sink)
    final = (
        emitted.withColumn("_mx", F.max("upd").over(W.partitionBy("o_custkey")))
        .filter(F.col("upd") == F.col("_mx"))
    )
    got = {
        (r.o_custkey, r.o_orderkey, r.rnk) for r in final.collect()
    }
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    want = {
        (r.o_custkey, r.o_orderkey, r.rnk)
        for r in o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rnk")
        ).filter(F.col("rnk") <= 3).collect()
    }
    assert got == want


# Defense-in-depth tier (round 15): all eight queries compared below
# are independently DuckDB-hash-oracled in test_oracle_parity — this
# 60 s sweep only adds the ooo==in-order Spark cross-check, so it runs
# in the evidence profile (`pytest -m slow`).
@pytest.mark.slow
def test_ooo_replay_matches_in_order(spark, sf_dir):
    """The watermark-delayed re-sort contract (round-7 verdict item 3):
    replaying the SAME events with adjacent slices swapped must produce
    results identical to the in-order twins — i.e. disorder within the
    watermark delay is invisible. Compares full row sets, not counts."""
    from docker_based_real_time_etl_project_spark.queries import REGISTRY

    for ooo, inorder in (
        ("q_stream_ewma_ooo", "q_stream_ewma"),
        ("q_stream_rsi_ooo", "q_stream_rsi"),
        ("q_stream_bollinger_ooo", "q_stream_bollinger"),
        ("q_stream_macd_ooo", "q_stream_macd"),
    ):
        a = {tuple(r) for r in REGISTRY[ooo].fn(spark, sf_dir).collect()}
        b = {tuple(r) for r in REGISTRY[inorder].fn(spark, sf_dir).collect()}
        assert a == b, f"{ooo} diverged from {inorder}"


def test_ooo_late_beyond_watermark_is_dropped(spark, sf_dir):
    """Negative control for the re-sort operator: with a watermark
    delay SMALLER than the arrival disorder, Spark's late-row filter
    must drop rows (the operator tolerates bounded lateness, it does
    not resurrect data beyond the bound) — output is a strict subset."""
    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.queries.streaming_q import (
        _ooo_stream,
    )
    from docker_based_real_time_etl_project_spark.streaming.pipelines import (
        run_to_memory,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        rsi_stream_ooo,
    )

    st, _ = _ooo_stream(spark, sf_dir)
    out = run_to_memory(
        rsi_stream_ooo(st, watermark="1 second"),
        output_mode="append",
        state_partitions=8,
    ).filter(F.col("event_type") != "__sentinel__")
    full = REGISTRY["q_stream_rsi"].fn(spark, sf_dir)
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in full.collect()}
    assert len(got) < len(want)


def test_reorder_buffer_restart_from_checkpoint(spark, sf_dir):
    """Round-8 verdict item 6: kill-and-restart for a REORDER-BUFFER
    stateful query. Half the out-of-order slices stream, the query
    stops (rows still buffered in the per-key reorder state), then the
    rest (and the flush sentinel) arrive and the query restarts from
    the SAME checkpoint: the recovered buffer + fold state must yield
    the bit-identical EWMA the batch engine computes — nothing lost,
    nothing refolded."""
    import shutil
    import subprocess

    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.queries.streaming_q import (
        _ooo_slices,
    )
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        ewma_stream_ooo,
        final_ewma,
    )

    master = _ooo_slices(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="ooo_restart_src_")
    # -a preserves mtimes: the replay contract orders batches by mtime
    subprocess.run(["cp", "-a", f"{master}/.", src], check=True)
    with open(os.path.join(src, "_ooo_meta.txt")) as fh:
        delay = int(fh.read())
    held = ["slice=004", "slice=005", "slice=006", "slice=007", "sentinel_1"]
    hold = tempfile.mkdtemp(prefix="ooo_restart_hold_")
    for h in held:
        shutil.move(os.path.join(src, h), os.path.join(hold, h))

    sink = tempfile.mkdtemp(prefix="ooo_restart_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="ooo_restart_ckpt_")

    def run_once():
        q = (
            ewma_stream_ooo(
                replay_table(spark, src, "events"), watermark=f"{delay} seconds"
            )
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not drain"

    run_once()
    partial = spark.read.parquet(sink).agg(F.sum("n_events")).first()[0]
    for h in held:
        shutil.move(os.path.join(hold, h), os.path.join(src, h))
    run_once()

    emitted = spark.read.parquet(sink).filter(
        F.col("event_type") != "__sentinel__"
    )
    got = final_ewma(emitted)
    truth = REGISTRY["q_ewma"].fn(spark, sf_dir)
    # the first run really did stop mid-stream with work outstanding
    assert partial is not None
    assert emitted.agg(F.sum("n_events")).first()[0] > partial
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0


def test_rv_reorder_buffer_restart_from_checkpoint(spark, sf_dir):
    """Kill-and-restart for the round-9 realized-variance reorder
    buffer: half the OOO slices stream, the query stops with rows
    still buffered AND a (last_day, last_c) boundary tick carried,
    then the rest arrive from the SAME checkpoint — recovered buffer +
    fold state must reproduce the batch q_realized_vol exactly (a lost
    boundary tick would shift one increment in every restart day)."""
    import shutil
    import subprocess

    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.queries.streaming_q import (
        _ooo_slices,
        _rv_finalize,
    )
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        rv_stream_ooo,
    )

    master = _ooo_slices(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="rv_restart_src_")
    subprocess.run(["cp", "-a", f"{master}/.", src], check=True)
    with open(os.path.join(src, "_ooo_meta.txt")) as fh:
        delay = int(fh.read())
    held = ["slice=004", "slice=005", "slice=006", "slice=007", "sentinel_1"]
    hold = tempfile.mkdtemp(prefix="rv_restart_hold_")
    for h in held:
        shutil.move(os.path.join(src, h), os.path.join(hold, h))

    sink = tempfile.mkdtemp(prefix="rv_restart_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="rv_restart_ckpt_")

    def run_once():
        q = (
            rv_stream_ooo(
                replay_table(spark, src, "events"), watermark=f"{delay} seconds"
            )
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not drain"

    run_once()
    partial = spark.read.parquet(sink).agg(F.sum("n")).first()[0]
    for h in held:
        shutil.move(os.path.join(hold, h), os.path.join(src, h))
    run_once()

    emitted = spark.read.parquet(sink).filter(
        F.col("event_type") != "__sentinel__"
    )
    got = _rv_finalize(emitted)
    truth = REGISTRY["q_realized_vol"].fn(spark, sf_dir)
    assert partial is not None
    assert emitted.agg(F.sum("n")).first()[0] > partial
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0


def test_conc_sweep_ties_and_day_boundaries():
    """The sweep fold's exactness seams, unit-level: same-microsecond
    deltas must NET before the peak test (a start and an end at the
    same t never show a transient +1), day boundaries emit the
    finished day and carry the open one, and the final drain flushes
    the last day."""
    import numpy as np

    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        _DAY_US,
        _conc_sweep,
    )

    d0 = 19_000  # some day index
    t = lambda day, us: day * _DAY_US + us

    # ties: +1 (start) and -1 (end) at the same microsecond net to 0
    carry, out = _conc_sweep(
        (0, -1, 0),
        np.array([t(d0, 10), t(d0, 20)], np.int64),       # starts
        np.array([t(d0, 20)], np.int64),                  # end, tied with 2nd start
        final_day_excl=d0 + 1,
    )
    # conc path: t=10 -> 1; t=20 -> 1 (+1-1 nets); peak 1, not 2
    assert out == [(_conc_sweep.__globals__["_day_str"](d0), 1)]
    assert carry == (1, -1, 0)

    # day boundary: open day carries, finished day emits with its peak
    carry, out = _conc_sweep(
        (0, -1, 0),
        np.array([t(d0, 1), t(d0, 2), t(d0 + 1, 1)], np.int64),
        np.array([t(d0, 3)], np.int64),
        final_day_excl=d0 + 1,
    )
    assert out == [(_conc_sweep.__globals__["_day_str"](d0), 2)]
    assert carry == (2, d0 + 1, 2)  # day d0+1 still open at conc 2

    # drain: final_day_excl=None flushes the open day
    carry, out = _conc_sweep(
        carry, np.empty(0, np.int64), np.array([t(d0 + 1, 5), t(d0 + 1, 6)], np.int64),
        final_day_excl=None,
    )
    assert out == [(_conc_sweep.__globals__["_day_str"](d0 + 1), 2)]
    assert carry == (0, -1, 0)


def test_interval_concurrency_survives_midstream_timeout(spark, tmp_path):
    """A key ABSENT from middle micro-batches while the watermark
    advances fires its event-time timeout mid-stream. The drain must
    be watermark-respecting there — never early-apply pending ends or
    emit the open day — so the final per-day peaks still equal the
    batch sweep exactly (and no (key, day) emits twice in append
    mode)."""
    import os
    import time
    from collections import defaultdict
    from datetime import datetime, timedelta

    import numpy as np

    from docker_based_real_time_etl_project_spark.streaming.pipelines import (
        run_to_memory,
    )
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table, slice_table_to_dir,
    )
    from docker_based_real_time_etl_project_spark.streaming.stateful import (
        _DAY_US,
        interval_concurrency_stream_ooo,
    )

    base = datetime(2024, 3, 1)
    rows = []
    # dense key: 40 events across 2 days — fills every slice
    for i in range(40):
        rows.append((i, base + timedelta(hours=i), 1, "dense", 1.0, "{}"))
    # sparse key: present only at the very start and very end, with a
    # long interval (id 113 -> 14 min) left OPEN across the gap
    rows.append((113, base + timedelta(minutes=1), 2, "sparse", 1.0, "{}"))
    rows.append((114, base + timedelta(hours=39), 2, "sparse", 1.0, "{}"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).toPandas().to_parquet(os.path.join(src, "events.parquet"))

    slices = slice_table_to_dir(spark, src, "events", "ts", n_slices=6)
    # sentinel: far enough that the final watermark clears every
    # reachable interval end AND the next midnight (the _ooo_slices
    # contract)
    sent = spark.createDataFrame(
        [(10**9, base + timedelta(days=4), 0, "__sentinel__", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    newest = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(slices)
        for f in files
    )
    sent_dir = os.path.join(slices, "slice=zzz")
    sent.coalesce(1).write.parquet(sent_dir)
    for f in os.listdir(sent_dir):
        os.utime(os.path.join(sent_dir, f), (newest + 5, newest + 5))

    out = run_to_memory(
        interval_concurrency_stream_ooo(
            replay_table(spark, slices, "events"), "1 second"
        ),
        output_mode="append",
        state_partitions=4,
    ).filter(F.col("event_type") != "__sentinel__")
    got = [(r.event_type, r.day, r.max_concurrent) for r in out.collect()]
    assert len(got) == len(set((t, d) for t, d, _ in got)), "duplicate (key, day) emission"

    # batch truth: the same sweep in plain python
    def truth():
        per = defaultdict(list)
        for eid, ts, _, et, _, _ in rows:
            s = int(ts.timestamp() * 1_000_000)
            per[et].append((s, 1))
            per[et].append((s + (eid % 14 + 1) * 60_000_000, -1))
        exp = []
        for et, deltas in per.items():
            agg = defaultdict(int)
            for t, d in deltas:
                agg[t] += d
            conc, peaks = 0, defaultdict(int)
            for t in sorted(agg):
                conc += agg[t]
                day = t // _DAY_US
                peaks[day] = max(peaks[day], conc)
            for day, m in peaks.items():
                exp.append((et, time.strftime("%Y-%m-%d", time.gmtime(day * 86400)), m))
        return sorted(exp)

    assert sorted(got) == truth()


def test_fuzzy_gate_update_mode_emits_each_key_once(spark, sf_dir):
    """q_stream_fuzzy_gate runs its verdict aggregate in UPDATE mode;
    each cust_key's entire deletion neighborhood arrives in one replay
    slice, so the aggregate changes exactly once per key and the sink
    must receive exactly one row per key — never the complete-mode
    re-emission of the whole admission ledger every micro-batch (the
    round-12 verdict's O(batch) sink-write ask). The returned memory
    table IS the raw sink content, so total rows == distinct keys pins
    the write volume."""
    from docker_based_real_time_etl_project_spark.queries import REGISTRY

    out = REGISTRY["q_stream_fuzzy_gate"].fn(spark, sf_dir)
    rows = out.collect()
    keys = [r["cust_key"] for r in rows]
    # one emission per key: any complete-mode regression re-emits the
    # cumulative ledger (8 batches -> ~4.5x the key count here)
    assert len(keys) == len(set(keys))
    expected = (
        load_table(spark, sf_dir, "customer")
        .filter("c_custkey % 10 = 5")
        .count()
    )
    assert len(keys) == expected


def test_semantic_gate_exercises_both_fates(spark, sf_dir):
    """q_stream_semantic_gate must be non-vacuous in BOTH directions:
    the planted in-stream twins match their known source
    (known_match=True, min_match_id = the source id) and the random
    held-out probes match nothing (known_match=False) — with each
    probe emitted exactly once (update mode, O(batch) sink writes)."""
    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.queries.embeddings_q import (
        _sd_off,
    )

    rows = REGISTRY["q_stream_semantic_gate"].fn(spark, sf_dir).collect()
    ids = [r["probe_id"] for r in rows]
    assert len(ids) == len(set(ids))
    off = _sd_off(spark, sf_dir)
    twins = {r["probe_id"]: r for r in rows if r["probe_id"] >= off}
    randoms = [r for r in rows if r["probe_id"] < off]
    assert twins and randoms
    # a twin assigned across a centroid boundary from its source
    # misses BY DESIGN (the SemDeDup approximation — the oracle
    # replays the same clustering, so the hash gate still holds);
    # the boundary population must stay a small minority, and every
    # twin that does match resolves to its own source.
    hit = [r for r in twins.values() if r["known_match"]]
    assert len(hit) >= 0.8 * len(twins), (len(hit), len(twins))
    for r in hit:
        assert r["min_match_id"] == r["probe_id"] - off, r
    # random probes are isotropic noise: none clears cosine >= 0.95
    assert all(not r["known_match"] for r in randoms)
