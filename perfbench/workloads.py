"""The closed-loop stream workloads.

Each is driven by one process: publish one input, wait for its
result, publish the next. A round is timed from the atomic publish of
its file until ``processAllAvailable`` returns with that file
committed. The engine is reached only through the package's public
functions.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time
import traceback
from dataclasses import dataclass, field

from engine import Clock
from gen import CdcGen, TickGen, publish
from ref import cdc_last_writer_wins, rsi_rows

# -- sizes -------------------------------------------------------------------
# Where a size comes from is noted beside it; README.md, "Sizes", has the
# full account. "sf0.1 events" is the repository's CDC fixture: the
# 100,000-row events table that queries.cdc_q re-casts as a Debezium
# changelog (key user_id; 'error' events are deletes).
CDC_KEYS = 1_500           # distinct user_id in sf0.1 events
CDC_DELETE = 0.2           # share of 'error' (delete) events in sf0.1 events
CDC_ROUND_ROWS = 500       # chosen: one poll of a busy table, see README.md
CDC_LATE = 0.05            # chosen: share held back one round (out of lsn order)
TICK_SYMBOLS = 32          # chosen: a multi-symbol feed of a few dozen
TICK_SPAN_S = 60           # the reference ETL's poll cadence (BASELINE.md)
TICK_ROUND_ROWS = TICK_SYMBOLS * 50  # its 50 trades per symbol per poll
TICK_WATERMARK = "2 minutes"  # two windows, so no late tick is dropped
TICK_LATE = 0.1            # chosen: share of a window arriving one window late
DRAIN_FILES = 8            # a staged backlog is this many files, published at once
CDC_DRAIN_ROWS = 16_000    # the drains are sized to the run-time budget
TICK_DRAIN_WINDOWS = 32    # windows of TICK_ROUND_ROWS per backlog
LIVE_SHARE = 0.7           # of --seconds; then DRAINS backlogs are drained
DRAINS = 3
# warm-up rounds before timing; records/warmup_curve.json shows the
# round times from a cold start
WARMUP = {"cdc_sync": 8, "tick_indicators": 4}


@dataclass
class Ctx:
    seed: int
    seconds: float
    work: str
    tracer: object | None
    t_setup0: float
    report: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    latencies: list[float]
    rates: list[float]  # rows/s of each backlog drain
    attempted: int
    failed: int
    correct: bool
    detail: str = ""


class StreamLoop:
    """Closed loop over one streaming query fed by a watched directory."""

    def __init__(self, query, src: str, stage: str, tracer):
        self.q, self.src, self.stage, self.tracer = query, src, stage, tracer
        self.published = 0

    def _committed(self) -> int:
        p = self.q.lastProgress
        if p is None:
            return -1
        # the file source's offset, e.g. {"logOffset": 7}, in whatever
        # rendering this pyspark version hands back
        return int(re.search(r"logOffset\D*(\d+)", str(p["sources"][0]["endOffset"]))[1])

    def round(self, write, record: bool = False) -> float:
        """Stage an input with ``write(stem) -> staged path``, publish
        it, and wait until the query has committed it; returns seconds."""
        staged = write(os.path.join(self.stage, f"in{self.published:06d}"))
        dest = os.path.join(self.src, os.path.basename(staged))
        wall, t0 = time.time(), time.perf_counter()
        publish(staged, dest)
        while True:
            self.q.processAllAvailable()
            t1 = time.perf_counter()
            if self._committed() >= self.published:
                break
        self.published += 1
        if self.tracer is not None:
            self.tracer.round_progress(self.q, wall, record)
        return t1 - t0


def _dirs(ctx: Ctx, *names: str) -> list[str]:
    out = []
    for n in names:
        d = os.path.join(ctx.work, n)
        os.makedirs(d, exist_ok=True)
        out.append(d)
    return out


def _drive(ctx: Ctx, loop: StreamLoop, live, drain, warmup: int) -> tuple:
    """Warm up, then the live window, then backlog drains; returns
    (setup_s, live latencies, drain rows/s)."""
    curve = [loop.round(live) for _ in range(warmup)]
    setup_s = time.perf_counter() - ctx.t_setup0
    ctx.report["warmup_curve_s"] = [round(x, 4) for x in curve]
    if ctx.tracer is not None:
        ctx.tracer.values["setup.warmup_s"] = sum(curve)
    clock = Clock(ctx.seconds)
    lat = []
    while clock.left() > ctx.seconds * (1 - LIVE_SHARE) or not lat:
        lat.append(loop.round(live, record=True))
    if ctx.tracer is not None:
        ctx.tracer.fold_rounds(lat)
    rates = []
    for _ in range(DRAINS):
        rows, fn = drain()
        rates.append(rows / loop.round(fn))
    ctx.report["window_s"] = time.perf_counter() - clock.t0
    return setup_s, lat, rates


# -- cdc_sync ------------------------------------------------------------------

def cdc_sync(spark, ctx: Ctx) -> Outcome:
    """Debezium envelopes -> decode_envelope -> copy-on-write
    snapshot-lake sink, one lake version per micro-batch."""
    from docker_based_real_time_etl_project_spark import lakesnap
    from docker_based_real_time_etl_project_spark.cdc import decode_envelope
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        ROW_SCHEMA,
        make_cdc_snap_sink,
    )

    src, stage, lake, ckpt = _dirs(ctx, "src", "stage", "lake", "ckpt")
    gen = CdcGen(ctx.seed, CDC_KEYS, CDC_DELETE, CDC_LATE)
    tr = ctx.tracer
    merge = lakesnap.snap_merge
    if tr is not None:
        lakesnap.snap_merge = tr.wrap("lakesnap.merge_s", merge)
    try:
        sink = make_cdc_snap_sink(lake)
    finally:
        lakesnap.snap_merge = merge
    if tr is not None:
        sink = tr.wrap("sink.call_s", sink)
        tr.lake = lake
    stream = spark.readStream.option("recursiveFileLookup", "true").text(src)
    q = (
        decode_envelope(stream, ROW_SCHEMA)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    loop = StreamLoop(q, src, stage, tr)

    def one_file(changes):
        def write(stem):
            gen.write(changes, stem + ".json")
            return stem + ".json"

        return write

    def live(stem):
        return one_file(gen.batch(CDC_ROUND_ROWS))(stem)

    def drain():
        per = CDC_DRAIN_ROWS // DRAIN_FILES
        parts = [gen.batch(per) for _ in range(DRAIN_FILES)]

        def write(stem):
            os.makedirs(stem)
            for i, p in enumerate(parts):
                gen.write(p, os.path.join(stem, f"part{i}.json"))
            return stem

        return sum(map(len, parts)), write

    ok, detail, failed = False, "", 0
    try:
        loop.round(one_file(gen.snapshot()))
        setup_s, lat, rates = _drive(ctx, loop, live, drain, WARMUP["cdc_sync"])
    except Exception as e:  # a failed round ends the run; it is reported
        traceback.print_exc()
        failed, detail = 1, f"{type(e).__name__}: {e}"
        setup_s, lat, rates = 0.0, [], []
    finally:
        q.stop()
    if not failed:
        got = {
            int(r["user_id"]): float(r["value"])
            for r in lakesnap.snap_read(spark, lake)
            .filter("NOT deleted").select("user_id", "value").collect()
        }
        want = cdc_last_writer_wins(gen.published)
        ok = got == want
        if not ok:
            bad = sorted(set(got.items()) ^ set(want.items()))[:5]
            detail = f"lake differs from last-writer-wins on {bad}"
        ctx.report["lake_rows"] = len(got)
    return Outcome(setup_s, lat, rates, loop.published, failed, ok, detail)


# -- tick_indicators -------------------------------------------------------------

def tick_indicators(spark, ctx: Ctx) -> Outcome:
    """Out-of-order ticks -> rsi_stream_ooo (watermark re-sort +
    applyInPandasWithState fold) -> foreachBatch sink collecting rows."""
    from pyspark.sql import types as T

    from docker_based_real_time_etl_project_spark.streaming.stateful import rsi_stream_ooo

    src, stage, ckpt = _dirs(ctx, "src", "stage", "ckpt")
    gen = TickGen(ctx.seed, TICK_SYMBOLS, TICK_SPAN_S, TICK_LATE)
    tr = ctx.tracer
    emitted: list = []

    def sink(df, batch_id):
        emitted.append(df.toArrow())

    if tr is not None:
        sink = tr.wrap("sink.call_s", sink)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        rsi_stream_ooo(stream, TICK_WATERMARK)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    loop = StreamLoop(q, src, stage, tr)

    def live(stem):
        gen.write(gen.batch(TICK_ROUND_ROWS), stem + ".parquet")
        return stem + ".parquet"

    def drain():
        parts = [gen.batch(TICK_ROUND_ROWS, TICK_DRAIN_WINDOWS // DRAIN_FILES)
                 for _ in range(DRAIN_FILES)]

        def write(stem):
            os.makedirs(stem)
            for i, p in enumerate(parts):
                gen.write(p, os.path.join(stem, f"part{i}.parquet"))
            return stem

        return sum(len(p["ts"]) for p in parts), write

    ok, detail, failed = False, "", 0
    try:
        setup_s, lat, rates = _drive(ctx, loop, live, drain, WARMUP["tick_indicators"])
        progress = q.recentProgress
    except Exception as e:  # a failed round ends the run; it is reported
        traceback.print_exc()
        failed, detail = 1, f"{type(e).__name__}: {e}"
        setup_s, lat, rates = 0.0, [], []
    finally:
        q.stop()
    if not failed:
        ok, detail = _check_rsi(emitted, gen, progress)
    return Outcome(setup_s, lat, rates, loop.published, failed, ok, detail)


def _wm_us(progress) -> int:
    iso = progress["eventTime"]["watermark"]
    return int(dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e6)


def _check_rsi(emitted: list, gen: TickGen, progress) -> tuple[bool, str]:
    """Per symbol, the emitted rows must be a prefix of the reference
    fold that holds at least every tick below the watermark of the last
    data batch and none at or above the final watermark."""
    import pyarrow as pa

    got: dict[str, list] = {}
    if emitted:
        tbl = pa.concat_tables(emitted)
        for s, t, r in zip(*(tbl.column(c).to_pylist()
                             for c in ("event_type", "ts_us", "rsi_micro"))):
            got.setdefault(s, []).append((t, r))
    lo_wm = _wm_us([p for p in progress if p["numInputRows"] > 0][-1])
    hi_wm = _wm_us(progress[-1])
    bad = []
    for s, want in rsi_rows(gen.published, gen.symbols).items():
        g = got.pop(s, [])
        lo = sum(t < lo_wm for t, _ in want)
        hi = sum(t < hi_wm for t, _ in want)
        if g != want[: len(g)] or not lo <= len(g) <= hi:
            at = next((i for i, (a, b) in enumerate(zip(g, want)) if a != b), len(g))
            bad.append(f"{s}: {len(g)} rows, expected {lo}..{hi}, "
                       f"first difference at row {at}")
    bad += [f"{s}: unexpected symbol" for s in got]
    return not bad, "; ".join(bad[:3])


WORKLOADS = {
    "cdc_sync": cdc_sync,
    "tick_indicators": tick_indicators,
}
