"""Custom stateful streaming operators on ``applyInPandasWithState``
(the engine's answer to "arbitrary per-key streaming state" -- the
reference has no equivalent; its only state is Connect offset tracking,
docker-compose.yml:52-54).

Two kinds live here:

* Twelve streaming indicator families (EWMA, RSI, Bollinger, MACD,
  tick imbalance, CUSUM, volume bars, Kyle lambda, Roll spread, ACF,
  max drawdown, realized variance). Each is ONE fold over a key's
  (ts, event_id)-sorted rows, ``fold(carry, arrays) -> (carry, out)``,
  plus its carry and output schemas. The single combinator
  :func:`_fold_stream` turns a fold into an in-order stream or, behind
  a watermark-delayed re-sort buffer, an out-of-order (OOO) one; the
  ``*_stream`` / ``*_stream_ooo`` builders only pick the fold.
* Operators whose state is not a fold over sorted rows: running
  totals, the as-of attach, content dedup, top-k, interval
  concurrency and the deadline funnel.

Integer-cent arithmetic throughout keeps every emitted partial
bit-identical however micro-batches split, which is what lets the
drained streams be hash-checked against the batch oracle.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

_TYPES = {
    "long": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "long[]": T.ArrayType(T.LongType()),
}


def _schema(spec: str) -> T.StructType:
    """``"n long, ewma double"`` -> StructType (nullable fields)."""
    return T.StructType(
        [T.StructField(n, _TYPES[t]) for n, t in (f.split() for f in spec.split(","))]
    )


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _update_totals(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value"].mul(100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_sum": [cents / 100.0]}
    )


def running_totals_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-user running (n_events, value_sum), one emitted row per key
    per micro-batch it appears in; the row with the largest n_events per
    key is the final total. Arrow-batched state function -- the Python
    boundary processes whole batches, never row-at-a-time. The value
    sum is carried in integer cents, so emitted totals are exact however
    micro-batches split."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def final_totals(emitted: DataFrame) -> DataFrame:
    """Collapse the emitted update stream to the final totals per user
    (n_events is monotone per key, so max_by is deterministic)."""
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("value_sum", "n_events").alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Streaming as-of join (temporal join): attach latest right-side state
# ---------------------------------------------------------------------------

_ASOF_OUT = T.StructType(
    [
        T.StructField("trade_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("trade_ts_us", T.LongType()),
        T.StructField("trade_value", T.DoubleType()),
        T.StructField("quote_id", T.LongType()),
        T.StructField("quote_value", T.DoubleType()),
        T.StructField("quote_age_us", T.LongType()),
    ]
)
_ASOF_STATE = T.StructType(
    [
        T.StructField("q_id", T.LongType()),
        T.StructField("q_val", T.DoubleType()),
        T.StructField("q_ts_us", T.LongType()),
    ]
)


def _make_attach_asof(tolerance_us: int | None):
    def _attach_asof(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        q_id, q_val, q_ts = state.get if state.exists else (None, None, None)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # deterministic event order inside the batch: quotes before trades
        # at equal ts (inclusive match), event_id as the final tiebreak
        pdf = pdf.sort_values(
            ["ts", "side", "event_id"], kind="mergesort"
        ).reset_index(drop=True)
        ts_us = _ts_us(pdf["ts"])
        side = pdf["side"].to_numpy()
        eid = pdf["event_id"].to_numpy()
        val = pdf["value"].to_numpy()
        # vectorized within-batch carry: index of the latest quote row at
        # or before each row (-1 = none yet in batch -> fall back to state)
        is_q = side == 0
        last_q = np.maximum.accumulate(np.where(is_q, np.arange(len(pdf)), -1))
        tr = np.flatnonzero(side == 1)
        src = last_q[tr]
        in_batch = src >= 0
        # masked int64 carry, never float NaN sentinels: routing 64-bit
        # ids/timestamps through float64 would silently corrupt values
        # above 2^53 (snowflake-style ids exceed it). Where a row has no
        # in-batch quote, the np.where fallback is the state value (an
        # int, so the arrays STAY int64); `valid` tracks which rows
        # genuinely carry a quote and masks the rest at emission.
        src_idx = np.maximum(src, 0)
        qid_out = eid[src_idx]
        qval_out = val[src_idx]
        qts_out = ts_us[src_idx]
        if q_id is not None:
            qid_out = np.where(in_batch, qid_out, np.int64(q_id))
            qval_out = np.where(in_batch, qval_out, q_val)
            qts_out = np.where(in_batch, qts_out, np.int64(q_ts))
            valid = np.ones(len(tr), dtype=bool)
        else:
            valid = in_batch.copy()
        # roll the state forward to the batch's latest quote. The state
        # tuple is kept even under a tolerance (the bound is evaluated
        # per trade against the trade's own timestamp, exactly like the
        # batch operator's post-window predicate — dropping state early
        # would change semantics for a later trade inside the bound).
        if is_q.any():
            last = int(np.flatnonzero(is_q)[-1])
            state.update((int(eid[last]), float(val[last]), int(ts_us[last])))
        elif state.exists:
            state.update((q_id, q_val, q_ts))
        has_q = valid
        if tolerance_us is not None:
            # a carried quote older than the bound nulls out atomically
            # (garbage lanes are already False in has_q, so the int64
            # arithmetic on them cannot flip a masked row back on)
            has_q = has_q & (ts_us[tr] - qts_out <= tolerance_us)
        miss = ~has_q
        yield pd.DataFrame(
            {
                "trade_id": eid[tr],
                "user_id": np.full(len(tr), key[0], dtype="int64"),
                "trade_ts_us": ts_us[tr],
                "trade_value": val[tr],
                "quote_id": pd.arrays.IntegerArray(
                    qid_out.astype("int64"), mask=miss.copy()
                ),
                "quote_value": np.where(has_q, qval_out, np.nan),
                "quote_age_us": pd.arrays.IntegerArray(
                    (ts_us[tr] - qts_out).astype("int64"), mask=miss.copy()
                ),
            }
        )

    return _attach_asof


def asof_attach_stream(
    tagged: DataFrame,
    watermark: str = "4 hours",
    tolerance_us: int | None = None,
) -> DataFrame:
    """STREAMING as-of join (the temporal join Spark lacks; Flink calls
    it a temporal table join): per key, every left row (``side`` 1) is
    emitted once, carrying the latest right row (``side`` 0) at or
    before its timestamp — right state is ONE tuple per key, updated as
    right rows flow past.

    Input: a single tagged stream with columns (event_id, user_id, ts,
    value, side) — the same same-source shape as the batch
    ``asof_join_backward_same_source``. Correctness across micro-batches
    requires per-key ts-monotone arrival (equal timestamps must share a
    batch), which the engine's time-range replay slicing guarantees and
    a Kafka source partitioned by key with in-order producers matches;
    within a batch, order is re-established by an explicit sort.

    The batch window form needs the full history shuffled per query; this
    form's state is O(keys) — ONE carried tuple per key however long the
    stream runs, which is what makes the operator deployable on an
    unbounded stream. applyInPandasWithState processes whole Arrow
    batches; the carry is a vectorized maximum.accumulate, no per-row
    Python.

    ``tolerance_us`` bounds staleness exactly like the batch operator's
    ``tolerance``: a carried quote older than the bound (relative to
    each trade's own timestamp) nulls the whole attached tuple."""
    return (
        tagged.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_attach_asof(tolerance_us),
            outputStructType=_ASOF_OUT,
            stateStructType=_ASOF_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming content dedup: first-arrival-wins by content fingerprint
# ---------------------------------------------------------------------------

_DEDUP_OUT = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("keep_doc_id", T.LongType()),
    ]
)
_DEDUP_STATE = T.StructType([T.StructField("kept", T.LongType())])


def _keep_first(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    mn = min(int(pdf["doc_id"].min()) for pdf in pdfs)
    if state.exists:
        # fingerprint already admitted in an earlier batch: drop copies
        return
    state.update((mn,))
    yield pd.DataFrame({"fp": [key[0]], "keep_doc_id": [mn]})


def content_dedup_stream(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Streaming corpus-ingest dedup: exactly one row is admitted per
    distinct content fingerprint, the MINIMUM id among same-batch
    copies (deterministic — plain ``dropDuplicates`` keeps whichever
    copy a partition happened to process first) and the earliest batch
    across batches. State is one entry per distinct fingerprint —
    irreducible for exact dedup (every fingerprint ever admitted must
    stay queryable); at 100 TB that is the RocksDB-backed state store
    with the fingerprint itself as the grouping key, ~50 bytes per
    DISTINCT document, sharded across executors by the same hash the
    groupBy already does."""
    keyed = docs.select(
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.col(id_col).alias("doc_id"),
    )
    return keyed.groupBy("fp").applyInPandasWithState(
        _keep_first,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TOPK_OUT = T.StructType(
    [
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("rnk", T.IntegerType()),
        T.StructField("upd", T.LongType()),
    ]
)
_TOPK_STATE = T.StructType(
    [
        T.StructField("okeys", T.ArrayType(T.LongType())),
        T.StructField("prices", T.ArrayType(T.DoubleType())),
        T.StructField("upd", T.LongType()),
    ]
)
_TOPK_K = 3


def _update_topk(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        okeys, prices, upd = state.get
        rows = list(zip(prices, okeys))
    else:
        rows, upd = [], 0
    for pdf in pdfs:
        rows.extend(
            zip(pdf["o_totalprice"].astype(float), pdf["o_orderkey"].astype("int64"))
        )
    # deterministic total order: value DESC, then orderkey ASC — the
    # same tiebreak the batch window uses, so state merge order can't
    # change the survivors
    rows.sort(key=lambda t: (-t[0], t[1]))
    top = rows[:_TOPK_K]
    upd += 1
    state.update(
        ([int(k) for _, k in top], [float(p) for p, _ in top], upd)
    )
    yield pd.DataFrame(
        {
            "o_custkey": [key[0]] * len(top),
            "o_orderkey": [int(k) for _, k in top],
            "o_totalprice": [float(p) for p, _ in top],
            "rnk": list(range(1, len(top) + 1)),
            "upd": [upd] * len(top),
        }
    )


def topk_per_group_stream(orders: DataFrame) -> DataFrame:
    """Streaming A3: the per-customer top-3 leaderboard maintained as
    orders arrive. State per key is exactly the current top-k tuples
    (k=3: three (orderkey, price) pairs — O(k) per key, nothing else is
    needed because top-k under a total order is mergeable: the top-k of
    (state ∪ batch) only ever draws from state's top-k and the batch).
    Each batch a key appears in re-emits its full current top-k stamped
    with an update counter; the rows carrying the key's MAX counter are
    the final leaderboard. The batch twin (q_win_rank) shuffles once on
    the group key; this form never shuffles history — each new order
    meets k tuples of state, which is the leaderboard shape a 100 TB
    order stream needs (state size = customers x k, not orders)."""
    return orders.groupBy("o_custkey").applyInPandasWithState(
        _update_topk,
        outputStructType=_TOPK_OUT,
        stateStructType=_TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# The fold combinator: one stateful-operator skeleton for every indicator
# ---------------------------------------------------------------------------


def _ts_us(series: pd.Series) -> "np.ndarray":
    """Timestamp series -> int64 microseconds-since-epoch, tz-safe.

    Arrow can hand applyInPandasWithState folds tz-aware timestamps;
    numpy's tz-aware->datetime64 parse is deprecated (future pandas
    raises). The session tz is pinned UTC, so converting to UTC and
    stripping the zone is value-identical."""
    if getattr(series.dtype, "tz", None) is not None:
        series = series.dt.tz_convert("UTC").dt.tz_localize(None)
    return series.to_numpy().astype("datetime64[us]").astype("int64")


def _fmt_us(us: "np.ndarray", fmt: str) -> "np.ndarray":
    """UTC rendering of microsecond ints, identical to the engine's
    date_format under the session's pinned UTC timezone."""
    return pd.Series(us.astype("datetime64[us]")).dt.strftime(fmt).to_numpy()


def _load(pdfs: Iterable[pd.DataFrame], cols: tuple[str, ...]):
    """A group's rows for this micro-batch as parallel arrays
    ``(ts_us, event_id, *cols)`` in arrival order, or None if it has
    none. ``"cents"`` is ``value`` scaled to integer cents; any other
    name is that column as-is.

    ALL of the group's Arrow chunks are concatenated first:
    applyInPandasWithState splits a group's batch into chunks past
    spark.sql.execution.arrow.maxRecordsPerBatch (~10k) with no
    cross-chunk ordering guarantee, so only the whole batch can be
    sorted."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return (_ts_us(pdf["ts"]), pdf["event_id"].to_numpy().astype("int64")) + tuple(
        pdf["value"].mul(100).round().astype("int64").to_numpy()
        if c == "cents"
        else pdf[c].to_numpy()
        for c in cols
    )


def _sort_rows(rows: tuple["np.ndarray", ...]) -> tuple["np.ndarray", ...]:
    """Parallel arrays reordered by (ts, event_id), stably."""
    order = np.lexsort((rows[1], rows[0]))
    return tuple(a[order] for a in rows)


def _buffer_release(
    state: GroupState,
    buf: tuple["np.ndarray", ...],
    new: tuple["np.ndarray", ...] | None,
) -> tuple[tuple["np.ndarray", ...], tuple["np.ndarray", ...]]:
    """Merge new rows into the reorder buffer, split at the watermark.
    ``buf``/``new`` are parallel (ts_us, event_id, ...) arrays; returns
    (released sorted by (ts, event_id), kept).

    Arrivals BELOW the current watermark are dropped here, explicitly:
    applyInPandasWithState does not pre-filter late rows the way
    windowed aggregations do (verified empirically —
    tests/test_streaming.py::test_ooo_late_beyond_watermark_is_dropped
    fails without this filter), and folding such a row would mean
    emitting it AFTER later-ts rows already released in earlier
    batches."""
    wm_us = state.getCurrentWatermarkMs() * 1000
    if new is not None:
        fresh = new[0] >= wm_us
        if not fresh.all():
            new = tuple(a[fresh] for a in new)
        buf = tuple(np.concatenate((b, x)) for b, x in zip(buf, new))
    rel = buf[0] < wm_us
    return _sort_rows(tuple(a[rel] for a in buf)), tuple(a[~rel] for a in buf)


Fold = Callable[[tuple | None, tuple], tuple[tuple, pd.DataFrame | None]]


def _fold_update(
    keys: tuple[str, ...],
    fold: Fold,
    cols: tuple[str, ...],
    dtypes: tuple[type, ...],
    n_carry: int,
    ooo: bool,
):
    """The applyInPandasWithState function behind :func:`_fold_stream`
    (``dtypes``: the numpy dtype of each buffered column, used only
    when ``ooo``)."""
    n_buf = len(dtypes) if ooo else 0

    def update(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            buf, carry = st[:n_buf], st[n_buf:]
            if all(v is None for v in carry):
                carry = None
        else:
            buf, carry = ([],) * n_buf, None
        if ooo:
            new = None if state.hasTimedOut else _load(pdfs, cols)
            rows, kept = _buffer_release(
                state, tuple(np.asarray(b, d) for b, d in zip(buf, dtypes)), new
            )
        else:
            rows = _load(pdfs, cols)
            if rows is None:
                return
            rows = _sort_rows(rows)
        out = None
        if len(rows[0]):
            carry, out = fold(carry, rows)
        if ooo:
            state.update(tuple(a.tolist() for a in kept) + (carry or (None,) * n_carry))
            if len(kept[0]):
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(wm_ms + 1, int(kept[0].max()) // 1000 + 1))
        else:
            state.update(carry)
        if out is not None and len(out):
            for i, k in enumerate(keys):
                out.insert(i, k, key[i])
            yield out

    return update


def _fold_stream(
    events: DataFrame,
    keys: tuple[str, ...],
    fold: Fold,
    carry_schema: T.StructType,
    out_schema: T.StructType,
    cols: tuple[str, ...],
    ooo: bool,
    watermark: str,
    mode: str = "append",
) -> DataFrame:
    """Run ``fold`` as a per-``keys`` streaming operator.

    ``fold(carry, rows) -> (carry, out)`` sees a key's rows as parallel
    numpy arrays ``(ts_us, event_id, *cols)`` sorted by (ts, event_id)
    (see :func:`_load` for ``cols``), never an empty run. ``carry`` is
    the tuple it returned last time (fields laid out by
    ``carry_schema``; any may be None), or None for a fresh key. ``out``
    is a pandas frame with ``out_schema``'s columns, or None; the key
    columns are prepended here and empty output is skipped.

    In order (``ooo=False``): each micro-batch's rows are sorted and
    folded at once. Correct only if every key's rows arrive in
    (ts, event_id) order ACROSS batches (the availableNow replay
    slicer cuts on ts value boundaries, so equal timestamps never
    straddle batches); no timeout.

    Out of order (``ooo=True``): a per-key reorder buffer fronts the
    fold. State is the buffer (one array per column, schema derived
    from ``cols``) followed by the carry. Each call:

    1. drops arrivals with ts below the current event-time watermark
       (beyond the lateness bound: discarded, never misordered);
    2. releases every buffered row with ts strictly below the
       watermark, sorted by (ts, event_id). Batch k releases
       [wm_{k-1}, wm_k), so releases are totally ordered across
       batches and the fold sees exactly the in-order sequence
       however shuffled the arrival was;
    3. folds the release, keeps the rest buffered, and, while rows
       stay buffered, re-arms an EventTimeTimeout at
       ``max(wm + 1, max_kept_ms + 1)`` so tail rows flush once the
       watermark passes them without new data for the key (the replay
       harness appends a max-ts sentinel to push it past the end).

    State per key is the carry plus the rows inside the delay window:
    the irreducible price of lateness tolerance (Flink's event-time
    sort pays the same)."""
    dtypes = (np.int64, np.int64) + tuple(
        np.float64
        if c != "cents" and isinstance(events.schema[c].dataType, T.DoubleType)
        else np.int64
        for c in cols
    )
    state_schema = carry_schema
    if ooo:
        state_schema = T.StructType(
            [
                T.StructField(
                    f"buf_{c}",
                    T.ArrayType(T.DoubleType() if d is np.float64 else T.LongType()),
                )
                for c, d in zip(("ts", "eid", *cols), dtypes)
            ]
            + carry_schema.fields
        )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            _fold_update(keys, fold, cols, dtypes, len(carry_schema), ooo),
            outputStructType=T.StructType(
                [T.StructField(k, events.schema[k].dataType) for k in keys]
                + out_schema.fields
            ),
            stateStructType=state_schema,
            outputMode=mode,
            timeoutConf=GroupStateTimeout.EventTimeTimeout
            if ooo
            else GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# EWMA: the non-associative recursion
# ---------------------------------------------------------------------------

_EWMA_OUT = _schema("n_events long, ewma double")
_EWMA_CARRY = _schema("n long, ewma double")


def _ewma_fold(carry, rows):
    """Sequential EWMA recursion (alpha = 0.2). A plain Python float
    loop ON PURPOSE: the batch engine folds acc*0.8 + 0.2*x in exactly
    this operation order, and Python floats are the same IEEE-754
    doubles — so the streaming result is BIT-identical to the batch
    fold, which pandas' ewm() (adjust/init semantics differ) would not
    give. EWMA is non-associative, so unlike RSI/Bollinger this fold
    cannot be vectorized without changing the operation sequence."""
    n, ewma = carry or (0, None)
    vals = rows[2].tolist()
    for x in vals:
        ewma = x if ewma is None else ewma * 0.8 + 0.2 * x
    n += len(vals)
    return (n, ewma), pd.DataFrame({"n_events": [n], "ewma": [ewma]})


def _by_day(events: DataFrame) -> DataFrame:
    return events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def ewma_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-(event_type, day) streaming EWMA, one updated row per key
    per batch; in-order replay per key (see :func:`_fold_stream`)."""
    return _fold_stream(
        _by_day(events), ("event_type", "day"), _ewma_fold, _EWMA_CARRY,
        _EWMA_OUT, ("value",), False, watermark, mode="update",
    )


def ewma_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """EWMA over an OUT-OF-ORDER stream: any arrival order whose
    lateness stays within ``watermark`` hash-matches the in-order run
    bit for bit."""
    return _fold_stream(
        _by_day(events), ("event_type", "day"), _ewma_fold, _EWMA_CARRY,
        _EWMA_OUT, ("value",), True, watermark, mode="update",
    )


def final_ewma(emitted: DataFrame) -> DataFrame:
    """Final EWMA per key from the update stream (n_events monotone
    per key -> max_by picks the last emission), micro-snapped to the
    batch oracle's contract."""
    return emitted.groupBy("event_type", "day").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.round(F.max_by("ewma", "n_events") * 1e6).cast("bigint").alias("ewma_micro"),
    )


# ---------------------------------------------------------------------------
# RSI and Bollinger: sliding integer windows carried as rings
# ---------------------------------------------------------------------------

# ts_us is int64 epoch-micros: string rendering happens ENGINE-side
# after the drain (JVM date_format in whole-stage codegen)
_RSI_OUT = _schema("ts_us long, rsi_micro long")
# count, last price (integer cents) and the ring of the last 14 deltas
_RSI_CARRY = _schema("n long, last_cents long, diffs long[]")


def _rsi_fold(carry, rows):
    """Vectorized Cutler-RSI (14-period) fold: every qualifying row
    (>= 15th of its key) emits RSI from the exact integer window.

    Integer arithmetic is associative, so the window sums are numpy
    int64 cumsum differences — bit-identical to a per-row loop (every
    quantity is an exact int64: 14·|Δcents| ≤ ~1e8, ×1e8 ≤ 1e16 <
    2^63), at ~100× less interpreter cost per batch, which matters
    because state is keyed by event_type (few keys) so all of a key's
    rows funnel through one task."""
    ts_us, _, cents = rows
    n, last, diffs = carry or (0, None, [])
    m = len(cents)
    ring = np.asarray(diffs, dtype=np.int64)
    if last is None:
        d_new = np.diff(cents)
        first_delta_row = 1  # row 0 has no delta
    else:
        d_new = np.diff(np.concatenate((np.asarray([last], np.int64), cents)))
        first_delta_row = 0
    full = np.concatenate((ring, d_new))
    gains = np.concatenate(([0], np.cumsum(np.where(full > 0, full, 0))))
    losses = np.concatenate(([0], np.cumsum(np.where(full < 0, -full, 0))))
    emit = np.flatnonzero(n + np.arange(m) + 1 >= 15)
    # index in `full` of the delta ending at row i; emission implies at
    # least 14 deltas end there, so the [j-13, j] window is always full
    j = len(ring) + emit - first_delta_row
    sg = gains[j + 1] - gains[j - 13]
    sl = losses[j + 1] - losses[j - 13]
    tot = sg + sl
    rsi = (100_000_000 * sg) // np.where(tot > 0, tot, 1)
    out = pd.DataFrame(
        {
            "ts_us": ts_us[emit],
            "rsi_micro": pd.arrays.IntegerArray(rsi.astype("int64"), mask=(tot == 0)),
        }
    )
    return (n + m, int(cents[-1]), full[-14:].tolist()), out


def rsi_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming 14-period RSI; in-order replay per key
    (see :func:`_fold_stream`). State is O(1) per key."""
    return _fold_stream(
        events, ("event_type",), _rsi_fold, _RSI_CARRY, _RSI_OUT, ("cents",),
        False, watermark,
    )


def rsi_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """14-period RSI over an OUT-OF-ORDER stream; emits append-mode
    rows identical to the in-order twin whenever lateness stays within
    ``watermark``."""
    return _fold_stream(
        events, ("event_type",), _rsi_fold, _RSI_CARRY, _RSI_OUT, ("cents",),
        True, watermark,
    )


# sd_raw is a raw double: the half-away micro rounding happens
# engine-side after the drain (Python round() is half-EVEN — a
# divergence trap this schema dodges by construction)
_BOLL_OUT = _schema("ts_us long, mean_micro long, sd_raw double")
_BOLL_CARRY = _schema("ring long[]")


def _boll_fold(carry, rows):
    """Vectorized 20-period Bollinger fold over the last 20 prices
    (integer cents): each row once the ring is full emits the rolling
    mean (integer division) and population stddev.

    The sliding Σc and Σc² are exact int64 cumsum differences
    (c ≤ ~1e6 cents → c² ≤ 1e12; a key's batch would need ~9e6 rows
    before the Σc² cumsum itself neared 2^63), and σ touches float
    exactly once — np.sqrt of an exactly-representable integer
    (20·Σc²−(Σc)² ≤ ~4e14 < 2^53) is the same correctly-rounded IEEE
    double math.sqrt produces, then /20*10000 in the identical
    operation order. Bit-identical to the batch engines'."""
    ts_us, _, cents = rows
    ring = np.asarray(carry[0] if carry else [], dtype=np.int64)
    full = np.concatenate((ring, cents))
    c1 = np.concatenate(([0], np.cumsum(full)))
    c2 = np.concatenate(([0], np.cumsum(full * full)))
    emit = np.flatnonzero(len(ring) + np.arange(len(cents)) + 1 >= 20)
    e = len(ring) + emit  # window [e-19, e] in `full` is always full at emission
    s = c1[e + 1] - c1[e - 19]
    s2 = c2[e + 1] - c2[e - 19]
    out = pd.DataFrame(
        {
            "ts_us": ts_us[emit],
            "mean_micro": (s * 10000) // 20,
            "sd_raw": np.sqrt((20 * s2 - s * s).astype("float64")) / 20 * 10000,
        }
    )
    return (full[-20:].tolist(),), out


def bollinger_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming 20-period Bollinger stats; in-order
    replay per key (see :func:`_fold_stream`)."""
    return _fold_stream(
        events, ("event_type",), _boll_fold, _BOLL_CARRY, _BOLL_OUT, ("cents",),
        False, watermark,
    )


def bollinger_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """20-period Bollinger stats over an OUT-OF-ORDER stream;
    bit-identical to the in-order twin whenever lateness stays within
    ``watermark``."""
    return _fold_stream(
        events, ("event_type",), _boll_fold, _BOLL_CARRY, _BOLL_OUT, ("cents",),
        True, watermark,
    )


# ---------------------------------------------------------------------------
# MACD: daily-close EMA-12/EMA-26
# ---------------------------------------------------------------------------

# macd_raw is a raw double: the half-away micro snap happens
# engine-side after the drain (same rounding-trap dodge as Bollinger)
_MACD_OUT = _schema("n_days long, macd_raw double, upd long")
# e12/e26 are null until a day completes; last_day (UTC day number)
# and close are null until the first row
_MACD_CARRY = _schema(
    "n_rows long, n_days long, e12 double, e26 double, last_day long, close double"
)

_A12 = 2.0 / 13.0
_A26 = 2.0 / 27.0


def _ema_step(e: float | None, a: float, c: float) -> float:
    # identical IEEE sequence to the batch F.aggregate fold: init on the
    # first close, then acc*(1-a) + a*c with the same constant-folded a
    return c if e is None else e * (1.0 - a) + a * c


def _macd_fold(carry, rows):
    """Fold rows into the EMA-12/26 of completed daily closes and emit
    the provisional MACD as if the stream ended now: one extra EMA step
    on the running close, the exact operation the batch engine
    performs on its final array element. The last emission per key
    (max upd) is therefore BIT-identical to the batch q_macd fold.

    Day identity is the UTC day number, identical to the batch
    date_trunc('day') under the session's UTC timezone. The Python
    loop is over day-run boundaries (bounded by the calendar, not
    rows); run ends are found vectorized."""
    ts_us, _, vals = rows
    n_rows, n_days, e12, e26, last_day, close = carry or (0, 0, None, None, None, None)
    day_idx = ts_us // _DAY_US
    ends = np.flatnonzero(np.concatenate((day_idx[1:] != day_idx[:-1], [True])))
    for e in ends:
        d, c = int(day_idx[e]), float(vals[e])
        if d == last_day:
            close = c
        else:
            if last_day is not None:
                e12 = _ema_step(e12, _A12, close)
                e26 = _ema_step(e26, _A26, close)
            last_day, close = d, c
            n_days += 1
    n_rows += len(ts_us)
    macd = _ema_step(e12, _A12, close) - _ema_step(e26, _A26, close)
    return (n_rows, n_days, e12, e26, last_day, close), pd.DataFrame(
        {"n_days": [n_days], "macd_raw": [macd], "upd": [n_rows]}
    )


def macd_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming MACD line (EMA-12 − EMA-26 of daily
    closes); in-order replay per key (see :func:`_fold_stream`). State
    is six scalars per key — O(grain), however long the stream runs."""
    return _fold_stream(
        events, ("event_type",), _macd_fold, _MACD_CARRY, _MACD_OUT, ("value",),
        False, watermark, mode="update",
    )


def macd_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """Streaming MACD over an OUT-OF-ORDER stream: the final (max-upd)
    emission per key hash-matches the batch q_macd oracle for any
    arrival order whose lateness stays within ``watermark``. VWAP
    needs no such twin (associative integer sums — arrival order
    cannot change it)."""
    return _fold_stream(
        events, ("event_type",), _macd_fold, _MACD_CARRY, _MACD_OUT, ("value",),
        True, watermark, mode="update",
    )


# ---------------------------------------------------------------------------
# Tick rule: tick imbalance, Kyle lambda, Roll spread
# ---------------------------------------------------------------------------

# rows seen, last price (cents), last non-zero tick sign (0 = none yet)
_TICK_CARRY = _schema("n long, last_cents long, last_sign long")
_TICKIMB_OUT = _schema(
    "hour string, buy_vol long, sell_vol long, signed_vol long, n_buys long, n_sells long"
)
_KYLE_OUT = _schema("n_obs long, sxy long, sx long, sy long, sx2 long")
# rows seen, last price, last delta (valid iff rows seen >= 2)
_ROLL_CARRY = _schema("n long, last_cents long, last_d long")
_ROLL_OUT = _schema("day string, n_pairs long, sxy long, sx long, sy long")


def _deltas(n: int, last: int, cents: "np.ndarray") -> "np.ndarray":
    """Price deltas of one ordered run, seeded by the carried last
    price. Row 0 of a FRESH key (n == 0) has no predecessor; its delta
    is reported as 0 and must be excluded by consumers that need true
    deltas, exactly as the batch operators drop the first NULL lag."""
    if n == 0:
        return np.concatenate((np.zeros(1, np.int64), np.diff(cents)))
    return np.diff(np.concatenate((np.asarray([last], np.int64), cents)))


def _tick_sign(carry, cents: "np.ndarray"):
    """Vectorized tick-rule signing of one ordered run: sign of the
    delta chain, zero ticks forward-filled from the last non-zero sign
    by an index maximum-accumulate. Returns the updated carry, the
    per-row effective signs and the per-row deltas (see _deltas)."""
    n, last, last_sign = carry or (0, 0, 0)
    d = _deltas(n, last, cents)
    raw = np.sign(d).astype(np.int64)
    idx = np.where(raw != 0, np.arange(len(raw)), -1)
    np.maximum.accumulate(idx, out=idx)
    eff = np.where(idx >= 0, raw[np.maximum(idx, 0)], np.int64(last_sign))
    new_sign = int(eff[-1]) if eff[-1] else last_sign
    return (n + len(cents), int(cents[-1]), new_sign), eff, d


def _tick_imbalance_fold(carry, rows):
    """Per-hour integer PARTIAL sums of tick-signed volume. Partials
    are associative, so the post-drain groupBy-sum hash-matches the
    batch oracle exactly however micro-batches split hours. Hours come
    from the rows' own timestamps, so nothing order-dependent leaves
    the fold."""
    ts_us, _, cents, vol = rows
    carry, eff, _ = _tick_sign(carry, cents)
    part = (
        pd.DataFrame(
            {
                "hour": ts_us // _HOUR_US,
                "buy_vol": np.where(eff == 1, vol, 0),
                "sell_vol": np.where(eff == -1, vol, 0),
                "signed_vol": eff * vol,
                "n_buys": (eff == 1).astype(np.int64),
                "n_sells": (eff == -1).astype(np.int64),
            }
        )
        .groupby("hour", as_index=False, sort=False)
        .sum()
    )
    part["hour"] = _fmt_us(part["hour"].to_numpy() * _HOUR_US, "%Y-%m-%d %H:%M:%S")
    return carry, part


def _kyle_fold(carry, rows):
    """Online price-impact regression: the five OLS sums are
    associative, so each batch emits one int64 PARTIAL row (y = price
    delta, x = tick-signed volume; the first row of a fresh key has no
    delta and is excluded, matching the batch operator's NULL-lag
    drop). The slope itself is computed post-drain in DECIMAL(38,0),
    where the cross terms outgrow int64."""
    _, _, cents, vol = rows
    skip = 1 if carry is None else 0
    carry, eff, d = _tick_sign(carry, cents)
    x, y = (eff * vol)[skip:], d[skip:]
    if not len(x):
        return carry, None
    return carry, pd.DataFrame(
        {
            "n_obs": [len(x)],
            "sxy": [int((x * y).sum())],
            "sx": [int(x.sum())],
            "sy": [int(y.sum())],
            "sx2": [int((x * x).sum())],
        }
    )


def _roll_fold(carry, rows):
    """Per-day serial-covariance PARTIALS (n, Σd₁d₀, Σd₁, Σd₀) for the
    Roll estimator: the delta chain is seeded by the carried last
    price, the lagged delta by the carried last delta, and a row
    contributes iff its GLOBAL index ≥ 2 (both deltas defined —
    exactly the batch operator's double-NULL-lag drop). Integer
    partials are associative; the spread's sqrt happens post-drain."""
    ts_us, _, cents = rows
    n, last_c, last_d = carry or (0, 0, 0)
    d = _deltas(n, last_c, cents)
    d0 = np.concatenate((np.asarray([last_d], np.int64), d[:-1]))
    valid = (n + np.arange(len(cents))) >= 2
    carry = (n + len(cents), int(cents[-1]), int(d[-1]))
    if not valid.any():
        return carry, None
    part = (
        pd.DataFrame(
            {
                "day": ts_us[valid] // _DAY_US,
                "n_pairs": np.ones(int(valid.sum()), np.int64),
                "sxy": (d * d0)[valid],
                "sx": d[valid],
                "sy": d0[valid],
            }
        )
        .groupby("day", as_index=False, sort=False)
        .sum()
    )
    part["day"] = _fmt_us(part["day"].to_numpy() * _DAY_US, "%Y-%m-%d")
    return carry, part


def _vol_filled(events: DataFrame) -> DataFrame:
    # sentinel flush rows carry no volume (null), and they must flow
    # THROUGH the state op (a pre-stateful filter gets pushed below the
    # watermark node and would stop the sentinel from advancing it);
    # their emissions are dropped post-drain by key
    return events.fillna(0, subset=["vol"])


def tick_imbalance_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming tick-rule imbalance with 3 longs of
    state per key; in-order replay per key (see :func:`_fold_stream`).
    Expects an integer ``vol`` column attached JVM-side."""
    return _fold_stream(
        events, ("event_type",), _tick_imbalance_fold, _TICK_CARRY, _TICKIMB_OUT,
        ("cents", "vol"), False, watermark,
    )


def tick_imbalance_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """Tick-rule imbalance over an OUT-OF-ORDER stream: any arrival
    order whose lateness stays within ``watermark`` emits partials
    that sum to the in-order (= batch-oracle) result exactly."""
    return _fold_stream(
        _vol_filled(events), ("event_type",), _tick_imbalance_fold, _TICK_CARRY,
        _TICKIMB_OUT, ("cents", "vol"), True, watermark,
    )


def kyle_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming Kyle-lambda partials over the 3-long
    tick-sign carry; in-order replay per key (see
    :func:`_fold_stream`). Expects an integer ``vol`` column attached
    JVM-side."""
    return _fold_stream(
        events, ("event_type",), _kyle_fold, _TICK_CARRY, _KYLE_OUT,
        ("cents", "vol"), False, watermark,
    )


def roll_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-(event_type, UTC day) streaming Roll-spread partials over 3
    longs of state; in-order replay per key (see
    :func:`_fold_stream`)."""
    return _fold_stream(
        events, ("event_type",), _roll_fold, _ROLL_CARRY, _ROLL_OUT, ("cents",),
        False, watermark,
    )


# ---------------------------------------------------------------------------
# CUSUM: the drawup identity as 3 longs of state per key
# ---------------------------------------------------------------------------

_CUSUM_OUT = _schema("ts_us long, s_value long")
# cumulative deviation walk, its running minimum, and the previous S
_CUSUM_CARRY = _schema("cum long, runmin long, prev_s long")


def _cusum_fold(k_cents: int, h_cents: int):
    """Drawup-identity CUSUM: S_i = max(0, S_{i-1} + dev_i) as
    cum - min(0, running min), via integer cumsum and
    minimum-accumulate; alarms on each h-upcrossing. Each row carries
    its key's trained reference in ``target``."""

    def fold(carry, rows):
        ts_us, _, cents, target = rows
        cum, runmin, prev_s = carry or (0, 0, 0)
        dev = cents - target - np.int64(k_cents)
        cums = np.int64(cum) + np.cumsum(dev)
        rm = np.minimum(np.minimum.accumulate(cums), np.int64(runmin))
        s = cums - np.minimum(np.int64(0), rm)
        prev = np.concatenate((np.asarray([prev_s], np.int64), s[:-1]))
        alarm = (s > h_cents) & (prev <= h_cents)
        carry = (int(cums[-1]), int(rm[-1]), int(s[-1]))
        if not alarm.any():
            return carry, None
        return carry, pd.DataFrame({"ts_us": ts_us[alarm], "s_value": s[alarm]})

    return fold


def _with_target(events: DataFrame, targets: dict) -> DataFrame:
    """Attach each row's reference (symbol -> target cents, 0 for a key
    without one). The reference is TRAINED offline (one batch
    aggregate over the static table, O(keys) rows collected) exactly
    as a production monitor pins its in-control mean before watching
    the live stream."""
    target = F.lit(0).cast("long")
    if targets:
        ref = F.create_map(
            *[c for k, v in targets.items() for c in (F.lit(k), F.lit(int(v)).cast("long"))]
        )
        target = F.coalesce(ref[F.col("event_type")], target)
    return events.withColumn("target", target)


def cusum_stream(
    events: DataFrame,
    targets: dict,
    k_cents: int,
    h_cents: int,
    watermark: str = "4 hours",
) -> DataFrame:
    """One-sided CUSUM upcrossing alarms per event_type as a streaming
    state machine carried across micro-batches in THREE longs — no
    buffering, O(keys) total state on an unbounded stream; alarms emit
    append-mode. In-order replay per key (see :func:`_fold_stream`)."""
    return _fold_stream(
        _with_target(events, targets), ("event_type",),
        _cusum_fold(k_cents, h_cents), _CUSUM_CARRY, _CUSUM_OUT,
        ("cents", "target"), False, watermark,
    )


def cusum_stream_ooo(
    events: DataFrame,
    targets: dict,
    k_cents: int,
    h_cents: int,
    watermark: str,
) -> DataFrame:
    """CUSUM alarms over an OUT-OF-ORDER stream; hash-matches the
    batch q_cusum oracle whenever lateness stays within
    ``watermark``."""
    return _fold_stream(
        _with_target(events, targets), ("event_type",),
        _cusum_fold(k_cents, h_cents), _CUSUM_CARRY, _CUSUM_OUT,
        ("cents", "target"), True, watermark,
    )


# ---------------------------------------------------------------------------
# Volume bars: the subordinated clock as 2 longs of state
# ---------------------------------------------------------------------------

_VBAR_OUT = _schema(
    "bar_id long, n_trades long, bar_vol long, o_ts long, o_eid long, o_c long,"
    " c_ts long, c_eid long, c_c long, hi long, lo long, start_us long, end_us long"
)
# rows seen + cumulative volume: the whole volume clock
_VBAR_CARRY = _schema("n long, cum_vol long")


def _vbar_fold(bar_volume: int):
    """Assign rows to bars by an exclusive-prefix cumsum of volume
    seeded from the carried total, and emit per-bar integer partials.
    Rows are (ts, eid)-sorted, so positional first/last ARE the bar's
    open/close and min/max ts its bounds; the partials carry their
    (ts, event_id), so bars that straddle micro-batches combine
    associatively post-drain via struct min/max."""

    def fold(carry, rows):
        ts_us, eid, cents, vol = rows
        n, cum = carry or (0, 0)
        pre = np.int64(cum) + np.concatenate(
            (np.zeros(1, np.int64), np.cumsum(vol)[:-1])
        )
        part = (
            pd.DataFrame(
                {"bar_id": pre // bar_volume, "vol": vol, "c": cents, "ts": ts_us, "eid": eid}
            )
            .groupby("bar_id", as_index=False, sort=False)
            .agg(
                n_trades=("c", "size"),
                bar_vol=("vol", "sum"),
                o_ts=("ts", "first"),
                o_eid=("eid", "first"),
                o_c=("c", "first"),
                c_ts=("ts", "last"),
                c_eid=("eid", "last"),
                c_c=("c", "last"),
                hi=("c", "max"),
                lo=("c", "min"),
                start_us=("ts", "first"),
                end_us=("ts", "last"),
            )
        )
        return (n + len(vol), int(cum + vol.sum())), part

    return fold


def volume_bars_stream(
    events: DataFrame, bar_volume: int, watermark: str = "4 hours"
) -> DataFrame:
    """Event-driven VOLUME bars built in-stream: the whole
    subordinated clock is TWO longs of state per key (rows seen,
    cumulative volume); the drained partials hash-match the batch
    q_volume_bars oracle exactly. In-order replay per key (see
    :func:`_fold_stream`). Expects an integer ``vol`` column attached
    JVM-side."""
    return _fold_stream(
        events, ("event_type",), _vbar_fold(bar_volume), _VBAR_CARRY, _VBAR_OUT,
        ("cents", "vol"), False, watermark,
    )


def volume_bars_stream_ooo(
    events: DataFrame, bar_volume: int, watermark: str
) -> DataFrame:
    """Volume bars over an OUT-OF-ORDER stream: bar assignment is a
    prefix sum of volume, i.e. fully order-defined, so shuffled
    arrival within ``watermark`` yields the identical bar set."""
    return _fold_stream(
        _vol_filled(events), ("event_type",), _vbar_fold(bar_volume), _VBAR_CARRY,
        _VBAR_OUT, ("cents", "vol"), True, watermark,
    )


# ---------------------------------------------------------------------------
# Autocorrelation: lag-1..3 ACF partials over a 3-value tail
# ---------------------------------------------------------------------------

_ACF_OUT = _schema(
    "n long, s long, ss long, "
    + ", ".join(f"{c}{k} long" for k in (1, 2, 3) for c in "pmht")
)
_ACF_CARRY = _schema("n long, tail long[]")


def _acf_fold(carry, rows):
    """Online lag-1..3 ACF: every sum in the classical common-mean
    estimator is associative over ordered (x_i, x_{i+k}) pairs, so the
    only state a lag-K ACF needs is the last K values (the pairs that
    straddle a batch boundary) plus the running count. Each batch
    emits one int64 PARTIAL row (n, Σx, Σx² and per-lag Σx·x', pair
    count, head/tail sums over the NEW pairs — those whose later
    element arrived this batch); the estimator itself is assembled
    post-drain in DECIMAL(38,0), where n²·Σxx outgrows int64.
    Per-batch partials stay inside int64 up to ~10⁶ rows/key/batch at
    10⁶-cent prices (documented bound)."""
    n, tail = carry or (0, [])
    v = rows[2]
    seq = np.concatenate([np.asarray(tail, np.int64), v])
    row = {"n": len(v), "s": int(v.sum()), "ss": int((v * v).sum())}
    for k in (1, 2, 3):
        j0 = max(k, len(tail))  # first pair whose LATER element is new
        heads = seq[j0 - k : len(seq) - k]
        tails = seq[j0:]
        row[f"p{k}"] = int((heads * tails).sum())
        row[f"m{k}"] = len(tails)
        row[f"h{k}"] = int(heads.sum())
        row[f"t{k}"] = int(tails.sum())
    return (n + len(v), seq[-3:].tolist()), pd.DataFrame([row])


def acf_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming ACF partials; in-order replay per key
    (see :func:`_fold_stream`)."""
    return _fold_stream(
        events, ("event_type",), _acf_fold, _ACF_CARRY, _ACF_OUT, ("cents",),
        False, watermark,
    )


def acf_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """ACF partials over an OUT-OF-ORDER stream: pairing is
    order-defined, so shuffled arrival within ``watermark``
    hash-matches the in-order run and the batch oracle."""
    return _fold_stream(
        events, ("event_type",), _acf_fold, _ACF_CARRY, _ACF_OUT, ("cents",),
        True, watermark,
    )


# ---------------------------------------------------------------------------
# Max drawdown: the path-dependent risk fold as one long of state
# ---------------------------------------------------------------------------

_MDD_OUT = _schema("n long, dd long, pk long")
_MDD_CARRY = _schema("peak long")


def _mdd_fold(peak: int | None, v: "np.ndarray"):
    """One batch of ordered cents into the drawdown partial: the
    running peak is the ONLY carried state (drawdowns computed against
    the carried peak are exact, so per-batch maxima combine with a
    plain sum/max/max post-drain — exactly q_max_drawdown's closed
    form). Returns (new peak, partial dict)."""
    if peak is not None:
        pk = np.maximum.accumulate(
            np.concatenate([np.asarray([peak], np.int64), v])
        )[1:]
    else:
        pk = np.maximum.accumulate(v)
    dd = pk - v
    return int(pk[-1]), {
        "n": len(v),
        "dd": int(dd.max()),
        "pk": int(pk[-1]),
    }


def _mdd_rows_fold(carry, rows):
    peak, row = _mdd_fold(carry[0] if carry else None, rows[2])
    return (peak,), pd.DataFrame([row])


def mdd_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming max-drawdown partials; in-order replay
    per key (see :func:`_fold_stream`)."""
    return _fold_stream(
        events, ("event_type",), _mdd_rows_fold, _MDD_CARRY, _MDD_OUT, ("cents",),
        False, watermark,
    )


def mdd_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """Max-drawdown partials over an OUT-OF-ORDER stream: the drawdown
    of a row depends on the peak of everything BEFORE it, so it needs
    the re-sort; shuffled arrival within ``watermark`` hash-matches the
    in-order run and the batch oracle."""
    return _fold_stream(
        events, ("event_type",), _mdd_rows_fold, _MDD_CARRY, _MDD_OUT, ("cents",),
        True, watermark,
    )


# ---------------------------------------------------------------------------
# Realized volatility: per-(key, day) squared increments
# ---------------------------------------------------------------------------

_RV_OUT = _schema("day_ord long, n long, rv long")
_RV_CARRY = _schema("last_day long, last_c long")


def _rv_fold(last_day: int | None, last_c: int, days: "np.ndarray", v: "np.ndarray"):
    """One batch of ordered (day ordinal, cents) into per-day realized
    variance partials. An increment exists only between consecutive
    ticks of the SAME day (day boundaries restart the series — the
    overnight gap is not intraday variance), so the carried state is
    just the last (day, cents). Returns (new last_day, new last_c,
    list of partial dicts); the final combine sums per (key, day) in
    DECIMAL(38,0), so the whole path is integer-exact end to end."""
    sentinel = np.int64(-(1 << 62))
    prev_day = np.concatenate(
        [np.asarray([last_day if last_day is not None else sentinel], np.int64),
         days[:-1]]
    )
    prev_c = np.concatenate([np.asarray([last_c], np.int64), v[:-1]])
    valid = prev_day == days
    dy = np.where(valid, v - prev_c, 0)
    uniq, inv = np.unique(days, return_inverse=True)
    n = np.zeros(len(uniq), np.int64)
    np.add.at(n, inv, valid.astype(np.int64))
    amax = float(np.abs(dy).max()) if len(dy) else 0.0
    if amax * amax * len(dy) < float(1 << 62):
        # int64 accumulation provably cannot wrap for this batch
        rv = np.zeros(len(uniq), np.int64)
        np.add.at(rv, inv, dy * dy)
        rv = [int(x) for x in rv]
    else:
        # arbitrary-precision fallback: numpy int64 wraps SILENTLY on
        # overflow; Python ints cannot. A batch-day partial that still
        # exceeds int64 can't ride the LongType output schema — fail
        # LOUDLY (the cure is smaller micro-batches or sub-day keys),
        # never emit a wrapped value.
        rv = [0] * len(uniq)
        for i, d in zip(inv.tolist(), dy.tolist()):
            rv[i] += d * d
        if any(x >= (1 << 63) for x in rv):
            raise OverflowError(
                "realized-variance batch partial exceeds int64 — reduce "
                "micro-batch size; the cross-batch combine is DECIMAL(38,0)"
            )
    rows = [
        {"day_ord": int(d), "n": int(cn), "rv": int(cr)}
        for d, cn, cr in zip(uniq, n, rv)
        if cn > 0
    ]
    return int(days[-1]), int(v[-1]), rows


def _rv_rows_fold(carry, rows):
    last_day, last_c, parts = _rv_fold(*(carry or (None, 0)), rows[0] // _DAY_US, rows[2])
    return (last_day, last_c), pd.DataFrame(parts) if parts else None


def rv_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Per-event_type streaming realized-variance partials; in-order
    replay per key (see :func:`_fold_stream`)."""
    return _fold_stream(
        events, ("event_type",), _rv_rows_fold, _RV_CARRY, _RV_OUT, ("cents",),
        False, watermark,
    )


def rv_stream_ooo(events: DataFrame, watermark: str) -> DataFrame:
    """Realized-variance partials over an OUT-OF-ORDER stream: the
    increment pairing is order-defined within each day, so shuffled
    arrival within ``watermark`` hash-matches the in-order run and the
    batch oracle."""
    return _fold_stream(
        events, ("event_type",), _rv_rows_fold, _RV_CARRY, _RV_OUT, ("cents",),
        True, watermark,
    )
# ---------------------------------------------------------------------------
# Streaming sweep line: live per-day peak interval concurrency
# ---------------------------------------------------------------------------

_CONC_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("day", T.StringType()),
        T.StructField("max_concurrent", T.LongType()),
    ]
)
# re-sort buffer + pending interval ends + the running sweep
_CONC_STATE = T.StructType(
    [
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
        T.StructField("buf_eid", T.ArrayType(T.LongType())),
        T.StructField("pend_end", T.ArrayType(T.LongType())),
        T.StructField("conc", T.LongType()),
        T.StructField("cur_day", T.LongType()),
        T.StructField("cur_max", T.LongType()),
    ]
)


def _day_str(day_idx: int) -> str:
    return pd.Timestamp(day_idx * 86_400, unit="s").strftime("%Y-%m-%d")


def _conc_sweep(
    carry: tuple[int, int, int],
    starts_us: "np.ndarray",
    ends_now_us: "np.ndarray",
    final_day_excl: int | None,
) -> tuple[tuple[int, int, int], list[tuple[str, int]]]:
    """Fold (+1 at each start, -1 at each processable end) into the
    running sweep. Deltas at the SAME microsecond net together before
    the peak test (the oracle's per-t grouping). Days strictly below
    ``final_day_excl`` are complete and emit; the top day's running
    (day, max) stays in the carry. ``final_day_excl=None`` = drain
    everything (end of stream)."""
    conc, cur_day, cur_max = carry
    ts = np.concatenate((starts_us, ends_now_us))
    delta = np.concatenate(
        (
            np.ones(len(starts_us), np.int64),
            -np.ones(len(ends_now_us), np.int64),
        )
    )
    out: list[tuple[str, int]] = []
    if len(ts):
        order = np.argsort(ts, kind="stable")
        ts, delta = ts[order], delta[order]
        uts, idx = np.unique(ts, return_index=True)
        net = np.add.reduceat(delta, idx)
        concs = conc + np.cumsum(net)
        days = uts // _DAY_US
        conc = int(concs[-1])
        for d in np.unique(days):
            seg_max = int(concs[days == d].max())
            if cur_day >= 0 and d != cur_day:
                out.append((_day_str(cur_day), cur_max))
                cur_day, cur_max = -1, 0
            if cur_day == int(d):
                cur_max = max(cur_max, seg_max)
            else:
                cur_day, cur_max = int(d), seg_max
    if cur_day >= 0 and (final_day_excl is None or cur_day < final_day_excl):
        out.append((_day_str(cur_day), cur_max))
        cur_day, cur_max = -1, 0
    return (conc, cur_day, cur_max), out


def _update_interval_concurrency(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Sweep-line state machine per key: the re-sort buffer releases
    starts in exact (ts, event_id) order; each start's interval end
    (ts + (event_id % 14 + 1) minutes) parks in the pending-ends array
    until the watermark passes it (no future start can precede a
    sub-watermark end, so processing is safe exactly then). State is
    O(reorder window + active intervals) — the inherent sweep-line
    frontier — and each finished day's peak emits append-mode."""
    if state.exists:
        bts, beid, pend, conc, cur_day, cur_max = state.get
        buf = (np.asarray(bts, np.int64), np.asarray(beid, np.int64))
        pend = np.asarray(pend, np.int64)
    else:
        buf = (np.empty(0, np.int64),) * 2
        pend = np.empty(0, np.int64)
        conc, cur_day, cur_max = 0, -1, 0
    new = None if state.hasTimedOut else _load(pdfs, ())
    released, kept = _buffer_release(state, buf, new)
    ends_new = released[0] + (released[1] % 14 + 1) * 60_000_000
    pend = np.sort(np.concatenate((pend, ends_new)))
    # The drain is watermark-respecting on EVERY path, timeout or not:
    # a mid-stream timeout (a micro-batch with no rows for this key
    # while the watermark advanced) must do exactly what a data batch
    # would — never early-apply ends beyond the watermark or emit the
    # open day. Finality needs no special case because the OOO
    # sentinel advances the watermark past every reachable interval
    # end AND the following midnight (see _ooo_slices), after which
    # this same path naturally drains everything.
    wm_us = state.getCurrentWatermarkMs() * 1000
    cut = np.searchsorted(pend, wm_us)
    ends_now, pend_keep = pend[:cut], pend[cut:]
    final_day_excl = wm_us // _DAY_US
    (conc, cur_day, cur_max), done = _conc_sweep(
        (conc, cur_day, cur_max), released[0], ends_now, final_day_excl
    )
    if done:
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "day": [d for d, _ in done],
                "max_concurrent": [m for _, m in done],
            }
        )
    # Re-arm only while the key still holds work (buffered starts,
    # pending ends, or an open day), as _fold_stream does.
    # A fully drained key REMOVES its state row instead of persisting
    # an empty one: with no timeout armed an empty row would sit in
    # the store forever — a leak once the grouping key is
    # higher-cardinality than event_type. A late straggler after
    # removal re-creates the key from scratch, which the
    # watermark-respecting drain handles identically.
    if len(kept[0]) or len(pend_keep) or cur_day >= 0:
        state.update(
            (
                kept[0].tolist(),
                kept[1].tolist(),
                pend_keep.tolist(),
                conc,
                cur_day,
                cur_max,
            )
        )
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
    else:
        state.remove()


def interval_concurrency_stream_ooo(
    events: DataFrame, watermark: str
) -> DataFrame:
    """Per-day peak in-flight intervals over an OUT-OF-ORDER stream:
    the batch sweep line (q_interval_concurrency's shape) as live
    bounded state. Hash-matches the direct SQL sweep whenever lateness
    stays within ``watermark``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_interval_concurrency,
            outputStructType=_CONC_OUT,
            stateStructType=_CONC_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming deadline funnel: the per-user conversion machine in 4 longs
# ---------------------------------------------------------------------------

_FUNNEL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("v_us", T.LongType()),
        T.StructField("c_us", T.LongType()),
        T.StructField("p_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)
_FUNNEL_STATE = T.StructType(
    [
        T.StructField("v_us", T.LongType()),
        T.StructField("c_us", T.LongType()),
        T.StructField("p_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def make_funnel_deadline_update(click_us: int, buy_us: int):
    """Per-user deadline-funnel state machine: first view sets v, the
    first click in (v, v + click_us] sets c, the first purchase in
    (c, c + buy_us] sets p — processed in exact (ts, event_id) order,
    so the sequential machine computes precisely the batch
    q_funnel_deadline stage times. FOUR longs of state per user on an
    unbounded stream; one updated row per key per batch it appears in
    (n, the events-processed count, is monotone — the final row per
    key is max_by n)."""

    def _update(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        v, c, p, n = state.get if state.exists else (None, None, None, 0)
        rows = _load(pdfs, ("event_type",))
        if rows is None:
            return
        us, _, kinds = _sort_rows(rows)
        for t, kind in zip(us.tolist(), kinds):
            if kind == "view":
                if v is None:
                    v = t
            elif kind == "click":
                if v is not None and c is None and v < t <= v + click_us:
                    c = t
            elif kind == "purchase":
                if c is not None and p is None and c < t <= c + buy_us:
                    p = t
        n += len(us)
        state.update((v, c, p, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "v_us": [v],
                "c_us": [c],
                "p_us": [p],
                "n": [n],
            }
        )

    return _update


def funnel_deadline_stream(
    events: DataFrame, click_us: int, buy_us: int, watermark: str = "4 hours"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_funnel_deadline_update(click_us, buy_us),
            outputStructType=_FUNNEL_OUT,
            stateStructType=_FUNNEL_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
