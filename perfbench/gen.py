"""Seeded input generators for the benchmark workloads.

Pure numpy/pyarrow: nothing here imports Spark or the engine package.
The engine only ever sees the files these generators write. Each
generator also keeps what the reference computation needs
(``ref.py``), so outputs are checked against the exact inputs that
were published.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CDC_TABLE = "public.latest_values"


def publish(staged: str, dest: str) -> None:
    """Atomically move a staged file or directory into a watched
    source directory; a listing sees all of it or none of it."""
    os.rename(staged, dest)


class CdcGen:
    """Debezium JSON envelopes (c/u/d) over a fixed key space. A change
to a live key is a delete with probability ``delete_share``.

    lsn and ts_ms increase in generation order. Within a file the
    envelopes are shuffled, and a share of each batch is held back and
    published with the next batch, so some keys change out of lsn
    order across batches too. ``published`` is every (ts_ms, lsn, op,
    key, value) that reached the engine, for the last-writer-wins
    reference."""

    def __init__(self, seed: int, n_keys: int, delete_share: float, late_share: float):
        self.rng = np.random.default_rng([seed, 101])
        self.n_keys = n_keys
        self.delete_share = delete_share
        self.late_share = late_share
        self.alive = np.zeros(n_keys, dtype=bool)
        self.value = np.zeros(n_keys, dtype=np.float64)
        self.lsn = 0
        self.ts_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z
        self.held: list[tuple] = []
        self.published: list[tuple] = []

    def _changes(self, keys: np.ndarray) -> list[tuple]:
        rng = self.rng
        n = len(keys)
        steps = rng.integers(0, 3, n)  # 0 ms steps give same-ms ties, lsn decides
        vals = np.round(rng.uniform(0.0, 1000.0, n), 2)
        dels = rng.random(n) < self.delete_share
        out = []
        for i, k in enumerate(keys.tolist()):
            self.lsn += 1
            self.ts_ms += int(steps[i])
            if not self.alive[k]:
                op, v = "c", float(vals[i])
                self.alive[k] = True
            elif dels[i]:
                op, v = "d", float(self.value[k])
                self.alive[k] = False
            else:
                op, v = "u", float(vals[i])
            self.value[k] = v
            out.append((self.ts_ms, self.lsn, op, k, v))
        return out

    def snapshot(self) -> list[tuple]:
        """One create per key, in key order: seeds the lake."""
        ch = self._changes(np.arange(self.n_keys))
        self.published.extend(ch)
        return ch

    def batch(self, n: int) -> list[tuple]:
        ch = self._changes(self.rng.integers(0, self.n_keys, n))
        late = self.rng.random(len(ch)) < self.late_share
        out = [c for c, l in zip(ch, late) if not l] + self.held
        self.held = [c for c, l in zip(ch, late) if l]
        order = self.rng.permutation(len(out))
        out = [out[i] for i in order]
        self.published.extend(out)
        return out

    @staticmethod
    def envelope(change: tuple) -> str:
        ts_ms, lsn, op, key, v = change
        img = f'{{"user_id":{key},"value":{v!r}}}'
        before, after = (img, "null") if op == "d" else ("null", img)
        return (
            f'{{"before":{before},"after":{after},"source":{{"lsn":{lsn},'
            f'"ts_ms":{ts_ms},"table":"{CDC_TABLE}"}},"op":"{op}","ts_ms":{ts_ms}}}'
        )

    def write(self, changes: list[tuple], path: str) -> None:
        with open(path, "w") as fh:
            fh.write("\n".join(self.envelope(c) for c in changes))
            fh.write("\n")


TICK_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),
        ("event_type", pa.string()),
        ("event_id", pa.int64()),
        ("value", pa.float64()),
    ]
)


class TickGen:
    """Ticks over ``n_symbols`` symbols on a simulated event clock.

    Each batch covers the next ``span_s`` seconds of event time; prices
    random-walk in whole cents. A ``late_share`` of each batch arrives
    with the next batch, at most two spans behind the newest tick, so
    a watermark delay of two spans never drops one."""

    def __init__(self, seed: int, n_symbols: int, span_s: int, late_share: float):
        self.rng = np.random.default_rng([seed, 202])
        self.symbols = np.array([f"SYM{i:03d}" for i in range(n_symbols)])
        self.cents = self.rng.integers(5_000, 50_000, n_symbols)
        self.span_us = span_s * 1_000_000
        self.late_share = late_share
        self.clock_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
        self.next_id = 0
        self.held: dict[str, np.ndarray] | None = None
        self.published: list[dict[str, np.ndarray]] = []

    def _window(self, n: int) -> dict[str, np.ndarray]:
        rng = self.rng
        ts = np.sort(self.clock_us + rng.integers(0, self.span_us, n))
        sym = rng.integers(0, len(self.symbols), n)
        step = rng.integers(-5, 6, n)
        cents = np.empty(n, dtype=np.int64)
        for s in range(len(self.symbols)):
            idx = np.flatnonzero(sym == s)
            walk = self.cents[s] + np.cumsum(step[idx])
            cents[idx] = walk
            if len(idx):
                self.cents[s] = walk[-1]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.clock_us += self.span_us
        return {"ts": ts, "sym": sym, "id": ids, "cents": cents}

    def batch(self, n: int, windows: int = 1) -> dict[str, np.ndarray]:
        """The next ``windows`` windows of ``n`` ticks each. Late ticks
        are drawn from the last window only, so none is held back by
        more than one window."""
        parts = [self._window(n) for _ in range(windows)]
        cur = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        late = self.rng.random(len(cur["ts"])) < self.late_share
        late[: n * (windows - 1)] = False
        out = {k: v[~late] for k, v in cur.items()}
        if self.held is not None:
            out = {k: np.concatenate((out[k], self.held[k])) for k in out}
        self.held = {k: v[late] for k, v in cur.items()}
        order = self.rng.permutation(len(out["ts"]))
        out = {k: v[order] for k, v in out.items()}
        self.published.append(out)
        return out

    def table(self, b: dict[str, np.ndarray]) -> pa.Table:
        return pa.table(
            {
                "ts": pa.array(b["ts"], pa.timestamp("us", tz="UTC")),
                "event_type": pa.array(self.symbols[b["sym"]]),
                "event_id": pa.array(b["id"]),
                "value": pa.array(b["cents"] / 100.0),
            },
            schema=TICK_SCHEMA,
        )

    def write(self, b: dict[str, np.ndarray], path: str) -> None:
        pq.write_table(self.table(b), path)
