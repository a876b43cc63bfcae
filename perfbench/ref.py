"""Reference computations, run outside the engine on the generated
inputs, that the benchmark checks the engine's outputs against."""

from __future__ import annotations

import numpy as np


def cdc_last_writer_wins(published: list[tuple]) -> dict[int, float]:
    """Key -> value of the live rows after applying every published
    change in (ts_ms, lsn) order; a winning delete removes the key."""
    best: dict[int, tuple] = {}
    for ts_ms, lsn, op, key, v in published:
        cur = best.get(key)
        if cur is None or (ts_ms, lsn) > cur[:2]:
            best[key] = (ts_ms, lsn, op, v)
    return {k: w[3] for k, w in best.items() if w[2] != "d"}


def rsi_rows(
    published: list[dict[str, np.ndarray]], symbols: np.ndarray
) -> dict[str, list[tuple[int, int | None]]]:
    """Per symbol, (ts_us, RSI) for every tick from the 15th on: the
    14-period Cutler RSI in micro-units (integer floor; None when the
    window has no price change), folded in (ts, event_id) order."""
    cols = {k: np.concatenate([b[k] for b in published]) for k in published[0]}
    out: dict[str, list[tuple[int, int | None]]] = {}
    for s in range(len(symbols)):
        idx = np.flatnonzero(cols["sym"] == s)
        idx = idx[np.lexsort((cols["id"][idx], cols["ts"][idx]))]
        ts, cents = cols["ts"][idx], cols["cents"][idx].tolist()
        rows = []
        gains = losses = 0
        deltas: list[int] = []
        for i in range(len(cents)):
            if i:
                d = cents[i] - cents[i - 1]
                deltas.append(d)
                gains += max(d, 0)
                losses += max(-d, 0)
                if len(deltas) > 14:
                    old = deltas[-15]
                    gains -= max(old, 0)
                    losses -= max(-old, 0)
            if i >= 14:
                tot = gains + losses
                rows.append((int(ts[i]), (100_000_000 * gains) // tot if tot else None))
        out[str(symbols[s])] = rows
    return out
