"""Session-scoped materialization cache.

One build per DISTINCT (purpose, sf_dir, parameters, source-file
fingerprint) — the fingerprint (mtime_ns, size) means regenerating
testdata under the same path mid-session rebuilds instead of serving
a stale artifact, and every parameter a build depends on is in the
key so two callers with different settings never share one. All temp
dirs, and those made with :func:`scratch_dir`, are removed at
interpreter exit.

Shared by the streaming replay slices / static-index builds
(queries/streaming_q.py) and the dedup cluster artifact
(queries/dedup_q.py): any query family where several registered
queries consume one expensive intermediate pays for it once per
session instead of once per query. At deploy scale the same contract
is a materialized table keyed the same way (parameters + input
snapshot version); the session cache is the local stand-in.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

_MATERIALIZATION_CACHE: dict[tuple, str] = {}

# Observability for tests: how many times each key's build() actually
# ran. A sharing contract ("queries X and Y consume ONE artifact") is
# pinned by asserting the build count stays 1 across both.
BUILD_COUNTS: dict[tuple, int] = {}


# dirs from scratch_dir: per-call lakes, checkpoints and session copies
# that no materialize_once key owns
_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str, dir: str | None = None) -> str:
    """``tempfile.mkdtemp(prefix=prefix, dir=dir)``, removed at
    interpreter exit like the materializations. For a temp dir made
    outside a ``materialize_once`` build: a returned DataFrame may
    still read it lazily, so it lives until the process ends."""
    d = tempfile.mkdtemp(prefix=prefix, dir=dir)
    _SCRATCH_DIRS.append(d)
    return d


def _cleanup_materializations() -> None:
    for d in [*_MATERIALIZATION_CACHE.values(), *_SCRATCH_DIRS]:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_materializations)


def table_fingerprint(sf_dir: str, table: str) -> tuple[int, int]:
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return (st.st_mtime_ns, st.st_size)


def table_rows(sf_dir: str, table: str) -> int:
    """Exact row count from parquet FOOTERS — no Spark job, no data
    read (a file's metadata carries num_rows). The input to every
    data-derived sizing decision (bucket counts, K): cheap enough to
    recompute, cached per fingerprint anyway. Directory datasets sum
    their part files."""
    key = ("table_rows", sf_dir, table, table_fingerprint(sf_dir, table))
    if key not in _ROWS_CACHE:
        import glob

        import pyarrow.parquet as pq

        p = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isdir(p):
            n = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(os.path.join(p, "*.parquet"))
            )
        else:
            n = pq.ParquetFile(p).metadata.num_rows
        _ROWS_CACHE[key] = n
    return _ROWS_CACHE[key]


_ROWS_CACHE: dict[tuple, int] = {}


def buckets_for(n_rows: int, rows_per_bucket: int, floor: int) -> int:
    """Data-derived partition-bucket count: the next power of two of
    ceil(n_rows / rows_per_bucket), floored at ``floor`` so small
    corpora keep the shipped layout (and shipped-SF plans stay
    byte-identical — pinned in tests). Power-of-two keeps bucket
    counts stable under modest growth (a 2x corpus at most doubles
    the layout) and composes with pmod hashing evenly."""
    need = -(-n_rows // max(rows_per_bucket, 1))
    nb = 1
    while nb < need:
        nb <<= 1
    return max(floor, nb)


def expect_commit(query: str, got, want) -> None:
    """Fail a lake build whose write verb returned ``got`` instead of
    ``want`` (the committed version, or None for no commit). Builds
    call their verbs outside any ``assert``, so ``python -O`` still
    writes the lake; this is the check that stays."""
    if got != want:
        raise RuntimeError(
            f"{query}: lake build committed {got!r}, expected {want!r}"
        )


def materialize_once(key: tuple, build: Callable[[], str]) -> str:
    """``build() -> dir`` runs once per key; the dir is cached for the
    session and cleaned up at exit."""
    if key not in _MATERIALIZATION_CACHE:
        BUILD_COUNTS[key] = BUILD_COUNTS.get(key, 0) + 1
        _MATERIALIZATION_CACHE[key] = build()
    return _MATERIALIZATION_CACHE[key]
