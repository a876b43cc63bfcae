"""Snapshot-versioned parquet lake: the package's one keyed-upsert
store, with manifest-pointer time travel, built with stock Spark +
JSON manifests over lakewrite's clustered writer.

A MERGE that rewrote touched partition directories in place would let
readers racing the swap see a half-merged table, and yesterday's state
would be gone the moment the merge landed. This module takes the
design every table format (Delta/Iceberg/Hudi) converges on: **data
files are immutable; a tiny manifest names the live set; a commit is
one atomic manifest swap.** Its core:

- every write lands in a fresh ``c{version}/`` commit directory
  (partition-dir layout inside, so scans still prune);
- ``_manifests/v{N}.json`` lists the data files (with their partition
  value) that make up version N; writing it is write-temp + rename —
  the single atomic step that publishes a commit;
- a merge copies FORWARD the untouched partitions' manifest entries
  (zero data I/O for them — the manifest IS the pruning index, no
  directory listing at all) and adds the rewritten partitions' new
  files; old files are never modified or removed by a commit, so any
  retained version remains exactly readable (time travel) until
  ``snap_vacuum`` reclaims it.

Scale: a manifest row is a file path + partition value, i.e. the
manifest is O(files), the same metadata a table format keeps; reads
open only manifest-named files (no listStatus storm on 36k-partition
tables) with the schema the manifest records (``schema_json``), so a
read starts no schema-inference job and the partition column keeps
its written type; merges read only touched-partition files. The snapshot swap
is a one-file CAS publish (exclusive create), so readers resolve a
manifest once and see a consistent version regardless of concurrent
merges. Multi-writer coordination is first-class:
``snap_merge_concurrent`` runs the Delta/Iceberg optimistic-commit
protocol — unique commit dirs per writer, manifest CAS, rebase over
disjoint-partition commits with zero data rewrite, full re-merge when
a competing commit overlapped (first committer wins) — so every
history is equivalent to some serial writer order.

The commit contract lives in two helpers that every write verb calls.
:func:`_write_dir` writes one commit dir (clustered layout), indexes
the new files' blooms when the table has a bloom index, and returns
their manifest entries: footer stats when the table has a
``stats_col``, and for MoR commits the commit's sequence number on
data images and delete files (delete entries also record their row
count). :func:`_next_manifest` builds version N+1 from the base: the
table-level keys carry forward under the commit's overlays; the
entries of partitions the commit did not rewrite carry verbatim (none
for a full rewrite) ahead of the new ones; the base's delete entries
survive only for those same partitions, followed by the commit's own.
:func:`_commit` chains the two and publishes the result with the
manifest CAS; ``snap_merge_concurrent`` calls the halves itself,
because it writes once and may publish several times while it
rebases.

Reference parity: the reference keeps only latest state in row stores
(etl.py:181-187); versioned history of an upserted table is what its
operators (and any audit/backfill consumer) would need at lake scale.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docker_based_real_time_etl_project_spark.lakewrite import persisted, write_clustered

_MANIFEST_DIR = "_manifests"


def _manifest_file(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def _empty_version(spark: SparkSession, path: str, v: int, m: dict) -> DataFrame:
    """A version with no entries (a DELETE matched everything) served
    as an empty DataFrame with the manifest-recorded schema, in the
    recorded column order — so downstream merges/updates/reads keep
    working against an empty table instead of a bricked one."""
    sj = m.get("schema_json")
    if sj is None:  # pre-schema-recording manifest: the old contract
        raise ValueError(f"version {v} of {path} is empty — no schema to serve")
    df = spark.createDataFrame([], T.StructType.fromJson(json.loads(sj)))
    cols = m.get("columns")
    return df.select(*cols) if cols else df


def _entry_commit_root(path: str, rel: str) -> str:
    """Absolute commit directory of one manifest entry: two levels
    above the data file (<commit>/<partition>=<value>/file.parquet).
    Works for table-relative entry paths and for a shallow clone's
    absolute borrowed paths alike."""
    return os.path.dirname(os.path.dirname(os.path.join(path, rel)))


def snap_versions(path: str) -> list[int]:
    """Committed versions, ascending. A crashed writer leaves at most
    a ``.tmp`` file, never a half-visible version."""
    d = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_file(path, version)) as fh:
        return json.load(fh)


def _pin(path: str, verb: str, version: int | None = None) -> tuple[int, dict]:
    """(version, manifest) of ``version`` (default: latest). Raises
    FileNotFoundError on an uninitialized table or an absent version —
    the one error contract of every read and write verb."""
    versions = snap_versions(path)
    if not versions:
        raise FileNotFoundError(f"{verb} on uninitialized table {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot version {v} not found at {path}")
    return v, _read_manifest(path, v)


def _is_mor(mode: str) -> bool:
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    return mode == "mor"


class CheckConstraintError(ValueError):
    """A write contained rows violating the table's CHECK constraint."""


def _enforce_check(df: DataFrame, manifest: dict, what: str) -> None:
    """Reject a write whose rows violate the manifest's CHECK
    constraint (Delta `ALTER TABLE ADD CONSTRAINT CHECK` semantics:
    NULL predicate = violation, like Delta and unlike DELETE). Cost is
    one extra aggregation pass over the rows being written — the same
    price Delta pays; the table's existing rows are never re-checked
    (they passed at their own commit time)."""
    expr = manifest.get("check_expr")
    if not expr:
        return
    bad = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).count()
    if bad:
        raise CheckConstraintError(
            f"{what} violates CHECK ({expr}): {bad} row(s) rejected; "
            "no commit was published"
        )


class SnapshotConflictError(RuntimeError):
    """Another writer published this version first (the manifest CAS
    lost). snap_merge_concurrent handles it by rebase-or-retry; the
    single-writer APIs surface it, because losing the CAS under a
    single-writer contract means the contract was violated."""


def _try_publish(path: str, manifest: dict) -> bool:
    """The commit point, as a COMPARE-AND-SWAP: version N+1 becomes
    visible only if no other writer published N+1 first. Locally the
    primitive is an exclusive hard-link of the fully-written temp file
    (atomic; fails with EEXIST if the version is taken — the POSIX
    twin of an object store's conditional PUT / If-None-Match, or
    HDFS's rename-without-overwrite). Returns False on a lost race;
    the temp file is always cleaned up."""
    import uuid

    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    final = _manifest_file(path, manifest["version"])
    tmp = final + f".{uuid.uuid4().hex[:8]}.tmp"
    # wall-clock commit stamp (always re-stamped, never carried forward)
    # for TIMESTAMP AS OF resolution — see snap_as_of
    manifest["committed_at"] = time.time()
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _publish(path: str, manifest: dict) -> None:
    """Single-writer publish: same CAS primitive, but a lost race is a
    broken contract, not a retry condition."""
    if not _try_publish(path, manifest):
        raise SnapshotConflictError(
            f"version {manifest['version']} already committed under {path} — "
            "concurrent writers must use snap_merge_concurrent"
        )


def _file_minmax(full: str, column: str):
    """(min, max) of ``column`` over one parquet file, straight from
    footer statistics — read once at commit time, never again."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if column not in idx:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx[column]).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None or not isinstance(lo, (int, float, str)):
        return None  # only JSON-safe scalar stats ride the manifest
    return [lo, hi]


def _commit_entries(
    path: str, commit_rel: str, partition_col: str, stats_col: str | None = None
) -> list[dict]:
    """Manifest entries for every data file under one commit dir,
    partition value decoded from the Hive-style directory name; with
    ``stats_col``, each NEW file's footer min/max for that column is
    hoisted into its manifest row (Iceberg's manifest-stats idea), so
    later range reads prune files from metadata alone."""
    root = os.path.join(path, commit_rel)
    out = []
    prefix = f"{partition_col}="
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, path)
            part = next(
                (
                    unquote(seg[len(prefix):])
                    for seg in rel.split(os.sep)
                    if seg.startswith(prefix)
                ),
                None,
            )
            e = {"path": rel, "partition": part}
            if stats_col is not None:
                mm = _file_minmax(full, stats_col)
                if mm is not None:
                    e["stats"] = mm
            out.append(e)
    return out


def snap_init(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    stats_col: str | None = None,
    meta: dict | None = None,
    bloom_col: str | None = None,
    bloom_bits: int = 131072,
    bloom_k: int = 4,
    check: str | None = None,
) -> int:
    """Create version 1 of a snapshot table from ``df``. The data
    write reuses the clustered layout contract (partition dirs +
    range clustering + file caps); the manifest publish is the
    commit. ``meta`` adds table-level keys to the manifest (e.g. the
    z-order grid) that every later commit carries forward.

    ``bloom_col`` configures a PER-FILE BLOOM INDEX on that column
    (Delta bloom-filter-index shape): every commit — this one and all
    later merges/compactions — writes a `_blooms.json` sidecar for its
    new files, and :func:`snap_point_read` prunes point lookups to the
    files whose bitmaps might hold the probed values. Size
    ``bloom_bits`` at ~16x the rows per file (default 128 Ki bits =
    16 KiB/file for ~8k-row files, FPR ~0.24% at k=4).

    ``check`` installs a CHECK CONSTRAINT (a SQL boolean expression)
    recorded in the manifest and enforced on THIS write and every
    later merge/update (Delta ADD CONSTRAINT semantics: a NULL
    predicate is a violation; a violating batch publishes nothing)."""
    if bloom_col is not None:
        # pure config validation — BEFORE the (possibly TB-sized) write
        if bloom_bits % 64:
            raise ValueError("bloom_bits must be a multiple of 64")
        if bloom_col == partition_col:
            raise ValueError(
                "bloom_col must not be the partition column: the manifest "
                "already prunes partitions exactly, so a bloom on it could "
                "never skip a file the manifest keeps"
            )
        if bloom_col not in df.columns:
            raise ValueError(f"bloom_col {bloom_col!r} not in {df.columns}")
    if check is not None:
        _enforce_check(df, {"check_expr": check}, "snap_init")
    # a base with no "entries" key: nothing to carry, no delete entries
    base = {
        **(meta or {}),
        "version": 0,
        "partition_col": partition_col,
        "stats_col": stats_col,
        "check_expr": check,
        "columns": list(df.columns),
        "schema_json": df.schema.json(),
    }
    if bloom_col is not None:
        base.update(
            bloom_col=bloom_col,
            bloom_bits=int(bloom_bits),
            bloom_k=int(bloom_k),
            bloom_type=dict(df.dtypes)[bloom_col],
        )
    return _commit(
        spark, path, base, data=df, rewritten=None, sort_by=sort_by,
        target_rows_per_file=target_rows_per_file,
    )


def snap_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partitions: Sequence[str] | None = None,
    range_filter: tuple | None = None,
) -> DataFrame:
    """Read a snapshot version (default: latest). ``partitions``
    prunes to named partition values USING ONLY THE MANIFEST — no
    directory listing, no footer reads for pruned files. Files are
    read with the version's recorded schema (``schema_json``), so no
    schema-inference job runs and every column, the partition column
    included, reads back with the type it was written with; files are
    grouped per commit dir so the partition column is re-attached from
    the directory names (basePath), and commits' scans are unioned by
    name. An EMPTY version (e.g. a DELETE that matched every row)
    reads as an empty DataFrame with the manifest-recorded schema —
    the table stays fully usable, it just has no rows."""
    v, m = _pin(path, "snap_read", version)
    if not m["entries"]:
        return _empty_version(spark, path, v, m)
    entries = _select_entries(m, partitions, range_filter)
    if not entries:
        return snap_read(spark, path, version=v).limit(0)
    return _read_with_deletes(spark, path, entries, m)


def _select_entries(
    m: dict, partitions: Sequence[str] | None, range_filter: tuple | None
) -> list[dict]:
    """The data entries a read of ``partitions`` / ``range_filter``
    opens, pruned from the manifest alone. Range pruning uses the
    manifest stats (Iceberg manifest pruning): files without stats are
    kept, and the caller still applies the row-level predicate."""
    entries = m["entries"]
    if partitions is not None:
        want = {str(p) for p in partitions}
        entries = [e for e in entries if str(e["partition"]) in want]
    if range_filter is not None:
        lo, hi = range_filter
        entries = [
            e
            for e in entries
            if "stats" not in e or not (e["stats"][0] > hi or e["stats"][1] < lo)
        ]
    return entries


def _pending_deletes(m: dict, entries: list[dict]) -> list[dict]:
    """The delete entries a read of ``entries`` must apply: those of
    the partitions it reads, never the table's."""
    read_parts = {str(e["partition"]) for e in entries}
    return [
        d for d in m.get("delete_entries") or [] if str(d["partition"]) in read_parts
    ]


def _read_entry_files(
    spark: SparkSession, path: str, entries: list[dict], manifest: dict
) -> DataFrame:
    """Manifest entries -> DataFrame: files grouped per commit dir so
    the partition column is re-attached from the directory names
    (basePath); commits' scans are unioned by name. Shared by
    snap_read and the bloom point-read path.

    The reader takes the manifest's recorded schema: no inference job
    per commit dir, the partition column gets its written type instead
    of one guessed from directory names (``"007"`` stays a string, a
    bigint stays a bigint), and files written before an additive
    evolution read the new columns as NULL. A manifest without
    ``schema_json`` (written before schemas were recorded) falls back
    to inference and the by-name NULL back-fill.

    The commit root is derived STRUCTURALLY (two levels above the data
    file: <commit>/<partition>=<value>/file.parquet), not from the
    path's first segment — entry paths may be table-relative (normal
    commits) or absolute into another table (shallow clones)."""
    by_commit: dict[str, list[str]] = {}
    for e in entries:
        full = os.path.join(path, e["path"])
        by_commit.setdefault(_entry_commit_root(path, e["path"]), []).append(full)
    sj = manifest.get("schema_json")
    schema = None if sj is None else T.StructType.fromJson(json.loads(sj))
    parts = []
    for commit, files in sorted(by_commit.items()):
        reader = spark.read.option("basePath", commit)
        if schema is not None:
            reader = reader.schema(schema)
        parts.append(reader.parquet(*files))
    out = parts[0]
    for p in parts[1:]:
        # commits written before a column was added surface NULL for it
        # (additive schema evolution, same back-fill as mergeSchema)
        out = out.unionByName(p, allowMissingColumns=True)
    cols = manifest.get("columns")
    if cols:
        for c in cols:  # a pre-evolution commit may miss new columns
            if c not in out.columns:
                out = out.withColumn(c, F.lit(None))
        out = out.select(*cols)
    return out


# ---------------------------------------------------------------------------
# MERGE-ON-READ deletes (Iceberg v2 equality-delete files / Delta
# deletion-vector shape): a MoR DELETE commit writes the MATCHED ROWS
# into per-partition "delete files" recorded under the manifest's
# ``delete_entries`` key and carries every data entry forward VERBATIM —
# I/O is O(deleted rows), not O(partition rewrite). Readers anti-join
# the delete files against only the partitions they reference
# (null-safe on all columns, so a delete recorded before an additive
# schema evolution still cancels its rows through the NULL back-fill).
#
# ORDERING INVARIANT (what Iceberg solves with sequence numbers): within
# a partition, every pending delete file is NEWER than every data file
# of that partition — any commit that rewrites a partition (merge,
# update, CoW delete, compaction, layout migration) first reads through
# the deletes and then DROPS that partition's delete entries, so a row
# inserted after a delete can never be cancelled by it. snap_compact /
# snap_compact_partitions are therefore also the MoR "promotion" path:
# compacting a partition materializes its anti-join and retires its
# delete debris as a normal versioned commit.
# ---------------------------------------------------------------------------


_BROADCAST_DELETE_ROWS = 2_000_000


def _anti_join_all_columns(df: DataFrame, del_df: DataFrame) -> DataFrame:
    """left_anti of ``del_df`` against ``df``, null-safe on every
    column (so deletes recorded before an additive schema evolution
    still cancel through the NULL back-fill)."""
    cols = list(df.columns)
    d = del_df.select(*cols).alias("_del")
    s = df.alias("_dat")
    cond = None
    for c in cols:
        eq = F.col(f"_dat.{c}").eqNullSafe(F.col(f"_del.{c}"))
        cond = eq if cond is None else cond & eq
    return s.join(d, on=cond, how="left_anti").select(*cols)


def _commit_seq(m: dict, version: int) -> int:
    """The sequence number a new commit of ``version`` stamps on its
    delete files / same-commit data images. Normal tables: just the
    version. Shallow clones: offset by ``seq_floor`` (the max sequence
    number among the borrowed entries), so clone-local commits always
    order AFTER everything borrowed — borrowed deletes keep their
    original relative order against borrowed update images, and can
    never cancel rows the clone writes later."""
    return int(m.get("seq_floor", 0)) + int(version)


def _entry_seq(e: dict) -> int:
    """The data SEQUENCE NUMBER of a manifest entry — Iceberg v2's
    ordering primitive: a delete file applies to a data file iff the
    data file's seq is strictly lower. Entries without a recorded seq
    are older than every delete by construction (the partition-rewrite
    invariant: any commit that rewrites a partition retires its
    pending deletes, so surviving deletes are always newer than
    seq-less files). Only same-commit data files (MoR UPDATE's new
    images) carry an explicit seq, which exempts them from their own
    commit's delete files — the case the invariant alone cannot
    order."""
    return int(e.get("seq", -1))


def _write_dir(
    spark: SparkSession,
    path: str,
    m: dict,
    df: DataFrame,
    commit_rel: str,
    seq: int | None = None,
    deletes: bool = False,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    n_partitions: int | None = None,
) -> list[dict]:
    """Write ``df`` as commit dir ``commit_rel`` under the layout of
    manifest ``m`` and return the new files' manifest entries.

    Data files get footer stats when ``m`` has a ``stats_col`` and a
    bloom sidecar when it has a bloom index; ``seq`` stamps them as a
    MoR commit's same-commit images. With ``deletes`` the files are
    delete files: no stats or blooms, and each entry records its footer
    row count (the reader's broadcast decision, without opening files
    at plan time) and the commit's sequence number ``seq`` (the delete
    applies only to data files with a strictly lower seq)."""
    import pyarrow.parquet as pq

    partition_col = m["partition_col"]
    write_clustered(
        df,
        os.path.join(path, commit_rel),
        partition_by=(partition_col,),
        sort_by=tuple(sort_by),
        target_rows_per_file=target_rows_per_file,
        n_partitions=n_partitions,
    )
    if deletes:
        return [
            {
                **e,
                "rows": int(
                    pq.ParquetFile(os.path.join(path, e["path"])).metadata.num_rows
                ),
                "seq": int(seq),
            }
            for e in _commit_entries(path, commit_rel, partition_col)
        ]
    _attach_blooms(spark, path, commit_rel, m)
    entries = _commit_entries(path, commit_rel, partition_col, m.get("stats_col"))
    return entries if seq is None else [{**e, "seq": seq} for e in entries]


def _next_manifest(
    base: dict,
    version: int,
    entries: list[dict] | None,
    rewritten: set[str] | None = frozenset(),
    deletes: Sequence[dict] = (),
    drop: Sequence[str] = (),
    changes: dict | None = None,
) -> dict:
    """Manifest of ``version`` built on ``base``: its table-level keys
    minus ``drop``, overlaid by ``changes``. ``entries=None`` is a
    metadata-only publish that keeps the base's file set and delete
    entries as they are. Otherwise the base's entries and delete
    entries of partitions not in ``rewritten`` carry ahead of the new
    ``entries`` and ``deletes`` (``rewritten=None``: a full rewrite
    carries none). A rewritten partition's deletes are materialized in
    its new files; carrying them would cancel rows re-inserted later,
    breaking the ordering invariant above. A base without entries is a
    new table; its first version records no delete entries."""

    def carried(es):
        return [
            e
            for e in es
            if rewritten is not None and str(e["partition"]) not in rewritten
        ]

    m = {k: v for k, v in base.items() if k not in drop}
    m.update(changes or {})
    m["version"] = version
    if entries is not None:
        m["entries"] = carried(base.get("entries", ())) + entries
        if "entries" in base:
            m["delete_entries"] = (
                carried(base.get("delete_entries") or []) + list(deletes)
            )
    return m


def _commit(
    spark: SparkSession,
    path: str,
    base: dict,
    data: DataFrame | None = None,
    old_images: DataFrame | None = None,
    rewritten: set[str] | None = frozenset(),
    version: int | None = None,
    entries: list[dict] | None = None,
    deletes: Sequence[dict] = (),
    drop: Sequence[str] = (),
    changes: dict | None = None,
    **layout,
) -> int:
    """Write and publish one version on top of manifest ``base``;
    returns the version (default ``base``'s + 1).

    ``data`` lands in ``c{V}``. ``old_images`` makes it a MoR commit:
    those rows become delete files in ``c{V}d`` (``c{V}`` when the
    commit writes no data), and the commit's sequence number stamps
    both halves. The written entries, or the given ``entries`` /
    ``deletes``, go through :func:`_next_manifest`; a commit that
    writes nothing and is given no ``entries`` is metadata-only.
    ``layout`` holds the write_clustered sizing (sort_by,
    target_rows_per_file, n_partitions)."""
    version = base["version"] + 1 if version is None else version
    head = {k: v for k, v in base.items() if k not in drop} | (changes or {})
    commit_rel = f"c{version:06d}"
    seq = None
    if old_images is not None:
        seq = _commit_seq(base, version)
        deletes = _write_dir(
            spark, path, head, old_images,
            commit_rel + ("d" if data is not None else ""), seq, deletes=True,
            **layout,
        )
        entries = entries or []
    if data is not None:
        entries = _write_dir(spark, path, head, data, commit_rel, seq, **layout)
    _publish(
        path, _next_manifest(base, version, entries, rewritten, deletes, drop, changes)
    )
    return version


def _read_with_deletes(
    spark: SparkSession,
    path: str,
    entries: list[dict],
    manifest: dict,
) -> DataFrame:
    """Manifest entries -> rows with pending MoR deletes MERGED IN:
    anti-join each delete file against only the data files it may
    apply to (same partition, lower sequence number). Only delete
    files referencing the partitions actually being read are opened —
    a point read of one partition pays for that partition's deletes,
    never the table's. Small delete sets broadcast (the common case: a
    GDPR point delete is a handful of rows against a 100 TB scan);
    large ones fall back to a shuffled hash join."""
    dels = _pending_deletes(manifest, entries)
    if not dels:
        return _read_entry_files(spark, path, entries, manifest)

    def del_df(ds):
        out = _read_entry_files(spark, path, ds, manifest)
        if sum(int(d.get("rows", _BROADCAST_DELETE_ROWS)) for d in ds) < (
            _BROADCAST_DELETE_ROWS
        ):
            out = F.broadcast(out)
        return out

    by_seq: dict[int, list[dict]] = {}
    for e in entries:
        by_seq.setdefault(_entry_seq(e), []).append(e)
    parts = []
    for data_seq, es in sorted(by_seq.items()):
        sub = _read_entry_files(spark, path, es, manifest)
        applicable = [
            d for d in dels if int(d.get("seq", 2**62)) > data_seq
        ]
        if applicable:
            sub = _anti_join_all_columns(sub, del_df(applicable))
        parts.append(sub)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def snap_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    delete_col: str | None = None,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    meta: dict | None = None,
    mode: str = "cow",
    order_by: Sequence[str] = (),
) -> int:
    """MERGE producing a NEW version: upsert on ``key_cols``, optional
    boolean ``delete_col`` tombstones. The partition column is
    immutable per key (the contract of partitioned CoW tables without
    a global index, e.g. Hudi non-global): an update must arrive in the
    partition its key already lives in, otherwise the old row survives
    in its old partition. A partition whose rows are all deleted has
    no entries in the new version. ``meta`` keys overlay the
    carried-forward manifest metadata (e.g. a streaming sink's
    batch_id — the idempotence ledger a restarted query consults to
    skip replayed batches).

    ``order_by`` makes it an ORDERED merge (Hudi's precombine field,
    Delta's ``WHEN MATCHED AND s.ts > t.ts``): per key, the row with
    the greatest ``order_by`` tuple among the touched partitions' base
    rows and ALL incoming rows wins, so ``updates`` may hold several
    images of one key (a raw changelog) and a late image never
    overwrites a newer one already in the table. An incoming row wins
    an equal-order tie. Soft deletes ride as ordinary columns, so
    ``order_by`` with ``delete_col`` is a ``ValueError``. Scale: the
    resolution is one ``max_by`` aggregate over base ∪ incoming, so the
    touched rows shuffle once on the key, next to the clustered
    write's own range exchange, and the lake is scanned once (CoW).

    ``mode="cow"`` (default): touched partitions' files are read,
    merged, and written into a fresh commit dir; untouched partitions
    contribute nothing but their manifest rows, copied forward
    verbatim. Old versions stay readable — nothing is deleted here.

    ``mode="mor"`` (Hudi merge-on-read upsert, Iceberg v2 sequence-
    ordered): matched keys' OLD images land in delete files, the
    incoming non-tombstone rows in seq-stamped data files — write I/O
    is O(matched + incoming), NO partition rewritten. Tombstones write
    only their old image; inserts only their new row. Readers merge
    exactly as for MoR deletes/updates; snap_compact promotes. This is
    what a high-rate CDC apply wants: per-batch write cost tracks the
    changelog, not the partitions it touches.

    ``updates`` is evaluated once: the touched-partition collect, the
    CHECK enforcement and the clustered write all read one cached copy,
    released before the call returns."""
    mor = _is_mor(mode)
    if order_by and delete_col is not None:
        raise ValueError(
            "order_by and delete_col are exclusive: an ordered merge keeps "
            "tombstones as rows so a late image cannot resurrect a key"
        )
    base_v, cur = _pin(path, "snap_merge")
    with persisted(updates):
        matched, incoming, merged, touched = _plan_merge(
            spark, path, base_v, cur, updates, key_cols, delete_col, "snap_merge",
            "left_semi" if mor else "left_anti", order_by,
        )
        return _commit(
            spark, path, cur,
            data=incoming if mor else merged,
            old_images=matched if mor else None,
            rewritten=frozenset() if mor else touched,
            changes={
                **(meta or {}),
                "columns": list(merged.columns),
                "schema_json": merged.schema.json(),
            },
            sort_by=sort_by,
            target_rows_per_file=target_rows_per_file,
        )


def _plan_merge(
    spark: SparkSession,
    path: str,
    base_v: int,
    cur: dict,
    updates: DataFrame,
    key_cols: Sequence[str],
    delete_col: str | None,
    verb: str,
    how: str = "left_anti",
    order_by: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame, DataFrame, set[str]]:
    """The merge plan against a pinned base version: (base rows of the
    touched partitions joined ``how`` on the keys, incoming
    non-tombstone rows, their union, touched partition set). CoW takes
    the ``left_anti`` survivors and rewrites the union; MoR takes the
    ``left_semi`` old images as delete files and appends the incoming
    rows. Shared by every merge path so their row-level semantics
    cannot drift; the union's schema is the merged table schema either
    way.

    With ``order_by`` the incoming rows and the union are both the
    per-key winners of :func:`_resolve_ordered`: over the whole touched
    base for CoW (no key join at all — the winners ARE the rewritten
    partitions), over the ``left_semi`` old images for MoR.

    SCHEMA EVOLUTION (additive, the Delta/Iceberg default): ``updates``
    must carry every base column (full-row upserts — a missing base
    column is an error, not an implicit null overwrite) and may carry
    NEW columns; surviving base rows take NULL for those, the same
    back-fill untouched partitions' old files get at read time. Values
    of existing columns take the table's recorded types (store
    assignment, as in SQL MERGE), so the recorded schema stays the one
    every file of the table reads back under. The incoming rows must
    pass the base's CHECK constraint."""
    _enforce_check(
        updates if delete_col is None else updates.filter(~F.col(delete_col)),
        cur,
        f"{verb} batch",
    )
    partition_col = cur["partition_col"]
    key_cols = list(key_cols)
    touched = {
        str(r[0]) for r in updates.select(partition_col).distinct().collect()
    }
    base = snap_read(spark, path, base_v, partitions=sorted(touched))
    incoming_cols = [c for c in updates.columns if c != delete_col]
    missing = [c for c in base.columns if c not in incoming_cols]
    if missing:
        raise ValueError(
            f"merge updates must carry full rows; missing base columns {missing} "
            "(schema evolution is additive-only)"
        )
    upd_keys = updates.select(*key_cols).distinct()
    # NULL-SAFE key match: a NULL-keyed base row must be replaced (not
    # duplicated) by a NULL-keyed update — eqNullSafe stays an equi-join
    # key for the broadcast hash join, so the plan shape is unchanged.
    matched = base.alias("_b").join(
        F.broadcast(upd_keys.alias("_u")),
        on=[F.col(f"_b.{k}").eqNullSafe(F.col(f"_u.{k}")) for k in key_cols],
        how=how,
    )
    incoming = updates
    types = dict(base.dtypes)
    if any(c in types and t != types[c] for c, t in updates.dtypes):
        incoming = updates.select(
            *[
                F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                for c in updates.columns
            ]
        )
    if delete_col is not None:
        incoming = incoming.filter(~F.col(delete_col)).drop(delete_col)
    if order_by:
        winners = _resolve_ordered(
            matched if how == "left_semi" else base, incoming, key_cols, order_by
        )
        return matched, winners, winners, touched
    merged = matched.unionByName(incoming, allowMissingColumns=True)
    return matched, incoming, merged, touched


_SIDE = "_snap_side"


def _resolve_ordered(
    base: DataFrame,
    incoming: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """One row per key of ``base ∪ incoming``: the greatest by
    ``(*order_by, side)`` in one ``max_by`` aggregate, where the side
    marker (base 0, incoming 1) hands equal-order ties to the incoming
    row. Columns are the union's: base columns first, then the ones
    the incoming rows add."""
    both = base.withColumn(_SIDE, F.lit(0)).unionByName(
        incoming.withColumn(_SIDE, F.lit(1)), allowMissingColumns=True
    )
    cols = [c for c in both.columns if c != _SIDE]
    return (
        both.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*cols), F.struct(*order_by, _SIDE)).alias(_SIDE))
        .select(f"{_SIDE}.*")
    )


def _manifest_meta_fp(m: dict) -> dict:
    """Table-level metadata fingerprint used for commit-conflict
    detection: every manifest key except the per-commit ones
    (version/entries), with the schema normalized to (name, type)
    pairs — unionByName merges flip nullability without changing the
    logical schema, and that must NOT read as a metadata conflict."""
    fp = {
        k: v
        for k, v in m.items()
        if k
        not in (
            "version",
            "entries",
            "delete_entries",  # per-commit state, footprinted separately
            "committed_at",
            "schema_json",
        )
    }
    sj = m.get("schema_json")
    if sj:
        fp["_schema"] = [
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in json.loads(sj).get("fields", [])
        ]
    return fp


def _touched_partitions(path: str, version: int) -> set[str] | None:
    """Partitions whose file set changed between ``version - 1`` and
    ``version`` — the conflict footprint of one commit. If the
    predecessor manifest was vacuumed the footprint is UNKNOWABLE:
    a commit that deleted a partition's every row carries no entry
    for it, so "partitions in the commit" would under-count and a
    concurrent rebase could resurrect the deleted rows. Return
    ``None`` (= touches everything) and let the caller force a
    re-merge instead."""
    cur = _read_manifest(path, version)
    if version - 1 not in snap_versions(path):
        return None
    prev = _read_manifest(path, version - 1)

    def by_part(m):
        out: dict[str, set[str]] = {}
        # delete files are part of the footprint: a MoR delete commit
        # changes a partition's visible rows without touching entries
        for e in m["entries"] + (m.get("delete_entries") or []):
            out.setdefault(str(e["partition"]), set()).add(e["path"])
        return out

    a, b = by_part(prev), by_part(cur)
    return {p for p in set(a) | set(b) if a.get(p) != b.get(p)}


def snap_merge_concurrent(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    delete_col: str | None = None,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    writer_id: str | None = None,
    max_attempts: int = 5,
    _before_publish=None,
) -> int:
    """MERGE under MULTI-WRITER optimistic concurrency — the
    Delta/Iceberg commit protocol on the same manifest machinery:

    1. pin the latest version N as the merge base; write the merged
       touched-partition files into a commit dir unique to this
       writer+attempt (racing writers can never collide on data
       paths — dir names are namespaced, not version-numbered);
    2. attempt the manifest CAS for N+1;
    3. lost the CAS? read what landed. If every intervening commit
       touched only partitions DISJOINT from ours, the merge result
       is still valid — REBASE: re-derive the carried entries from
       the new latest manifest, keep our data files, and CAS for
       latest+1 (no data I/O at all). If any intervening commit
       overlapped our partitions, our merged files are stale —
       discard the commit dir and RE-EXECUTE the merge against the
       new base.

    Every committed version is therefore equivalent to SOME serial
    order of the writers (snapshot isolation with first-committer-
    wins on overlap), which is exactly the contract q_lake_concurrent_merge
    hash-checks against a serially-executed oracle.

    ``_before_publish`` is a test seam: called once after the data
    write and before the first CAS attempt, so tests can inject a
    competing commit deterministically instead of relying on thread
    timing. ``writer_id`` namespaces commit dirs (defaults to a
    random token)."""
    import uuid

    token = writer_id or uuid.uuid4().hex[:8]
    with persisted(updates):
        for attempt in range(max_attempts):
            # the CHECK constraint is enforced per attempt, against the
            # pinned base: a re-execution after a metadata conflict honors
            # a constraint the intervening commit may have introduced
            base_v, cur = _pin(path, "snap_merge_concurrent")
            _, _, merged, touched = _plan_merge(
                spark, path, base_v, cur, updates, key_cols, delete_col,
                "snap_merge_concurrent",
            )
            commit_rel = f"c{base_v + 1:06d}w{token}a{attempt}"
            new_entries = _write_dir(
                spark, path, cur, merged, commit_rel, sort_by=sort_by,
                target_rows_per_file=target_rows_per_file,
            )
            if _before_publish is not None:
                hook, _before_publish = _before_publish, None
                hook()
            changes = {"columns": list(merged.columns), "schema_json": merged.schema.json()}
            # CAS loop: rebase over disjoint commits without rewriting data.
            # Entries and deletes carry from the rebase base; its table-level
            # keys equal the pinned base's, or the rebase is a conflict.
            rebase_m, target_v = cur, base_v + 1
            while not _try_publish(
                path, _next_manifest(rebase_m, target_v, new_entries, touched, changes=changes)
            ):
                latest_v, latest_m = _pin(path, "snap_merge_concurrent")
                footprints = (
                    _touched_partitions(path, v) for v in range(target_v, latest_v + 1)
                )
                # Metadata changes are commit conflicts too (Delta/Iceberg
                # semantics): a rebase republishes the BASE manifest's
                # table-level metadata, so an intervening commit that
                # evolved the schema, altered the CHECK constraint, or
                # retuned bloom/zorder/partition config would be silently
                # reverted — e.g. an additively-added column's data would
                # vanish from reads even though its files are carried.
                # Re-execute against the new base instead, which picks the
                # evolved metadata up through _plan_merge/snap_read.
                if any(tp is None or tp & touched for tp in footprints) or (
                    _manifest_meta_fp(cur) != _manifest_meta_fp(latest_m)
                ):
                    # our merged files (or carried metadata) no longer
                    # reflect the new base — first committer wins, we redo
                    shutil.rmtree(os.path.join(path, commit_rel), ignore_errors=True)
                    break
                rebase_m, target_v = latest_m, latest_v + 1
            else:
                return target_v
        raise SnapshotConflictError(
            f"merge on {path} lost {max_attempts} optimistic attempts — "
            "contention too high for optimistic concurrency"
        )


def snap_diff(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    key_cols: Sequence[str],
) -> DataFrame:
    """Row-level change set between two snapshot versions: one
    full-outer join on the keys, null-safe struct comparison on the
    rest. Returns (key cols, change_type in insert|delete|update,
    _old struct, _new struct) — the CDC feed a downstream consumer
    replays to catch up from v_old to v_new without rescanning the
    table (Delta CDF / Iceberg changelog shape). Cost is a join over
    the two versions' rows; with a partition-pruned read (both
    manifests name their files) it narrows to partitions that can
    differ."""
    key_cols = list(key_cols)
    a, b = snap_read(spark, path, v_old), snap_read(spark, path, v_new)
    others = [c for c in a.columns if c not in key_cols]
    oa = a.select(*key_cols, F.struct(*others).alias("_old"))
    ob = b.select(*key_cols, F.struct(*others).alias("_new"))
    j = oa.join(ob, on=key_cols, how="full_outer")
    ct = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return j.filter(~F.col("_old").eqNullSafe(F.col("_new"))).select(
        *key_cols, ct.alias("change_type"), "_old", "_new"
    )


def snap_vacuum(
    path: str, keep_last: int = 2, min_age_sec: float = 3600.0
) -> dict[str, int]:
    """Reclaim storage: drop all but the last ``keep_last`` manifests,
    then delete data files no retained manifest references (subject to
    ``min_age_sec``, the retention guard against racing readers of a
    just-expired version — Delta VACUUM's retention interval, default
    1 h; pass 0.0 explicitly for tests).
    Time travel contracts shrink accordingly; the latest version is
    never touched."""
    versions = snap_versions(path)
    retained = versions[-max(1, keep_last):]
    referenced = set()
    for v in retained:
        m = _read_manifest(path, v)
        referenced.update(e["path"] for e in m["entries"])
        # pending MoR delete files are live data: reclaiming one would
        # resurrect its deleted rows
        referenced.update(d["path"] for d in m.get("delete_entries") or [])
    now = time.time()
    removed_files = removed_manifests = 0
    for dirpath, _, files in os.walk(path):
        if _MANIFEST_DIR in os.path.relpath(dirpath, path).split(os.sep):
            continue
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, path)
            if rel not in referenced and now - os.path.getmtime(full) >= min_age_sec:
                os.remove(full)
                removed_files += 1
    for v in versions:
        if v not in retained:
            os.remove(_manifest_file(path, v))
            removed_manifests += 1
    # crashed-writer debris: a writer that died between writing its
    # manifest temp and the CAS link leaves a .tmp no publish will
    # ever reclaim — age-guarded like data files
    mdir = os.path.join(path, _MANIFEST_DIR)
    if os.path.isdir(mdir):
        for f in os.listdir(mdir):
            full = os.path.join(mdir, f)
            if f.endswith(".tmp") and now - os.path.getmtime(full) >= min_age_sec:
                os.remove(full)
    # bloom sidecars no retained manifest's files need are debris too
    # (age-guarded like the data files they described). A per-partition
    # sidecar (sharded layout) is live while any referenced file shares
    # its directory; a legacy commit-level sidecar is live while its
    # commit root is. Liveness uses the same STRUCTURAL commit-root
    # derivation as the read path, so clone-borrowed absolute entries
    # (whose roots live outside this table) can never alias a local
    # commit dir name.
    live_roots = {_entry_commit_root(path, r) for r in referenced}
    live_dirs = {os.path.dirname(os.path.join(path, r)) for r in referenced}
    for dirpath, _, files in os.walk(path):
        if _BLOOM_SIDECAR not in files:
            continue
        side = os.path.join(dirpath, _BLOOM_SIDECAR)
        live = (
            dirpath in live_dirs  # sharded: partition dir holds live data
            or dirpath in live_roots  # legacy: commit root still live
        )
        if not live and now - os.path.getmtime(side) >= min_age_sec:
            os.remove(side)
    # sweep now-empty partition/commit dirs so listings stay clean
    for dirpath, dirs, files in os.walk(path, topdown=False):
        if dirpath != path and not dirs and not files:
            shutil.rmtree(dirpath, ignore_errors=True)
    return {"removed_files": removed_files, "removed_manifests": removed_manifests}


def snap_files(
    path: str,
    version: int | None = None,
    partitions: Sequence[str] | None = None,
    range_filter: tuple | None = None,
) -> list[str]:
    """The relative data-file list a snap_read with the same arguments
    would open — metadata-only (audit/test helper for the pruning
    contracts). Mirrors snap_read's error contract: FileNotFoundError
    on an uninitialized table or an absent version."""
    _, m = _pin(path, "snap_files", version)
    entries = _select_entries(m, partitions, range_filter)
    # a MoR table's read also opens the delete files of the partitions
    # it scans — listing them keeps the O(deletes) I/O contract auditable
    return [e["path"] for e in entries + _pending_deletes(m, entries)]


def snap_compact(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    sort_by: Sequence[str] = (),
) -> int:
    """Compaction AS A COMMIT: rewrite the latest version's data into
    target-sized clustered files in a fresh commit dir and publish it
    as version N+1 whose manifest references ONLY the new files. Unlike
    a plain-parquet directory rename swap, this needs no maintenance
    window — readers of any committed version are untouched (their
    files are immutable), the swap is the usual one-rename manifest
    publish, and the small-file debris disappears for good when
    retention vacuums the pre-compaction versions. This is exactly
    Iceberg/Delta ``rewrite_data_files`` / OPTIMIZE."""
    return _compact(spark, path, "snap_compact", None, target_rows_per_file, sort_by)


def _compact(
    spark: SparkSession,
    path: str,
    verb: str,
    partitions: Sequence[str] | None,
    target_rows_per_file: int,
    sort_by: Sequence[str],
) -> int:
    """Rewrite ``partitions`` (``None``: the whole table) of the latest
    version into target-sized files as one commit. The rewrite reads
    through pending deletes and retires them: this is the MoR
    promotion path (Iceberg rewrite_data_files)."""
    import math

    base_v, cur = _pin(path, verb)
    touched = None if partitions is None else {str(p) for p in partitions}
    df = snap_read(
        spark, path, base_v, partitions=None if touched is None else sorted(touched)
    )
    return _commit(
        spark, path, cur, data=df, rewritten=touched, sort_by=sort_by,
        target_rows_per_file=target_rows_per_file,
        n_partitions=max(1, math.ceil(df.count() / target_rows_per_file)),
    )


# ---------------------------------------------------------------------------
# Z-ordered snapshot tables: the Morton bucket IS the manifest
# partition key, so 2-D box reads prune FILES from the manifest alone
# (Iceberg metadata pruning over a Delta OPTIMIZE ZORDER layout).
# ---------------------------------------------------------------------------


def snap_init_zorder(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    bits: int = 3,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    **init_kwargs,
) -> int:
    """Create version 1 CLUSTERED ON THE MORTON CURVE of (col1, col2):
    the z-bucket ``zb`` becomes the snapshot partition key, and the
    fitted grid rides in the manifest (carried forward by every merge
    and compaction), so any later reader can box-prune without
    side-channel state. Merges work unchanged — updates just need the
    same ``zb`` column, which :func:`snap_zvalue` derives from the
    stored grid. Extra keyword arguments (bloom index config, CHECK
    constraints) pass through to :func:`snap_init`, so a z-ordered
    table composes box pruning with point-lookup bloom skipping."""
    from docker_based_real_time_etl_project_spark.operators.zorder import (
        fit_grid,
        zvalue_expr,
    )

    grid = fit_grid(df, col1, col2, bits=bits)
    return snap_init(
        spark,
        df.withColumn("zb", zvalue_expr(grid)),
        path,
        "zb",
        sort_by=tuple(sort_by),
        target_rows_per_file=target_rows_per_file,
        meta={
            "zorder": {
                "col1": grid.col1, "col2": grid.col2,
                "min1": grid.min1, "max1": grid.max1,
                "min2": grid.min2, "max2": grid.max2,
                "bits": grid.bits,
            }
        },
        **init_kwargs,
    )


def _snap_grid(path: str):
    from docker_based_real_time_etl_project_spark.operators.zorder import ZGrid

    z = _pin(path, "snap_zvalue")[1].get("zorder")
    if z is None:
        raise ValueError(f"{path} is not a z-ordered snapshot table")
    return ZGrid(**z)


def snap_zvalue(path: str) -> "F.Column":
    """The ``zb`` expression for NEW rows of a z-ordered snapshot table
    (e.g. a merge batch), derived from the manifest's stored grid so
    updates land in the same buckets as the original layout."""
    from docker_based_real_time_etl_project_spark.operators.zorder import zvalue_expr

    return zvalue_expr(_snap_grid(path))


def snap_box_read(
    spark: SparkSession,
    path: str,
    lo1: int,
    hi1: int,
    lo2: int,
    hi2: int,
    version: int | None = None,
) -> DataFrame:
    """2-D box query over a z-ordered snapshot table: the covered
    Morton buckets are enumerated driver-side from the manifest's grid
    (no data pass), the manifest prunes to exactly those buckets'
    files (``snap_read(partitions=...)`` — no listing, no footer
    reads), and the exact per-row predicate is re-applied so the
    layout can only change bytes read, never results."""
    grid = _snap_grid(path)
    buckets = [str(b) for b in grid.box_buckets(lo1, hi1, lo2, hi2)]
    return snap_read(spark, path, version, partitions=buckets).filter(
        F.col(grid.col1).between(lo1, hi1) & F.col(grid.col2).between(lo2, hi2)
    )


def snap_box_files(path: str, lo1: int, hi1: int, lo2: int, hi2: int,
                   version: int | None = None) -> list[str]:
    """The file list a :func:`snap_box_read` would open — the pruning
    contract, metadata-only (test/audit helper)."""
    grid = _snap_grid(path)
    buckets = [str(b) for b in grid.box_buckets(lo1, hi1, lo2, hi2)]
    return snap_files(path, version=version, partitions=buckets)


def snap_meta(path: str, version: int | None = None) -> dict:
    """Table-level manifest metadata of a version (everything but the
    file entries) — e.g. the z-order grid, or a streaming sink's
    committed batch_id. Same error contract as snap_read/snap_files."""
    _, m = _pin(path, "snap_meta", version)
    return {k: val for k, val in m.items() if k != "entries"}


def snap_as_of(path: str, ts_epoch: float) -> int:
    """TIMESTAMP AS OF resolution (Delta/Iceberg time travel by wall
    clock): the latest version whose commit stamp is <= ``ts_epoch``.
    Every publish re-stamps ``committed_at`` at the CAS point, so the
    stamp order matches the version order by construction. Raises
    FileNotFoundError when the table is uninitialized or the timestamp
    predates the first commit — same contract as the version APIs.
    Pass the result to snap_read/snap_files as ``version``."""
    _pin(path, "snap_as_of")
    best = None
    for v in snap_versions(path):
        stamp = _read_manifest(path, v).get("committed_at")
        if stamp is None:  # pre-stamp manifest: fall back to file mtime
            stamp = os.path.getmtime(_manifest_file(path, v))
        if stamp <= ts_epoch:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no version at or before epoch {ts_epoch} under {path}"
        )
    return best


def snap_compact_partitions(
    spark: SparkSession,
    path: str,
    partitions: Sequence[str],
    target_rows_per_file: int,
    sort_by: Sequence[str] = (),
) -> int:
    """Partition-scoped compaction commit — Delta ``OPTIMIZE ... WHERE``:
    rewrite ONLY the named partitions' files into target-sized ones in
    a fresh commit dir; every other partition's manifest rows are
    carried forward verbatim (zero data I/O, zero listing). At 100 TB
    this is the only compaction shape that works — whole-table
    snap_compact rewrites everything and is for small tables or
    layout migrations."""
    return _compact(
        spark, path, "snap_compact_partitions", partitions, target_rows_per_file,
        sort_by,
    )


def snap_delete_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    mode: str = "cow",
) -> int | None:
    """DELETE WHERE as a commit. Rows where ``predicate`` (a SQL
    boolean expression) is TRUE are removed; rows where it is NULL are
    KEPT — ANSI DELETE semantics, not filter semantics. Returns the
    new version, or None when nothing matched (the idempotent steady
    state — no empty commits).

    ``mode="cow"`` (copy-on-write, Delta/Iceberg v1 row-level delete):
    only partitions that actually contain matching rows are rewritten;
    every other partition's manifest rows are carried forward verbatim
    (zero data I/O). The rewrite cost is proportional to the data that
    keeps living next to deleted rows.

    ``mode="mor"`` (merge-on-read, Iceberg v2 equality-delete files /
    Delta deletion-vector shape): the MATCHED ROWS are written into
    per-partition DELETE FILES and every data entry is carried forward
    verbatim — write I/O is O(deleted rows), so a point delete on a
    wide partition costs the delete, not the partition. Readers
    anti-join the delete files against only the partitions they
    reference; :func:`snap_compact` / :func:`snap_compact_partitions`
    promote the debris back to plain files as a normal versioned
    commit. Time travel, snap_diff, bloom point reads, and the
    optimistic-merge conflict footprint all see through delete files.
    At 100 TB the scan that finds matching rows is predicate-pushed
    and column-pruned either way; MoR shifts the rewrite tax to an
    anti-join on the read side (reference trade: Iceberg v2 spec
    "position & equality deletes"; Delta deletion vectors)."""
    scope = _match_scope(spark, path, "snap_delete_where", predicate, mode)
    if scope is None:
        return None
    mor, cur, touched, scoped, hit = scope
    layout = {"sort_by": sort_by, "target_rows_per_file": target_rows_per_file}
    if mor:
        # only the matched rows are written, as delete files; data
        # entries (and their per-file blooms) carry forward untouched
        return _commit(spark, path, cur, old_images=scoped.filter(hit), **layout)
    return _commit(
        spark, path, cur, data=scoped.filter(~hit), rewritten=touched, **layout
    )


def _match_scope(
    spark: SparkSession,
    path: str,
    verb: str,
    predicate: str,
    mode: str,
    set_cols: Sequence[str] = (),
) -> tuple[bool, dict, set[str], DataFrame, "F.Column"] | None:
    """The shared head of DELETE/UPDATE WHERE: validate ``mode`` and
    the SET targets, pin the latest version, and find the partitions
    holding a row where ``predicate`` is TRUE. Returns (is MoR, base
    manifest, touched partitions, their rows, the NULL-as-FALSE match
    column), or None when nothing matched."""
    mor = _is_mor(mode)
    base_v, cur = _pin(path, verb)
    partition_col = cur["partition_col"]
    if partition_col in set_cols:
        raise ValueError(
            f"partition column {partition_col!r} is immutable; use a merge"
        )
    unknown = [c for c in set_cols if c not in cur["columns"]]
    if unknown:
        raise ValueError(f"SET targets not in table schema: {unknown}")
    cond = F.expr(predicate)
    base = snap_read(spark, path, base_v)
    touched = {
        str(r[0])
        for r in base.filter(cond).select(partition_col).distinct().collect()
    }
    if not touched:
        return None
    scoped = snap_read(spark, path, base_v, partitions=sorted(touched))
    return mor, cur, touched, scoped, F.coalesce(cond, F.lit(False))


def snap_repartition(
    spark: SparkSession,
    path: str,
    new_partition_col: str,
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
) -> int:
    """PARTITION LAYOUT MIGRATION as a commit: rewrite the latest
    version under a NEW partition column and publish it as version
    N+1. Honest cost statement: unlike Iceberg's partition-spec
    evolution (metadata-only, applies to NEW data), this rewrites the
    whole table ONCE — in exchange every version has one uniform
    layout, so reads never union two pruning schemes. History is
    untouched (old versions keep the old layout until vacuumed). A
    z-order grid bound to the old layout is dropped from the manifest
    (box pruning is a property of the zb partitioning); bloom/check
    config carries forward and the new files are re-indexed."""
    base_v, cur = _pin(path, "snap_repartition")
    df = snap_read(spark, path, base_v)
    if new_partition_col not in df.columns:
        raise ValueError(
            f"new partition column {new_partition_col!r} not in {df.columns}"
        )
    if cur.get("bloom_col") == new_partition_col:
        raise ValueError(
            "cannot repartition onto the bloom-indexed column — drop the "
            "index first (partition pruning would make it redundant anyway)"
        )
    return _commit(
        spark, path, cur, data=df, rewritten=None, drop=("zorder",),
        changes={"partition_col": new_partition_col}, sort_by=sort_by,
        target_rows_per_file=target_rows_per_file,
    )


def snap_restore(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE TO VERSION AS OF (Delta RESTORE): publish a NEW
    version whose file set is exactly an old version's manifest
    entries — zero data copied or rewritten, history preserved (the
    bad versions stay readable until retention), and the restore
    itself is just one more atomic manifest CAS. The old version's
    table-level metadata (columns, z-grid, bloom/check config) comes
    back with it, so a restore also undoes a schema evolution."""
    latest, _ = _pin(path, "snap_restore")
    _, old = _pin(path, "snap_restore", version)
    return _commit(
        spark, path, old, version=latest + 1, changes={"restored_from": version}
    )


def snap_clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE (Delta CLONE): create a new snapshot table whose
    version 1 manifest references the SOURCE's data files — zero bytes
    copied, instant fork of a possibly-100TB table for experiments or
    backfills. Later commits to the clone write into the clone's own
    directory and never touch the source; the source evolves
    independently. Entry paths in the clone's manifest are absolute
    into the source (clone-local paths stay relative), so both
    directories keep their own lifecycle.

    The Delta/Iceberg caveat applies here exactly as there: a shallow
    clone BORROWS the source's files, and vacuuming the SOURCE can
    reclaim files an old clone version still names (each table's
    vacuum sees only its own manifests). Production systems either
    track cross-table references or deep-clone before source
    retention; this module documents the hazard rather than hiding it
    (pinned in tests/test_lakesnap.py)."""
    v, m = _pin(src, "snap_clone", version)
    if snap_versions(dst):
        raise FileExistsError(f"clone target {dst} already has commits")

    def borrow(es):
        return [
            {**e, "path": os.path.join(os.path.abspath(src), e["path"])}
            for e in es
        ]

    dels = m.get("delete_entries") or []
    # pending delete files are borrowed too — the clone must see the
    # same merged rows as the source version it forked. Sequence numbers
    # are preserved (relative order between borrowed deletes and
    # borrowed update images must hold) and seq_floor lifts every
    # FUTURE clone-local commit above them (see _commit_seq).
    seqs = [int(e["seq"]) for e in m["entries"] + dels if "seq" in e]
    return _commit(
        spark, dst, m, version=1, entries=borrow(m["entries"]),
        deletes=borrow(dels), rewritten=None,
        changes={
            "cloned_from": {"path": os.path.abspath(src), "version": v},
            "seq_floor": max([int(m.get("seq_floor", 0))] + seqs),
        },
    )


def snap_update_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    mode: str = "cow",
) -> int | None:
    """UPDATE ... SET ... WHERE as a commit — with :func:`snap_merge`
    (MERGE/upsert + tombstones) and :func:`snap_delete_where` this
    completes the DML verb set. ``assignments`` maps column -> SQL
    expression, evaluated against the pre-update row (standard UPDATE
    semantics: all SET expressions see the old values); each value is
    cast to its column's recorded type. Rows where ``predicate`` is
    NULL are not updated (ANSI). The partition column
    is immutable, as everywhere in this lake (an update that moves
    rows across partitions is a delete + insert — do it as a merge).
    Returns None when nothing matched.

    ``mode="cow"``: only partitions containing matching rows are
    rewritten (same touched-partition I/O contract as delete).

    ``mode="mor"`` (the Hudi merge-on-read UPSERT shape): the matched
    rows' OLD images land in delete files and their NEW images in
    ordinary data files appended to the same commit — write I/O is
    O(matched rows), no partition rewritten. The new images carry the
    commit's SEQUENCE NUMBER, which exempts them from the commit's own
    delete files (Iceberg v2 sequence ordering — an identity update,
    SET x = x, would otherwise delete its own output). Readers merge
    exactly as for MoR deletes; compaction promotes."""
    scope = _match_scope(
        spark, path, "snap_update_where", predicate, mode, set_cols=list(assignments)
    )
    if scope is None:
        return None
    mor, cur, touched, scoped, hit = scope
    types = dict(scoped.dtypes)

    def assigned(c: str) -> "F.Column":
        # store assignment: the column keeps its recorded type
        return F.expr(assignments[c]).cast(types[c])

    changed = scoped.filter(hit).select(
        *[
            assigned(c).alias(c) if c in assignments else F.col(c)
            for c in cur["columns"]
        ]
    )
    _enforce_check(changed, cur, "snap_update_where result")
    layout = {"sort_by": sort_by, "target_rows_per_file": target_rows_per_file}
    if mor:
        return _commit(
            spark, path, cur, data=changed, old_images=scoped.filter(hit), **layout
        )
    updated = scoped.select(
        *[
            F.when(hit, assigned(c)).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in cur["columns"]
        ]
    )
    return _commit(spark, path, cur, data=updated, rewritten=touched, **layout)


# ---------------------------------------------------------------------------
# Per-file Bloom indexes: point-lookup file skipping that min/max
# stats can't give (high-cardinality keys spread uniformly across
# files have useless ranges but near-disjoint membership sets). The
# same idea as Delta's bloom-filter index / Iceberg's bloom value
# skipping, built on operators/bloom.py's pinned hash arithmetic.
#
# Layout: one sidecar `_blooms.json` per partition dir of a commit
# (immutable, like the data files it describes) mapping each data
# file's basename to its bitmap words; commits written before the
# shard have one commit-level sidecar instead. The manifest carries
# only the table-level config (bloom_col / bloom_bits / bloom_k /
# bloom_type), so manifests stay O(files) no matter how many bits each
# file's bloom holds. The build is DISTRIBUTED: one Spark pass over
# only the new commit's files, per-file numpy OR-folds (the same
# _fold_hashes_into the contamination screen uses), streamed to the
# driver one partition dir group at a time. Probes hash the
# lookup values with Spark's own xxhash64 (one tiny job), so build and
# probe arithmetic cannot drift. Files from commits written before the
# index existed simply have no sidecar entry and are conservatively
# kept — no false negatives, ever.
# ---------------------------------------------------------------------------

_BLOOM_SIDECAR = "_blooms.json"


def _bloom_sidecar_file(path: str, commit_rel: str) -> str:
    """Legacy commit-level sidecar location (pre-round-10 layout; the
    write path now shards per partition dir — see _attach_blooms)."""
    return os.path.join(path, commit_rel, _BLOOM_SIDECAR)


def _bloom_sidecar_files(path: str, commit_rel: str) -> list[str]:
    """Every bloom sidecar under one commit dir, either layout
    (audit/test helper)."""
    root = os.path.join(path, commit_rel)
    return sorted(
        os.path.join(dp, f)
        for dp, _, files in os.walk(root)
        for f in files
        if f == _BLOOM_SIDECAR
    )


def _bloom_partials(
    spark: SparkSession, base: str, column: str, m_bits: int, k: int
) -> DataFrame | None:
    """The distributed half of the bloom build: mapInPandas folds each
    task's xxhash64(column) stream into per-file numpy bitmaps (one
    partial PER FILE PER TASK — a small file's rows land in one task,
    so partial count ~= file count) and emits whole bitmaps as
    array<long> rows. No per-word shuffle: the first wiring aggregated
    (file, word_idx) rows with bit_or and paid a 657k-row exchange for
    a 321-file commit (measured 15 s at sf1 vs ~4 s for scan+fold);
    whole-array partials make the build scan-bound. Returns None when
    the commit dir holds no data files (an empty merge commits only
    carried entries)."""
    import numpy as np

    from docker_based_real_time_etl_project_spark.operators.bloom import (
        _fold_hashes_into,
    )

    n_words = m_bits // 64
    has_data = any(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for _, _, files in os.walk(base)
        for f in files
    )
    if not has_data:
        return None
    src = spark.read.parquet(base).select(
        F.input_file_name().alias("_f"),
        F.xxhash64(F.col(column)).alias("_h"),
    )

    def fold(batches):
        import pandas as pd

        acc: dict[str, object] = {}
        for pdf in batches:
            for fname, grp in pdf.groupby("_f", sort=False):
                words = acc.get(fname)
                if words is None:
                    words = acc[fname] = np.zeros(n_words, dtype=np.uint64)
                _fold_hashes_into(
                    words,
                    grp["_h"].to_numpy(dtype=np.int64).view(np.uint64),
                    m_bits, k,
                )
        if acc:
            yield pd.DataFrame(
                {
                    "f": list(acc),
                    "words": [w.view(np.int64).tolist() for w in acc.values()],
                }
            )

    return src.mapInPandas(fold, "f string, words array<long>")


def _file_blooms(
    spark: SparkSession, path: str, commit_rel: str, column: str,
    m_bits: int, k: int,
) -> dict[str, list[int]]:
    """Per-file bloom bitmaps for every data file under one commit dir,
    merged on the driver (collects O(commit_files x m_bits/64) longs —
    the partial-merge pin and small audits use this; the sidecar WRITE
    path streams per partition instead, see :func:`_attach_blooms`)."""
    import numpy as np

    from urllib.parse import urlparse

    src = _bloom_partials(
        spark, os.path.join(path, commit_rel), column, m_bits, k
    )
    if src is None:
        return {}
    acc: dict[str, object] = {}
    for r in src.collect():
        rel = os.path.relpath(unquote(urlparse(r["f"]).path), path)
        w = np.asarray(r["words"], dtype=np.int64)
        acc[rel] = w if rel not in acc else (acc[rel] | w)
    return {rel: [int(x) for x in w] for rel, w in acc.items()}


# observability hook for the scale pin: max bitmaps the driver buffered
# at once during the last _attach_blooms (tests assert it tracks the
# largest PARTITION's file count, not the commit's)
_LAST_MAX_BUFFERED_BITMAPS = 0


def _attach_blooms(spark: SparkSession, path: str, commit_rel: str, manifest: dict) -> None:
    """Write the commit's bloom sidecars when the table has a bloom
    index configured. Called only from :func:`_write_dir`, so every
    commit that writes data files indexes them.

    SHARDED PER PARTITION DIR (round-10): one `_blooms.json` inside
    each `<commit>/<partition>=<value>/` dir, keyed by file basename.
    The partials stream to the driver grouped by partition dir
    (repartition on the dir + toLocalIterator, which yields one shuffle
    partition at a time), and each group's sidecar is written and
    RELEASED before the next arrives — the driver holds O(files of the
    partitions hashed into one shuffle partition), not O(commit files),
    so a 10^5-file commit builds its index flat. Readers fall back to
    the legacy commit-level sidecar for commits written before the
    shard (see :func:`_bloom_prune`)."""
    global _LAST_MAX_BUFFERED_BITMAPS
    import numpy as np
    from urllib.parse import urlparse

    col = manifest.get("bloom_col")
    if not col:
        return
    base = os.path.join(path, commit_rel)
    src = _bloom_partials(
        spark, base, col, int(manifest["bloom_bits"]), int(manifest["bloom_k"])
    )
    if src is None:
        return
    # one shuffle partition per partition dir (counted with a local
    # listing of just this commit — cheap), EXPLICIT so AQE cannot
    # coalesce the small groups back into one driver-side buffer; hash
    # collisions can still co-locate a few dirs, which only widens the
    # hold to those dirs' files, never to the whole commit
    n_dirs = max(
        1,
        sum(
            1
            for _, _, files in os.walk(base)
            if any(
                f.endswith(".parquet") and not f.startswith(("_", "."))
                for f in files
            )
        ),
    )
    staged = (
        src.withColumn("d", F.expr(r"regexp_replace(f, '/[^/]+$', '')"))
        .repartition(n_dirs, "d")
        .withColumn("pid", F.spark_partition_id())
    )

    def flush(buf: dict[str, dict[str, object]]) -> None:
        for d, files in buf.items():
            side = os.path.join(d, _BLOOM_SIDECAR)
            payload = {
                name: [int(x) for x in w] for name, w in sorted(files.items())
            }
            tmp = side + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(payload, fh)
            os.replace(tmp, side)

    buf: dict[str, dict[str, object]] = {}
    max_buffered = 0
    cur_pid = None
    for r in staged.toLocalIterator():
        if cur_pid is not None and r["pid"] != cur_pid:
            # a shuffle partition is exhausted: all its dirs are
            # complete (a dir's partials never span shuffle partitions)
            flush(buf)
            buf = {}
        cur_pid = r["pid"]
        d = unquote(urlparse(r["d"]).path)
        name = os.path.basename(unquote(urlparse(r["f"]).path))
        w = np.asarray(r["words"], dtype=np.int64)
        files = buf.setdefault(d, {})
        files[name] = w if name not in files else (files[name] | w)
        max_buffered = max(max_buffered, sum(len(v) for v in buf.values()))
    flush(buf)
    _LAST_MAX_BUFFERED_BITMAPS = max_buffered


def _bloom_maybe(words: list[int], h: int, m_bits: int, k: int) -> bool:
    """Driver-side membership probe — the Python twin of
    bloom_might_contain's expression arithmetic (lockstep pinned via
    operators/bloom._probe_params_py)."""
    from docker_based_real_time_etl_project_spark.operators.bloom import (
        _probe_params_py,
    )

    h1, h2 = _probe_params_py(h, m_bits)
    for i in range(k):
        pos = (h1 + i * h2) % m_bits
        if not (words[pos >> 6] >> (pos & 63)) & 1:
            return False
    return True


def _value_hashes(spark: SparkSession, values: Sequence, col_type: str) -> list[int]:
    """xxhash64 of the probe values, computed BY SPARK on the indexed
    column's exact type — the only way to guarantee the probe hashes
    what the build hashed (xxhash64 is type-sensitive)."""
    hdf = spark.createDataFrame([(v,) for v in values], f"v {col_type}")
    return [r[0] for r in hdf.select(F.xxhash64("v")).collect()]


def _bloom_prune(
    spark: SparkSession, path: str, entries: list[dict], manifest: dict,
    values: Sequence,
) -> list[dict]:
    """Drop entries whose file bloom proves NONE of ``values`` can be
    present. Entries from commits without a sidecar (pre-index
    history) are kept — skipping is an optimization, never a filter.

    Sidecar lookup is per PARTITION DIR (`<part>/_blooms.json` keyed by
    file basename — the round-10 sharded layout, so a point read loads
    only the probed partitions' bitmaps), with fallback to the legacy
    commit-level sidecar keyed by commit-relative path."""
    m_bits, k = int(manifest["bloom_bits"]), int(manifest["bloom_k"])
    hashes = _value_hashes(spark, values, manifest["bloom_type"])
    sidecars: dict[str, dict | None] = {}

    def load(side: str) -> dict | None:
        if side not in sidecars:
            if os.path.exists(side):
                with open(side) as fh:
                    sidecars[side] = json.load(fh)
            else:
                sidecars[side] = None
        return sidecars[side]

    kept = []
    for e in entries:
        full = os.path.join(path, e["path"])
        words = None
        part_blooms = load(os.path.join(os.path.dirname(full), _BLOOM_SIDECAR))
        if part_blooms is not None:
            words = part_blooms.get(os.path.basename(full))
        if words is None:
            root = _entry_commit_root(path, e["path"])
            legacy = load(os.path.join(root, _BLOOM_SIDECAR))
            if legacy is not None:
                # legacy keys are commit-relative: <commit>/<part>/file
                words = legacy.get(
                    os.path.relpath(full, os.path.dirname(root))
                )
        if words is None or any(
            _bloom_maybe(words, h, m_bits, k) for h in hashes
        ):
            kept.append(e)
    return kept


def _bloom_scope(
    spark: SparkSession, path: str, verb: str, values: Sequence, version: int | None
) -> tuple[int, dict, list[dict]]:
    """(version, manifest, entries a point lookup of ``values`` opens)."""
    v, m = _pin(path, verb, version)
    if not m.get("bloom_col"):
        raise ValueError(f"{path} has no bloom index configured")
    return v, m, _bloom_prune(spark, path, m["entries"], m, values)


def snap_point_files(
    spark: SparkSession, path: str, values: Sequence, version: int | None = None
) -> list[str]:
    """The file list a :func:`snap_point_read` for ``values`` would
    open — the bloom-skipping contract, metadata + sidecar reads only
    (test/audit helper, twin of snap_files/snap_box_files)."""
    _, _, kept = _bloom_scope(spark, path, "snap_point_files", values, version)
    return [e["path"] for e in kept]


def snap_point_read(
    spark: SparkSession, path: str, values: Sequence, version: int | None = None
) -> DataFrame:
    """POINT LOOKUP over the bloom-indexed key: prune the version's
    file set to files whose bloom might contain ANY of ``values``
    (plus unindexed history, kept for safety), read only those, and
    re-apply the exact IN predicate — the index can only change bytes
    read, never results. At scale this is the Delta bloom-index /
    Iceberg value-skipping read path: a needle-in-100-TB key probe
    opens a handful of files instead of a full partition scan, because
    a uniformly distributed key defeats min/max stats but not
    membership bitmaps."""
    v, m, kept = _bloom_scope(spark, path, "snap_point_read", values, version)
    if not kept:
        return snap_read(spark, path, v).filter(F.lit(False))
    df = _read_with_deletes(spark, path, kept, m)
    return df.filter(F.col(m["bloom_col"]).isin(list(values)))


def snap_maintain(
    spark: SparkSession,
    path: str,
    max_files_per_partition: int = 8,
    target_rows_per_file: int = 100_000,
    sort_by: Sequence[str] = (),
) -> int | None:
    """AUTO-COMPACTION policy (Delta auto-optimize): inspect the latest
    manifest — pure metadata, no data read — and compact exactly the
    partitions whose file count exceeds ``max_files_per_partition``.
    Returns the new version, or None when nothing is fragmented (the
    idempotent steady state). Streaming sinks call this after their
    commit cadence; incremental merges fragment only the partitions
    they touch, so the maintain cost tracks the write rate, not the
    table size."""
    counts: dict[str, int] = {}
    for e in _pin(path, "snap_maintain")[1]["entries"]:
        counts[str(e["partition"])] = counts.get(str(e["partition"]), 0) + 1
    frag = sorted(p for p, c in counts.items() if c > max_files_per_partition)
    if not frag:
        return None
    return snap_compact_partitions(
        spark, path, frag, target_rows_per_file, sort_by=sort_by
    )


def snap_sync(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: Sequence[str],
    sort_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    meta: dict | None = None,
    mode: str = "cow",
) -> int | None:
    """FULL-TABLE SYNC as one commit: make the latest version equal
    ``source`` exactly — Delta's three-armed MERGE (WHEN MATCHED
    UPDATE, WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE
    DELETE; reference pattern: the Cassandra sink's full-row mapping
    `cassandra-sink-config.json:14-18` is a per-topic sync contract).

    DIFF-PRUNED: rows identical in EVERY column (null-safe) are
    dropped from the merge batch before it is planned, so the commit's
    write I/O is O(actual differences) and partitions whose rows all
    match the source are carried forward verbatim — a sync of an
    already-synced table is free. Returns the new version, or ``None``
    (NO commit published) when the table already equals the source,
    which also makes the verb idempotent under re-runs. Requires the
    source to carry exactly the table's columns (a sync DEFINES the
    final state — schema evolution stays with snap_merge).

    At 100 TB the two diff joins shuffle on the merge keys like any
    MERGE; the tombstone side is a key-only anti-join, and the
    changed-row side prunes to content differences via the null-safe
    full-row comparison — the partitions rewritten are exactly those
    holding a changed, inserted, or deleted row.
    """
    cols = list(_pin(path, "snap_sync")[1]["columns"])
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"snap_sync source columns {sorted(source.columns)} must equal "
            f"table columns {sorted(cols)}"
        )
    cur = snap_read(spark, path)
    src = source.select(*cols)
    # rows of the source with NO identical row in the table: updates
    # (changed content under an existing key) and inserts (new key).
    # The content comparison shuffles (key, xxhash64-of-all-columns)
    # signatures — 8 bytes of content per row across the wire instead
    # of the full width — then fetches only the changed keys' full
    # rows with a semi-join (broadcastable when the drift is small).
    # xxhash64 folds NULLs deterministically, so the signature match
    # is null-safe; a 64-bit collision masking a changed row is the
    # standard checksum-diff trade (~2^-64 per pair) every
    # content-addressed sync makes.
    hcol = F.xxhash64(*[F.col(c) for c in cols])
    src_sig = src.select(*key_cols, hcol.alias("_h"))
    cur_sig = cur.select(*key_cols, hcol.alias("_h"))
    # Every key comparison below is eqNullSafe: with plain equality a
    # NULL-keyed table row never matches, so it falls into the 'gone'
    # arm and is deleted on EVERY sync while the source's NULL-keyed
    # row can never re-enter through the left_semi — silent data loss.
    # eqNullSafe remains an equi-join key for the hash joins, so the
    # (key, hash)-signature shuffle plan is unchanged. (_h is
    # xxhash64 output and never NULL; plain == is exact there.)
    changed_keys = (
        src_sig.alias("_s")
        .join(
            cur_sig.alias("_t"),
            on=[
                F.col(f"_s.{k}").eqNullSafe(F.col(f"_t.{k}"))
                for k in key_cols
            ]
            + [F.col("_s._h") == F.col("_t._h")],
            how="left_anti",
        )
        .select(*key_cols)
    )
    changed = src.alias("_s").join(
        changed_keys.alias("_k"),
        on=[F.col(f"_s.{k}").eqNullSafe(F.col(f"_k.{k}")) for k in key_cols],
        how="left_semi",
    )
    # keys in the table absent from the source: deletes
    gone = cur.alias("_t").join(
        src.select(*key_cols).distinct().alias("_s"),
        on=[F.col(f"_t.{k}").eqNullSafe(F.col(f"_s.{k}")) for k in key_cols],
        how="left_anti",
    )
    # Hold the diff for the call: isEmpty() runs both table-wide diff
    # joins, and without the cache the merge would recompute the whole
    # lineage from scratch — at 100 TB the sync's dominant cost paid
    # twice. The cache holds O(actual differences), not O(table), and
    # is released once the commit is published.
    batch = changed.withColumn("_sync_delete", F.lit(False)).unionByName(
        gone.withColumn("_sync_delete", F.lit(True))
    )
    with persisted(batch):
        if batch.isEmpty():
            return None
        return snap_merge(
            spark, path, batch, key_cols=key_cols, delete_col="_sync_delete",
            sort_by=sort_by, target_rows_per_file=target_rows_per_file,
            meta=meta, mode=mode,
        )
