"""Snapshot-versioned lake contracts: time travel, manifest-only
pruning (untouched files byte-untouched and carried forward), diff as
a CDC feed, and vacuum retention."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pyspark.sql.functions as F
import pytest

from docker_based_real_time_etl_project_spark.lakesnap import (
    snap_diff,
    snap_init,
    snap_merge,
    snap_read,
    snap_vacuum,
    snap_versions,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def snap_table(spark):
    """orders as a snapshot table: v1 = pristine, v2 = one-partition
    upsert+delete+insert batch."""
    path = tempfile.mkdtemp(prefix="snaptbl_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    v1 = snap_init(
        spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",)
    )
    assert v1 == 1
    # touch ONLY one partition so carried-forward pruning is observable
    part = "1-URGENT"
    upd = (
        orders.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 7 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
        .withColumn("_delete", F.col("o_orderkey") % 14 == 0)
    )
    ins = (
        orders.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 11 == 3)
        )
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("_delete", F.lit(False))
    )
    v2 = snap_merge(
        spark,
        path,
        upd.unionByName(ins),
        key_cols=("o_orderkey",),
        delete_col="_delete",
        sort_by=("o_orderkey",),
    )
    assert v2 == 2
    return path, part, orders


def test_time_travel_v1_unchanged(spark, snap_table):
    path, _, orders = snap_table
    got = snap_read(spark, path, 1).select(*orders.columns)
    assert got.exceptAll(orders).count() == 0
    assert orders.exceptAll(got).count() == 0


def test_latest_reflects_merge(spark, snap_table):
    path, part, orders = snap_table
    latest = snap_read(spark, path).select(*orders.columns)
    # deleted keys gone, updated keys changed, inserted keys present
    assert (
        latest.filter(
            (F.col("o_orderpriority") == part)
            & (F.col("o_orderkey") % 14 == 0)
            & (F.col("o_orderkey") < 10_000_000)
        ).count()
        == 0
    )
    n_ins_expected = orders.filter(
        (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 11 == 3)
    ).count()
    assert (
        latest.filter(F.col("o_orderkey") >= 10_000_000).count()
        == n_ins_expected
    )
    # untouched partitions identical to v1
    other = latest.filter(F.col("o_orderpriority") != part)
    truth = orders.filter(F.col("o_orderpriority") != part)
    assert other.exceptAll(truth).count() == 0
    assert truth.exceptAll(other).count() == 0


def test_untouched_files_carried_forward(snap_table):
    """The merge must not rewrite (or even re-list) untouched
    partitions: their manifest rows are copied verbatim, still
    pointing into the v1 commit dir."""
    import json

    path, part, _ = snap_table
    m1 = json.load(open(os.path.join(path, "_manifests", "v000001.json")))
    m2 = json.load(open(os.path.join(path, "_manifests", "v000002.json")))
    carried1 = sorted(e["path"] for e in m1["entries"] if e["partition"] != part)
    carried2 = sorted(e["path"] for e in m2["entries"] if e["partition"] != part)
    assert carried1 == carried2
    assert all(p.startswith("c000001") for p in carried2)
    touched2 = [e["path"] for e in m2["entries"] if e["partition"] == part]
    assert touched2 and all(p.startswith("c000002") for p in touched2)


def test_diff_is_the_change_feed(spark, snap_table):
    path, part, orders = snap_table
    d = snap_diff(spark, path, 1, 2, key_cols=("o_orderkey",)).cache()
    base = orders.filter(F.col("o_orderpriority") == part)
    n_upd = base.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 14 != 0)
    ).count()
    n_del = base.filter(F.col("o_orderkey") % 14 == 0).count()
    n_ins = base.filter(F.col("o_orderkey") % 11 == 3).count()
    got = {
        r["change_type"]: r["n"]
        for r in d.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == {"update": n_upd, "delete": n_del, "insert": n_ins}
    # update rows really differ, by exactly the price correction
    bad = d.filter(
        (F.col("change_type") == "update")
        & (
            F.abs(
                F.col("_new.o_totalprice") - F.col("_old.o_totalprice") - 5.0
            )
            > 1e-9
        )
    ).count()
    assert bad == 0
    d.unpersist()


def test_vacuum_retention(spark, snap_table):
    path, _, orders = snap_table
    latest_before = snap_read(spark, path).count()
    # default retention (1 h, Delta-style) spares just-written files so
    # a racing reader of an expired version can't lose its data mid-read
    guarded = snap_vacuum(path, keep_last=1)
    assert guarded["removed_files"] == 0
    assert guarded["removed_manifests"] == 1
    res = snap_vacuum(path, keep_last=1, min_age_sec=0.0)
    assert res["removed_files"] > 0
    assert snap_versions(path) == [2]
    assert snap_read(spark, path).count() == latest_before
    with pytest.raises(FileNotFoundError):
        snap_read(spark, path, 1)


def test_cdc_snap_history(spark):
    """The versioned CDC sink leaves one readable version per
    micro-batch; the final version's live state equals the batch
    materialization."""
    import pyspark.sql.functions as F

    from docker_based_real_time_etl_project_spark.queries import REGISTRY
    from docker_based_real_time_etl_project_spark.queries.cdc_q import (
        _cdc_snap_pipeline,
    )
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_read,
        snap_versions,
    )

    lake = _cdc_snap_pipeline(spark, SF_SMOKE)
    versions = snap_versions(lake)
    assert versions == [1, 2, 3, 4]  # one commit per changelog batch
    for v in versions:
        assert snap_read(spark, lake, v).count() > 0
    final = (
        snap_read(spark, lake)
        .filter(~F.col("deleted"))
        .select("user_id", F.col("value").alias("current_value"))
    )
    truth = REGISTRY["q_cdc_materialize"].fn(spark, SF_SMOKE)
    assert final.exceptAll(truth).count() == 0
    assert truth.exceptAll(final).count() == 0


def test_manifest_stats_prune_files(spark):
    """Range reads prune FILES from manifest min/max stats alone, and
    the pruned read returns exactly the filtered rows."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_files

    path = tempfile.mkdtemp(prefix="snapstats_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(
        spark, orders, path, "o_orderpriority",
        sort_by=("o_orderkey",), target_rows_per_file=200,
        stats_col="o_orderkey",
    )
    lo, hi = 100, 300
    all_files = snap_files(path)
    pruned = snap_files(path, range_filter=(lo, hi))
    assert len(pruned) < len(all_files)  # sorted layout => tight stats
    got = snap_read(spark, path, range_filter=(lo, hi)).filter(
        F.col("o_orderkey").between(lo, hi)
    )
    truth = orders.filter(F.col("o_orderkey").between(lo, hi))
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0


def test_compaction_is_a_commit(spark):
    """snap_compact publishes a new version with only fresh files;
    prior versions stay readable until vacuumed; data identical."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_compact,
        snap_files,
    )

    path = tempfile.mkdtemp(prefix="snapcompact_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(
        spark, orders, path, "o_orderpriority",
        sort_by=("o_orderkey",), target_rows_per_file=100,
    )
    files_before = len(snap_files(path))
    v2 = snap_compact(spark, path, target_rows_per_file=100_000,
                      sort_by=("o_orderkey",))
    assert v2 == 2
    assert len(snap_files(path, 2)) < files_before
    assert all(p.startswith("c000002") for p in snap_files(path, 2))
    a, b = snap_read(spark, path, 1), snap_read(spark, path, 2)
    cols = orders.columns
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_metadata_error_contract_uninitialized():
    """snap_files and snap_read agree on the error contract: both raise
    FileNotFoundError on an uninitialized table and on absent versions
    (round-8 advice: snap_files used to IndexError)."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_files

    empty = tempfile.mkdtemp(prefix="snapempty_")
    with pytest.raises(FileNotFoundError):
        snap_files(empty)
    with pytest.raises(FileNotFoundError):
        snap_files(empty, 1)


def test_metadata_error_contract_absent_version(snap_table):
    from docker_based_real_time_etl_project_spark.lakesnap import snap_files

    path, _, _ = snap_table
    with pytest.raises(FileNotFoundError):
        snap_files(path, 99)


def _priced(orders, part, mod, delta):
    return (
        orders.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 17 == mod)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + delta)
    )


def test_concurrent_merge_rebase_disjoint(spark):
    """Two writers race; the loser's commit touched a DISJOINT
    partition, so it must rebase (keep its data files, re-derive the
    manifest) and land as the next version — both updates visible,
    history equivalent to serial execution, no data rewritten."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcas1_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))

    upd_b = _priced(orders, "2-HIGH", 3, 11.0)

    def competing_commit():
        v = snap_merge_concurrent(
            spark, path, upd_b, key_cols=("o_orderkey",), writer_id="wB"
        )
        assert v == 2

    upd_a = _priced(orders, "1-URGENT", 3, 7.0)
    v = snap_merge_concurrent(
        spark, path, upd_a, key_cols=("o_orderkey",),
        writer_id="wA", _before_publish=competing_commit,
    )
    assert v == 3  # rebased onto wB's v2, did not clobber it
    assert snap_versions(path) == [1, 2, 3]
    latest = snap_read(spark, path)
    # both writers' edits visible in the final version
    import json as _json

    for part, mod, delta in (("2-HIGH", 3, 11.0), ("1-URGENT", 3, 7.0)):
        truth = _priced(orders, part, mod, delta).select(*orders.columns)
        got = latest.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 17 == mod)
        )
        assert got.exceptAll(truth).count() == 0
        assert truth.exceptAll(got).count() == 0
    # the rebase kept writer A's attempt-0 files: no re-merge happened
    m3 = _json.load(open(os.path.join(path, "_manifests", "v000003.json")))
    a_files = [e["path"] for e in m3["entries"] if "wA" in e["path"]]
    assert a_files and all(p.startswith("c000002wwAa0") for p in a_files)


def test_concurrent_merge_overlap_reexecutes(spark):
    """The competing commit touched the SAME partition: the loser's
    merged files are stale, so it must discard them and re-merge
    against the winner's version — both key-level edits survive
    (first-committer-wins snapshot isolation, serial-equivalent)."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcas2_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))

    upd_b = _priced(orders, "1-URGENT", 5, 11.0)

    def competing_commit():
        snap_merge_concurrent(
            spark, path, upd_b, key_cols=("o_orderkey",), writer_id="wB"
        )

    upd_a = _priced(orders, "1-URGENT", 3, 7.0)
    v = snap_merge_concurrent(
        spark, path, upd_a, key_cols=("o_orderkey",),
        writer_id="wA", _before_publish=competing_commit,
    )
    assert v == 3
    latest = snap_read(spark, path)
    base = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    # serial truth: apply B then A on the shared partition
    truth = base.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 17 == 3, F.col("o_totalprice") + 7.0)
        .when(F.col("o_orderkey") % 17 == 5, F.col("o_totalprice") + 11.0)
        .otherwise(F.col("o_totalprice")),
    )
    got = latest.filter(F.col("o_orderpriority") == "1-URGENT")
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0
    # the stale attempt-0 dir was discarded
    assert not os.path.exists(os.path.join(path, "c000002wwAa0"))


def test_concurrent_merge_threaded_race(spark):
    """A REAL two-thread race (no seam): whatever the interleaving,
    both commits land, versions are contiguous, and the final state
    equals the serial application of both disjoint updates."""
    import threading

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcas3_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))

    errs = []

    def writer(part, delta, wid):
        try:
            snap_merge_concurrent(
                spark, path, _priced(orders, part, 3, delta),
                key_cols=("o_orderkey",), writer_id=wid,
            )
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=writer, args=("1-URGENT", 7.0, "wA"))
    t2 = threading.Thread(target=writer, args=("2-HIGH", 11.0, "wB"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert snap_versions(path) == [1, 2, 3]
    latest = snap_read(spark, path).select(*orders.columns)
    truth = orders.withColumn(
        "o_totalprice",
        F.when(
            (F.col("o_orderkey") % 17 == 3)
            & (F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_totalprice") + 7.0,
        )
        .when(
            (F.col("o_orderkey") % 17 == 3)
            & (F.col("o_orderpriority") == "2-HIGH"),
            F.col("o_totalprice") + 11.0,
        )
        .otherwise(F.col("o_totalprice")),
    )
    assert latest.exceptAll(truth).count() == 0
    assert truth.exceptAll(latest).count() == 0


def test_zorder_snapshot_box_prunes_from_manifest(spark):
    """Z-ordered snapshot table: (a) a 2-D box read opens strictly
    fewer manifest files than a full read, (b) results equal the
    unclustered filter exactly, (c) the grid survives a MERGE (carried
    manifest metadata) so box reads stay correct on v2 — and the v2
    box read still prunes."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_box_files,
        snap_box_read,
        snap_files,
        snap_init_zorder,
        snap_merge,
        snap_zvalue,
    )

    path = tempfile.mkdtemp(prefix="snapz_")
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    v1 = snap_init_zorder(
        spark, li, path, "l_partkey", "l_suppkey", bits=3,
        sort_by=("l_orderkey",), target_rows_per_file=5000,
    )
    assert v1 == 1
    row = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    pmn, pmx, smn, smx = (int(x) for x in row)
    lo1, hi1 = pmn + (pmx - pmn) // 10, pmn + (pmx - pmn) // 4
    lo2, hi2 = smn, smn + (smx - smn) // 5

    # (a) manifest-only pruning
    assert len(snap_box_files(path, lo1, hi1, lo2, hi2)) < len(snap_files(path))
    # (b) layout-independent results
    got = snap_box_read(spark, path, lo1, hi1, lo2, hi2).select(*li.columns)
    truth = li.filter(
        F.col("l_partkey").between(lo1, hi1)
        & F.col("l_suppkey").between(lo2, hi2)
    )
    assert got.count() > 0
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0

    # (c) merge with grid-derived zb; box read reflects the update
    upd = (
        li.filter(
            F.col("l_partkey").between(lo1, hi1)
            & F.col("l_suppkey").between(lo2, hi2)
            & (F.col("l_orderkey") % 3 == 0)
        )
        .withColumn("l_quantity", F.col("l_quantity") + 1000.0)
    )
    upd = upd.withColumn("zb", snap_zvalue(path))
    v2 = snap_merge(
        spark, path, upd, key_cols=("l_orderkey", "l_linenumber"),
        sort_by=("l_orderkey",),
    )
    assert v2 == 2
    got2 = snap_box_read(spark, path, lo1, hi1, lo2, hi2)
    bumped = got2.filter(F.col("l_quantity") > 900).count()
    assert bumped == upd.count()
    assert len(snap_box_files(path, lo1, hi1, lo2, hi2, version=2)) < len(
        snap_files(path, version=2)
    )


def test_write_clustered_zorder_layout(spark, tmp_path):
    """lakewrite.write_clustered(layout='zorder') returns the fitted
    grid and produces a bucket-partitioned layout whose box scan reads
    strictly fewer files than the linear layout for the same box, with
    identical results. The box is FULL-range in the linear sort key
    and narrow in the second dimension — the workload shape a 1-D
    layout fundamentally cannot prune (it must read every file) and
    the z-curve exists for. sf0.01 so file counts are meaningful
    (at sf0.001 whole dimensions fit in one file and any layout
    'wins' by accident)."""
    from docker_based_real_time_etl_project_spark.lakewrite import write_clustered
    from docker_based_real_time_etl_project_spark.operators.zorder import (
        zorder_box_scan,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "l")
    grid = write_clustered(
        li, zdir, layout="zorder", zorder_by=("l_partkey", "l_suppkey"),
        target_rows_per_file=2000,
    )
    assert grid is not None and grid.n_buckets == 64
    assert write_clustered(
        li, ldir, sort_by=("l_partkey",), target_rows_per_file=2000
    ) is None

    lo1, hi1 = grid.min1, grid.max1  # no help from the sorted key
    lo2, hi2 = grid.min2, grid.min2 + (grid.max2 - grid.min2) // 5
    zdf = spark.read.parquet(zdir)
    pruned = zorder_box_scan(zdf, grid, lo1, hi1, lo2, hi2)
    box = F.col("l_partkey").between(lo1, hi1) & F.col("l_suppkey").between(lo2, hi2)
    linear = spark.read.parquet(ldir).filter(box)

    def files_read(df):
        return df.select(F.input_file_name()).distinct().count()

    assert files_read(pruned) < files_read(linear)
    cols = li.columns
    assert pruned.select(cols).exceptAll(linear.select(cols)).count() == 0
    assert linear.select(cols).exceptAll(pruned.select(cols)).count() == 0


def test_vacuum_spares_resolved_readers_files(spark):
    """Concurrent-vacuum-vs-reader retention: a reader that resolved a
    version's manifest BEFORE the version expired must still find
    every data file on disk after a default-retention vacuum — the
    min_age guard is what makes the read race safe (Delta VACUUM
    semantics)."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_files

    path = tempfile.mkdtemp(prefix="snapvacrace_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    snap_merge(
        spark, path,
        orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        ),
        key_cols=("o_orderkey",), sort_by=("o_orderkey",),
    )
    # reader resolves v1's file list, then v1 expires and vacuum runs
    resolved = [os.path.join(path, p) for p in snap_files(path, 1)]
    res = snap_vacuum(path, keep_last=1)  # default min_age_sec=3600
    assert res["removed_manifests"] == 1  # the version is gone...
    assert all(os.path.exists(p) for p in resolved)  # ...its bytes are not
    # the reader's in-flight scan still works from the resolved paths
    got = spark.read.option(
        "basePath", os.path.join(path, "c000001")
    ).parquet(*[p for p in resolved if "c000001" in p])
    assert got.count() == orders.count()


def test_schema_evolution_on_merge(spark):
    """Additive schema evolution through a MERGE: the update batch
    carries a NEW column; the latest read surfaces it (NULL for every
    pre-evolution row — untouched partitions' old files and unupdated
    survivors alike), time travel to v1 still shows the original
    schema, and a merge missing a base column fails loudly."""
    path = tempfile.mkdtemp(prefix="snapevo_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    upd = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderkey") % 9 == 1)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 2.0)
        .withColumn("audit_tag", F.lit("r9"))
    )
    v2 = snap_merge(spark, path, upd, key_cols=("o_orderkey",),
                    sort_by=("o_orderkey",))
    assert v2 == 2
    latest = snap_read(spark, path)
    assert "audit_tag" in latest.columns
    n_upd = upd.count()
    assert latest.filter(F.col("audit_tag") == "r9").count() == n_upd
    assert latest.filter(F.col("audit_tag").isNull()).count() == (
        orders.count() - n_upd
    )
    # time travel: v1 keeps the pre-evolution schema
    assert "audit_tag" not in snap_read(spark, path, 1).columns
    # and the evolved schema persists through a later ordinary merge
    upd2 = (
        snap_read(spark, path)
        .filter(F.col("o_orderkey") % 9 == 2)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    v3 = snap_merge(spark, path, upd2, key_cols=("o_orderkey",),
                    sort_by=("o_orderkey",))
    assert "audit_tag" in snap_read(spark, path, v3).columns
    # dropping a base column is refused
    with pytest.raises(ValueError, match="missing base columns"):
        snap_merge(
            spark, path, upd.drop("o_totalprice"), key_cols=("o_orderkey",)
        )


def test_timestamp_as_of_and_crash_debris(spark):
    """snap_as_of resolves by commit wall clock (monotone with version
    order by construction); vacuum reclaims a crashed writer's
    manifest .tmp debris under the same retention guard."""
    import json as _json
    import time as _time

    from docker_based_real_time_etl_project_spark.lakesnap import snap_as_of

    path = tempfile.mkdtemp(prefix="snapasof_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    t_between = _time.time()
    _time.sleep(0.05)
    snap_merge(
        spark, path,
        orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        ),
        key_cols=("o_orderkey",), sort_by=("o_orderkey",),
    )
    assert snap_as_of(path, t_between) == 1
    assert snap_as_of(path, _time.time()) == 2
    with pytest.raises(FileNotFoundError):
        snap_as_of(path, 0.0)
    # crashed writer: a manifest .tmp that never reached the CAS link
    debris = os.path.join(path, "_manifests", "v000009.json.dead.tmp")
    with open(debris, "w") as fh:
        _json.dump({"version": 9}, fh)
    snap_vacuum(path, keep_last=2)  # default retention spares it
    assert os.path.exists(debris)
    snap_vacuum(path, keep_last=2, min_age_sec=0.0)
    assert not os.path.exists(debris)
    assert snap_versions(path) == [1, 2]  # real manifests untouched


def test_partition_scoped_auto_compaction(spark):
    """snap_maintain compacts ONLY fragmented partitions (metadata-only
    detection): untouched partitions' manifest rows carry forward
    byte-identical, fragmented ones collapse to target-sized files,
    data is unchanged, and a second maintain is a no-op."""
    import json as _json

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_files,
        snap_maintain,
    )

    path = tempfile.mkdtemp(prefix="snapmaint_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    # fragment ONE partition by merging it with a tiny file cap
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    snap_merge(
        spark, path,
        orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        ),
        key_cols=("o_orderkey",), sort_by=("o_orderkey",),
        target_rows_per_file=25,
    )
    m2 = _json.load(open(os.path.join(path, "_manifests", "v000002.json")))
    frag_files = [e["path"] for e in m2["entries"] if e["partition"] == "1-URGENT"]
    other_files = sorted(
        e["path"] for e in m2["entries"] if e["partition"] != "1-URGENT"
    )
    assert len(frag_files) > 8  # genuinely fragmented
    before = snap_read(spark, path)
    total_before = before.count()

    v3 = snap_maintain(spark, path, max_files_per_partition=8,
                       target_rows_per_file=100_000, sort_by=("o_orderkey",))
    assert v3 == 3
    m3 = _json.load(open(os.path.join(path, "_manifests", "v000003.json")))
    # untouched partitions: identical manifest rows, no rewrite
    assert sorted(
        e["path"] for e in m3["entries"] if e["partition"] != "1-URGENT"
    ) == other_files
    # fragmented partition: collapsed under the threshold, new commit dir
    new_frag = [e["path"] for e in m3["entries"] if e["partition"] == "1-URGENT"]
    assert 0 < len(new_frag) <= 8
    assert all(p.startswith("c000003") for p in new_frag)
    # data identical, steady state is a no-op
    after = snap_read(spark, path)
    assert after.count() == total_before
    assert after.exceptAll(before).count() == 0
    assert snap_maintain(spark, path, max_files_per_partition=8) is None
    assert len(snap_files(path)) == len(m3["entries"])


def test_concurrent_merge_four_writer_contention(spark):
    """Four writers race on four disjoint partitions: all four commits
    land (versions [1..5]), no writer errors out within the retry
    budget, and the final state equals the serial application of all
    updates — the contention scenario a multi-pipeline deployment
    actually runs."""
    import threading

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcas4_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    parts = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED"]
    errs = []

    def writer(part, delta, wid):
        try:
            snap_merge_concurrent(
                spark, path, _priced(orders, part, 3, delta),
                key_cols=("o_orderkey",), writer_id=wid, max_attempts=8,
            )
        except Exception as e:
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(p, float(i + 1), f"w{i}"))
        for i, p in enumerate(parts)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert snap_versions(path) == [1, 2, 3, 4, 5]
    latest = snap_read(spark, path).select(*orders.columns)
    truth = orders
    for i, p in enumerate(parts):
        truth = truth.withColumn(
            "o_totalprice",
            F.when(
                (F.col("o_orderpriority") == p) & (F.col("o_orderkey") % 17 == 3),
                F.col("o_totalprice") + float(i + 1),
            ).otherwise(F.col("o_totalprice")),
        )
    assert latest.exceptAll(truth).count() == 0
    assert truth.exceptAll(latest).count() == 0


def test_bloom_point_lookup_prunes_files_and_matches(spark):
    """Per-file bloom index: point lookups open a strict subset of the
    version's files across MULTIPLE commits (init + merge), return
    exactly the rows a full-scan filter returns (no false negatives),
    and an absent key probes (near-)zero files."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_files,
        snap_point_files,
        snap_point_read,
    )

    path = tempfile.mkdtemp(prefix="snapbloom_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(
        spark, orders, path, "o_orderpriority",
        sort_by=("o_orderkey",), target_rows_per_file=200,
        bloom_col="o_orderkey", bloom_bits=8192,
    )
    part = "1-URGENT"
    upd = (
        orders.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 7 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
        .withColumn("_delete", F.lit(False))
    )
    snap_merge(
        spark, path, upd, key_cols=("o_orderkey",), delete_col="_delete",
        sort_by=("o_orderkey",), target_rows_per_file=200,
    )
    keys = [r[0] for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()]
    got = snap_point_read(spark, path, keys)
    want = snap_read(spark, path).filter(F.col("o_orderkey").isin(keys))
    assert sorted(got.collect()) == sorted(want.collect())
    all_files = snap_files(path)
    pt_files = snap_point_files(spark, path, keys)
    assert set(pt_files) <= set(all_files)
    assert len(pt_files) < len(all_files), (len(pt_files), len(all_files))
    # a key no file holds: every file's bloom should reject it (FPR
    # permitting — at 40+ bits/key a spurious keep is ~impossible)
    assert snap_point_files(spark, path, [-123456789]) == []
    assert snap_point_read(spark, path, [-123456789]).count() == 0


def test_bloom_sidecar_written_by_every_commit_path(spark):
    """Every commit that writes data files indexes them (the manifest
    carries the bloom config) and records their footer stats, and
    vacuum reclaims sidecars of expired commits. After each verb the
    new data entries have sidecar bitmaps and ``stats``, and a bloom
    point read equals the filtered full read."""
    import json

    from docker_based_real_time_etl_project_spark.lakesnap import (
        _bloom_sidecar_files,
        _read_manifest,
        snap_compact,
        snap_compact_partitions,
        snap_delete_where,
        snap_merge_concurrent,
        snap_point_files,
        snap_point_read,
        snap_repartition,
        snap_update_where,
    )

    path = tempfile.mkdtemp(prefix="snapbloomc_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(
        spark, orders, path, "o_orderpriority",
        sort_by=("o_orderkey",), target_rows_per_file=200,
        stats_col="o_totalprice", bloom_col="o_orderkey", bloom_bits=8192,
    )
    # probe keys hit by every verb below (the %7/%11/%13/%17 slices)
    keys = [
        r[0]
        for r in orders.filter(
            (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 11 == 0)
            | (F.col("o_orderkey") % 13 == 1) | (F.col("o_orderkey") % 17 == 0)
        ).orderBy("o_orderkey").limit(12).collect()
    ] + [r[0] for r in orders.select("o_orderkey").limit(2).collect()]

    def check_commit(v):
        prev = {e["path"] for e in _read_manifest(path, v - 1)["entries"]}
        new = [e for e in _read_manifest(path, v)["entries"] if e["path"] not in prev]
        assert new, v
        for e in new:
            assert "stats" in e, (v, e)
            side = os.path.join(path, os.path.dirname(e["path"]), "_blooms.json")
            with open(side) as fh:
                assert os.path.basename(e["path"]) in json.load(fh), (v, e)
        got = snap_point_read(spark, path, keys)
        want = snap_read(spark, path).filter(F.col("o_orderkey").isin(keys))
        assert sorted(got.collect()) == sorted(want.collect()), v

    upd = (
        orders.filter(F.col("o_orderkey") % 13 == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    v2 = snap_merge_concurrent(
        spark, path, upd, key_cols=("o_orderkey",),
        sort_by=("o_orderkey",), target_rows_per_file=200, writer_id="w1",
    )
    assert v2 == 2
    assert _bloom_sidecar_files(path, "c000002ww1a0")
    check_commit(v2)
    v3 = snap_compact(spark, path, target_rows_per_file=5000)
    assert _bloom_sidecar_files(path, f"c{v3:06d}")
    check_commit(v3)
    # post-compaction files are few and indexed: lookup opens a subset
    assert len(snap_point_files(spark, path, keys[:2])) <= len(
        snap_point_files(spark, path, keys[:2] + [1, 2, 3, 4, 5, 6])
    )
    # vacuum past versions: expired commits' sidecars go with them
    snap_vacuum(path, keep_last=1, min_age_sec=0.0)
    assert not _bloom_sidecar_files(path, "c000001")
    assert _bloom_sidecar_files(path, f"c{v3:06d}")
    got2 = snap_point_read(spark, path, keys)
    want2 = snap_read(spark, path).filter(F.col("o_orderkey").isin(keys))
    assert sorted(got2.collect()) == sorted(want2.collect())

    # every other data-writing verb, once each
    for mode, m in (("cow", 7), ("mor", 11)):
        batch = orders.filter(F.col("o_orderkey") % m == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 2.0
        )
        check_commit(snap_merge(
            spark, path, batch, key_cols=("o_orderkey",),
            target_rows_per_file=200, mode=mode,
        ))
    check_commit(snap_compact_partitions(
        spark, path, ["1-URGENT", "2-HIGH"], target_rows_per_file=300
    ))
    check_commit(snap_delete_where(spark, path, "o_orderkey % 17 = 0"))
    for mode, m in (("cow", 3), ("mor", 5)):
        check_commit(snap_update_where(
            spark, path, f"o_orderkey % {m} = 1",
            {"o_totalprice": "o_totalprice + 3.0"}, mode=mode,
        ))
    check_commit(snap_repartition(
        spark, path, "o_orderstatus", target_rows_per_file=400
    ))


def test_delete_where_rewrites_only_touched_partitions(spark):
    """DELETE WHERE: matched rows gone, v1 intact, untouched
    partitions' manifest entries carried forward byte-identical, a
    no-match delete is a no-op (None, no new version), and ANSI NULL
    semantics — predicate-NULL rows are kept."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_delete_where,
    )

    path = tempfile.mkdtemp(prefix="snapdel_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    pred = "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"
    v = snap_delete_where(spark, path, pred, sort_by=("o_orderkey",))
    assert v == 2
    got = snap_read(spark, path)
    want = orders.filter(~F.expr(pred))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert snap_read(spark, path, 1).count() == orders.count()
    m1 = {e["path"] for e in _read_manifest(path, 1)["entries"]}
    m2 = {e["path"] for e in _read_manifest(path, 2)["entries"]}
    carried = {p for p in m2 if p.startswith("c000001")}
    assert carried == {p for p in m1 if "1-URGENT" not in p}
    # no-op delete: nothing matches, no commit published
    assert snap_delete_where(spark, path, "o_orderkey < 0") is None
    assert snap_versions(path) == [1, 2]


def test_delete_where_keeps_predicate_null_rows(spark):
    """ANSI DELETE: a NULL predicate row is NOT deleted (unlike a
    filter, which would drop it)."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
    )

    path = tempfile.mkdtemp(prefix="snapdelnull_")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None), (3, "a", 3), (4, "b", None)],
        "id int, part string, v int",
    )
    snap_init(spark, df, path, "part")
    snap_delete_where(spark, path, "v > 5")
    got = sorted(r["id"] for r in snap_read(spark, path).collect())
    assert got == [2, 3, 4]  # id=1 deleted; NULL-v rows kept


def test_update_where_sees_old_values_and_prunes(spark):
    """UPDATE: all SET expressions evaluate against the PRE-update row
    (the swap test), only touched partitions rewrite, the partition
    column is immutable, and unknown SET targets error."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_update_where,
    )

    path = tempfile.mkdtemp(prefix="snapupd_")
    df = spark.createDataFrame(
        [(1, "p1", 10, 100), (2, "p1", 20, 200), (3, "p2", 30, 300)],
        "id int, part string, a int, b int",
    )
    snap_init(spark, df, path, "part")
    v = snap_update_where(
        spark, path, "id = 1", {"a": "b", "b": "a"}
    )
    assert v == 2
    rows = {r["id"]: (r["a"], r["b"]) for r in snap_read(spark, path).collect()}
    assert rows == {1: (100, 10), 2: (20, 200), 3: (30, 300)}  # swapped, not chained
    m2 = _read_manifest(path, 2)["entries"]
    carried = {e["path"] for e in m2 if str(e["partition"]) == "p2"}
    assert all(p.startswith("c000001") for p in carried)  # p2 untouched
    with pytest.raises(ValueError):
        snap_update_where(spark, path, "id = 1", {"part": "'p9'"})
    with pytest.raises(ValueError):
        snap_update_where(spark, path, "id = 1", {"nope": "1"})
    assert snap_update_where(spark, path, "id = 99", {"a": "0"}) is None


def test_shallow_clone_zero_copy_and_divergence(spark):
    """snap_clone: the clone's v1 equals the source version byte-for-
    free (manifest references the source's files — nothing copied), a
    merge on the clone leaves the source untouched, the source keeps
    evolving independently, and the documented Delta-style hazard
    holds: vacuuming the SOURCE can reclaim files a clone still
    borrows."""
    import glob

    from docker_based_real_time_etl_project_spark.lakesnap import snap_clone

    src = tempfile.mkdtemp(prefix="snapclone_src_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, src, "o_orderpriority", sort_by=("o_orderkey",))
    dst = tempfile.mkdtemp(prefix="snapclone_dst_") + "/t"
    assert snap_clone(spark, src, dst) == 1
    # zero copy: no parquet under the clone dir
    assert not glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)
    got = snap_read(spark, dst).select(*orders.columns)
    assert got.exceptAll(orders).count() == 0
    assert orders.exceptAll(got).count() == 0
    # diverge the clone; source unaffected
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 9.0
    ).withColumn("_delete", F.lit(False))
    v2 = snap_merge(
        spark, dst, upd, key_cols=("o_orderkey",), delete_col="_delete",
        sort_by=("o_orderkey",),
    )
    assert v2 == 2
    src_after = snap_read(spark, src).select(*orders.columns)
    assert src_after.exceptAll(orders).count() == 0
    # the clone's merged partitions now live under the clone dir
    assert glob.glob(os.path.join(dst, "c000002", "**", "*.parquet"), recursive=True)
    # hazard pin: source vacuum doesn't know about the clone's refs
    snap_merge(
        spark, src, upd, key_cols=("o_orderkey",), delete_col="_delete",
        sort_by=("o_orderkey",),
    )
    snap_vacuum(src, keep_last=1, min_age_sec=0.0)
    with pytest.raises(Exception):
        snap_read(spark, dst, 1).count()  # borrowed v1 files are gone


def test_check_constraint_blocks_violating_writes(spark):
    """CHECK constraints: a violating init/merge/update publishes
    NOTHING (no new version), a clean write passes, and NULL predicate
    counts as a violation (Delta semantics)."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        CheckConstraintError,
        snap_update_where,
    )

    path = tempfile.mkdtemp(prefix="snapcheck_")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id int, part string, v int"
    )
    with pytest.raises(CheckConstraintError):
        snap_init(spark, df, tempfile.mkdtemp(prefix="snapcheck_bad_"),
                  "part", check="v < 25")
    snap_init(spark, df, path, "part", check="v > 0")
    bad = spark.createDataFrame([(9, "a", -1)], "id int, part string, v int")
    with pytest.raises(CheckConstraintError):
        snap_merge(spark, path, bad, key_cols=("id",))
    assert snap_versions(path) == [1]
    nullv = spark.createDataFrame([(9, "a", None)], "id int, part string, v int")
    with pytest.raises(CheckConstraintError):
        snap_merge(spark, path, nullv, key_cols=("id",))
    with pytest.raises(CheckConstraintError):
        snap_update_where(spark, path, "id = 1", {"v": "-5"})
    assert snap_versions(path) == [1]
    ok = spark.createDataFrame([(9, "a", 99)], "id int, part string, v int")
    assert snap_merge(spark, path, ok, key_cols=("id",)) == 2
    assert snap_update_where(spark, path, "id = 9", {"v": "v + 1"}) == 3
    got = {r["id"]: r["v"] for r in snap_read(spark, path).collect()}
    assert got[9] == 100


def test_zorder_table_composes_bloom_point_lookup(spark):
    """A z-ordered snapshot table with a bloom index serves BOTH access
    paths: 2-D box reads prune buckets from the manifest grid, and
    point lookups prune files from the bloom sidecars."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_box_read,
        snap_init_zorder,
        snap_point_files,
        snap_point_read,
        snap_files,
    )

    path = tempfile.mkdtemp(prefix="snapzb_")
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    snap_init_zorder(
        spark, li, path, "l_partkey", "l_suppkey", bits=2,
        target_rows_per_file=500, bloom_col="l_orderkey", bloom_bits=16384,
    )
    keys = [r[0] for r in li.select("l_orderkey").limit(2).collect()]
    got = snap_point_read(spark, path, keys)
    want = snap_read(spark, path).filter(F.col("l_orderkey").isin(keys))
    assert sorted(got.drop("zb").collect()) == sorted(want.drop("zb").collect())
    assert len(snap_point_files(spark, path, keys)) < len(snap_files(path))
    box = snap_box_read(spark, path, 0, 50, 0, 5)
    truth = li.filter(
        F.col("l_partkey").between(0, 50) & F.col("l_suppkey").between(0, 5)
    )
    assert box.select(*li.columns).exceptAll(truth).count() == 0
    assert truth.exceptAll(box.select(*li.columns)).count() == 0


def test_restore_republishes_old_file_set(spark):
    """RESTORE: v3 = v1's exact rows (and files — zero copy), history
    [1,2,3] all readable, and a later merge builds on the restored
    state."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_restore,
    )

    path = tempfile.mkdtemp(prefix="snaprestore_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    upd = orders.filter(F.col("o_orderkey") % 4 == 1).withColumn(
        "o_totalprice", F.col("o_totalprice") + 7.0
    )
    snap_merge(spark, path, upd, key_cols=("o_orderkey",), sort_by=("o_orderkey",))
    v3 = snap_restore(spark, path, 1)
    assert v3 == 3
    assert snap_versions(path) == [1, 2, 3]
    got = snap_read(spark, path).select(*orders.columns)
    assert got.exceptAll(orders).count() == 0
    assert orders.exceptAll(got).count() == 0
    m1 = {e["path"] for e in _read_manifest(path, 1)["entries"]}
    m3 = {e["path"] for e in _read_manifest(path, 3)["entries"]}
    assert m1 == m3  # same files, zero copy
    assert _read_manifest(path, 3)["restored_from"] == 1
    # v2 still time-travel readable until retention
    assert snap_read(spark, path, 2).count() == orders.count()
    with pytest.raises(FileNotFoundError):
        snap_restore(spark, path, 99)


def test_bloom_index_on_string_key(spark):
    """The bloom index types through the manifest: a STRING key column
    hashes with xxhash64-of-string at build and probe alike (bloom_type
    rides the manifest, probes cast to it), so point lookups on
    high-cardinality string ids — the common real case — prune files
    exactly like bigint keys."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_point_files,
        snap_point_read,
        snap_files,
    )

    path = tempfile.mkdtemp(prefix="snapbloomstr_")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").withColumn(
        "key", F.concat(F.lit("doc-"), F.col("doc_id"))
    )
    snap_init(
        spark, docs, path, "lang", sort_by=("doc_id",),
        target_rows_per_file=60, bloom_col="key", bloom_bits=8192,
    )
    keys = [r[0] for r in docs.select("key").limit(2).collect()]
    got = snap_point_read(spark, path, keys)
    want = snap_read(spark, path).filter(F.col("key").isin(keys))
    assert sorted(got.collect()) == sorted(want.collect())
    assert 0 < len(snap_point_files(spark, path, keys)) < len(snap_files(path))
    assert snap_point_files(spark, path, ["doc-none-such"]) == []


def test_delete_all_rows_leaves_usable_empty_table(spark):
    """A DELETE that matches EVERY row must not brick the table: the
    empty version reads as zero rows with the manifest-recorded
    schema, and later merges repopulate it."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
    )

    path = tempfile.mkdtemp(prefix="snapdelall_")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id int, part string, v int"
    )
    snap_init(spark, df, path, "part")
    assert snap_delete_where(spark, path, "v > 0") == 2
    got = snap_read(spark, path)
    assert got.count() == 0
    assert got.columns == df.columns  # schema served from the manifest
    # the empty table accepts new data again
    more = spark.createDataFrame([(3, "a", 30)], "id int, part string, v int")
    assert snap_merge(spark, path, more, key_cols=("id",)) == 3
    assert [r["id"] for r in snap_read(spark, path).collect()] == [3]


def test_merge_deleting_a_whole_partition_drops_its_entries(spark):
    """A tombstone merge that deletes every row of one partition
    publishes a version with no entries for it: the CoW rewrite of an
    emptied partition writes nothing, and nothing of it carries
    forward. The other partitions' entries carry over verbatim, and
    the previous version still reads the emptied partition's rows."""
    from docker_based_real_time_etl_project_spark.lakesnap import _read_manifest

    path = tempfile.mkdtemp(prefix="snapempty_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    part = "1-URGENT"
    gone = orders.filter(F.col("o_orderpriority") == part)
    n_part = gone.count()
    assert n_part > 0
    v = snap_merge(
        spark, path, gone.withColumn("_delete", F.lit(True)),
        key_cols=("o_orderkey",), delete_col="_delete",
    )
    assert v == 2
    m1, m2 = _read_manifest(path, 1), _read_manifest(path, 2)
    assert not [e for e in m2["entries"] if e["partition"] == part]
    kept = [e for e in m1["entries"] if e["partition"] != part]
    assert kept and m2["entries"] == kept
    latest = snap_read(spark, path)
    assert latest.filter(F.col("o_orderpriority") == part).count() == 0
    assert latest.count() == orders.count() - n_part
    v1_part = snap_read(spark, path, 1).filter(F.col("o_orderpriority") == part)
    assert v1_part.count() == n_part


def test_bloom_on_partition_col_is_rejected_before_write(spark, tmp_path):
    """Config errors (bloom on the partition key, bad bits, unknown
    column) must fail BEFORE any data is written."""
    import glob

    df = spark.createDataFrame([(1, "a")], "id int, part string")
    for kw in (
        {"bloom_col": "part"},
        {"bloom_col": "id", "bloom_bits": 100},
        {"bloom_col": "nope"},
    ):
        d = str(tmp_path / f"t{len(glob.glob(str(tmp_path / '*')))}")
        with pytest.raises(ValueError):
            snap_init(spark, df, d, "part", **kw)
        assert not glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)


def test_file_blooms_merge_partials_across_tasks(spark):
    """When one data file spans MULTIPLE scan tasks (big files under a
    small maxPartitionBytes), each task emits its own bitmap partial
    for the file and the driver must OR them — a broken merge would
    produce false negatives, i.e. silently wrong point reads. Pin:
    bitmaps built under a 16 KiB split size are bit-identical to the
    single-task build."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _file_blooms,
    )

    import pyarrow.parquet as pq

    path = tempfile.mkdtemp(prefix="snapbloomsplit_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    # tiny row groups so a 16 KiB split size yields >1 task per FILE
    (
        orders.coalesce(1)
        .write.option("parquet.block.size", "8192")
        .option("parquet.page.size", "1024")
        .parquet(os.path.join(path, "c000001"))
    )
    a_file = next(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(path, "c000001"))
        for f in fs
        if f.endswith(".parquet")
    )
    assert pq.ParquetFile(a_file).metadata.num_row_groups > 1
    whole = _file_blooms(spark, path, "c000001", "o_orderkey", 8192, 4)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
        split = _file_blooms(spark, path, "c000001", "o_orderkey", 8192, 4)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert split == whole


def test_repartition_migrates_layout_as_a_commit(spark):
    """Partition migration: v2 is the same rows under a new partition
    key, pruning works on the NEW key from the manifest alone, old
    versions keep the old layout, and a later merge uses the new
    partition column."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_files,
        snap_repartition,
    )

    path = tempfile.mkdtemp(prefix="snaprepart_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    v2 = snap_repartition(spark, path, "o_orderstatus", sort_by=("o_orderkey",))
    assert v2 == 2
    got = snap_read(spark, path).select(*orders.columns)
    assert got.exceptAll(orders).count() == 0
    assert orders.exceptAll(got).count() == 0
    assert _read_manifest(path, 2)["partition_col"] == "o_orderstatus"
    # pruning on the NEW key
    some = snap_files(path, partitions=["F"])
    assert 0 < len(some) < len(snap_files(path))
    pruned = snap_read(spark, path, partitions=["F"])
    truth = orders.filter(F.col("o_orderstatus") == "F")
    assert pruned.select(*orders.columns).exceptAll(truth).count() == 0
    assert truth.exceptAll(pruned.select(*orders.columns)).count() == 0
    # old layout still served for v1
    assert _read_manifest(path, 1)["partition_col"] == "o_orderpriority"
    assert snap_read(spark, path, 1).count() == orders.count()
    # merges now key on the new partition column
    upd = orders.filter(F.col("o_orderkey") % 9 == 2).withColumn(
        "o_totalprice", F.col("o_totalprice") + 3.0
    )
    assert snap_merge(spark, path, upd, key_cols=("o_orderkey",)) == 3


def test_concurrent_merge_eight_writer_overlap_storm(spark):
    """Eight writers, five partitions — overlap is GUARANTEED, so the
    protocol's expensive path (discard + re-merge against the winner)
    runs under a true thread race, not just the deterministic seam.
    Writers touching the same partition update DISJOINT key sets, so
    the serial-equivalent final state applies all eight deltas; every
    commit lands within the retry budget and versions stay contiguous."""
    import threading

    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcas8_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    parts = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    errs = []

    def writer(i):
        part = parts[i % len(parts)]
        upd = (
            orders.filter(
                (F.col("o_orderpriority") == part)
                & (F.col("o_orderkey") % 23 == i)
            ).withColumn("o_totalprice", F.col("o_totalprice") + float(i + 1))
        )
        try:
            snap_merge_concurrent(
                spark, path, upd, key_cols=("o_orderkey",),
                writer_id=f"w{i}", max_attempts=16,
            )
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert snap_versions(path) == list(range(1, 10))
    # overlap really happened: some committed dir carries attempt > 0
    attempts = {
        e["path"].split(os.sep)[0]
        for v in range(2, 10)
        for e in _read_manifest(path, v)["entries"]
        if not e["path"].startswith("c000001")
    }
    assert any("a0" not in d for d in attempts) or len(attempts) >= 8
    latest = snap_read(spark, path).select(*orders.columns)
    truth = orders
    for i in range(8):
        part = parts[i % len(parts)]
        truth = truth.withColumn(
            "o_totalprice",
            F.when(
                (F.col("o_orderpriority") == part)
                & (F.col("o_orderkey") % 23 == i),
                F.col("o_totalprice") + float(i + 1),
            ).otherwise(F.col("o_totalprice")),
        )
    assert latest.exceptAll(truth).count() == 0
    assert truth.exceptAll(latest).count() == 0


def test_concurrent_merge_metadata_change_forces_reexecute(spark):
    """Rebase must treat table-level METADATA changes as commit
    conflicts (Delta/Iceberg semantics; round-9 advice): an intervening
    disjoint-partition commit that alters manifest metadata (here the
    CHECK constraint via snap_merge's meta overlay) would be silently
    reverted by a zero-I/O rebase, which republishes the stale base's
    metadata. The loser must RE-EXECUTE against the new base instead,
    carrying the new metadata forward."""
    import json as _json

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcasmeta_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))

    upd_b = _priced(orders, "2-HIGH", 3, 11.0)

    def competing_commit():
        v = snap_merge(
            spark, path, upd_b, key_cols=("o_orderkey",),
            meta={"check_expr": "o_totalprice >= 0"},
        )
        assert v == 2

    upd_a = _priced(orders, "1-URGENT", 3, 7.0)
    v = snap_merge_concurrent(
        spark, path, upd_a, key_cols=("o_orderkey",),
        writer_id="wA", _before_publish=competing_commit,
    )
    assert v == 3
    m3 = _json.load(open(os.path.join(path, "_manifests", "v000003.json")))
    # the intervening commit's metadata survives the loser's commit
    assert m3.get("check_expr") == "o_totalprice >= 0"
    # and the loser RE-EXECUTED (attempt > 0 files), no zero-I/O rebase
    a_files = [e["path"] for e in m3["entries"] if "wwA" in e["path"]]
    assert a_files and all(p.startswith("c000003wwAa1") for p in a_files)
    assert not os.path.exists(os.path.join(path, "c000002wwAa0"))
    # both writers' row edits visible
    latest = snap_read(spark, path)
    for part, mod, delta in (("2-HIGH", 3, 11.0), ("1-URGENT", 3, 7.0)):
        truth = _priced(orders, part, mod, delta).select(*orders.columns)
        got = latest.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 17 == mod)
        ).select(*orders.columns)
        assert got.exceptAll(truth).count() == 0
        assert truth.exceptAll(got).count() == 0


def test_concurrent_merge_schema_evolution_conflict_is_serial_equivalent(spark):
    """An intervening commit additively evolved the schema; the racing
    writer's updates do not carry the new column. Serial execution
    (evolve, then merge) raises the full-row contract error — so the
    concurrent path must raise the SAME error after re-executing, and
    must NOT corrupt the table: the evolved column's data stays
    readable at the latest version (a rebase would have silently
    dropped it from `columns`)."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcasevo_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))

    upd_b = _priced(orders, "2-HIGH", 3, 11.0).withColumn(
        "o_risk_tier", F.lit("HIGH")
    )

    def competing_commit():
        assert snap_merge(spark, path, upd_b, key_cols=("o_orderkey",)) == 2

    upd_a = _priced(orders, "1-URGENT", 3, 7.0)
    with pytest.raises(ValueError, match="missing base columns"):
        snap_merge_concurrent(
            spark, path, upd_a, key_cols=("o_orderkey",),
            writer_id="wA", _before_publish=competing_commit,
        )
    # table intact: the evolved column and its data are still readable
    assert snap_versions(path)[-1] == 2
    latest = snap_read(spark, path)
    assert "o_risk_tier" in latest.columns
    n_hi = latest.filter(F.col("o_risk_tier") == "HIGH").count()
    assert n_hi == upd_b.count() and n_hi > 0


def test_touched_partitions_vacuumed_predecessor_is_conflict(spark):
    """When a commit's predecessor manifest was vacuumed, its conflict
    footprint is unknowable (a partition fully emptied by the commit is
    absent from its own manifest) — _touched_partitions returns the
    'touches everything' sentinel and the CAS loop re-executes rather
    than rebasing over it (round-9 advice)."""
    import json as _json

    from docker_based_real_time_etl_project_spark.lakesnap import (
        _touched_partitions,
        snap_merge_concurrent,
    )

    path = tempfile.mkdtemp(prefix="snapcasvac_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))

    upd_b = _priced(orders, "2-HIGH", 3, 11.0)

    def competing_commit():
        assert (
            snap_merge(spark, path, upd_b, key_cols=("o_orderkey",)) == 2
        )
        # simulate vacuum dropping the predecessor manifest
        os.remove(os.path.join(path, "_manifests", "v000001.json"))
        assert _touched_partitions(path, 2) is None

    upd_a = _priced(orders, "1-URGENT", 3, 7.0)
    v = snap_merge_concurrent(
        spark, path, upd_a, key_cols=("o_orderkey",),
        writer_id="wA", _before_publish=competing_commit,
    )
    assert v == 3
    m3 = _json.load(
        open(os.path.join(path, "_manifests", "v000003.json"))
    )
    # forced RE-EXECUTION: attempt-1 files, attempt-0 dir discarded
    a_files = [e["path"] for e in m3["entries"] if "wwA" in e["path"]]
    assert a_files and all(p.startswith("c000003wwAa1") for p in a_files)
    latest = snap_read(spark, path)
    for part, mod, delta in (("2-HIGH", 3, 11.0), ("1-URGENT", 3, 7.0)):
        truth = _priced(orders, part, mod, delta).select(*orders.columns)
        got = latest.filter(
            (F.col("o_orderpriority") == part) & (F.col("o_orderkey") % 17 == mod)
        ).select(*orders.columns)
        assert got.exceptAll(truth).count() == 0
        assert truth.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# Merge-on-read deletes (Iceberg v2 equality-delete files shape)
# ---------------------------------------------------------------------------


def test_mor_delete_matches_cow_final_state(spark):
    """The two DML modes are held to the identical final state: a MoR
    delete's read equals a CoW delete's read, row for row — but the MoR
    commit rewrites ZERO data files (entries carried verbatim) while
    the CoW commit rewrites the touched partition."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_delete_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    pred = "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"
    paths = {}
    for mode in ("cow", "mor"):
        p = tempfile.mkdtemp(prefix=f"mor_vs_cow_{mode}_")
        snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
        assert snap_delete_where(spark, p, pred, mode=mode) == 2
        paths[mode] = p
    a = snap_read(spark, paths["cow"]).select(*orders.columns)
    b = snap_read(spark, paths["mor"]).select(*orders.columns)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    m_mor = _read_manifest(paths["mor"], 2)
    assert m_mor["entries"] == _read_manifest(paths["mor"], 1)["entries"]
    assert m_mor["delete_entries"] and all(
        d["partition"] == "1-URGENT" for d in m_mor["delete_entries"]
    )
    m_cow = _read_manifest(paths["cow"], 2)
    assert not m_cow.get("delete_entries")


def test_mor_delete_null_predicate_rows_kept(spark):
    """ANSI DELETE: rows where the predicate evaluates NULL are KEPT.
    Same pin as the CoW path, through the delete-file machinery."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    with_null = orders.withColumn(
        "o_score",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice")),
    )
    p = tempfile.mkdtemp(prefix="mor_null_")
    snap_init(spark, with_null, p, "o_orderpriority", sort_by=("o_orderkey",))
    assert snap_delete_where(spark, p, "o_score > 0.0", mode="mor") == 2
    left = snap_read(spark, p)
    # only the NULL-score rows survive (score > 0 deleted, NULL kept)
    assert left.count() == with_null.filter(F.col("o_score").isNull()).count()
    assert left.filter(F.col("o_score").isNotNull()).count() == 0


def test_mor_bloom_point_read_through_deletes(spark):
    """A bloom point lookup must see through pending delete files: the
    bitmap still names the file that HELD the deleted key (bitmaps are
    immutable, false positives allowed), but the read-side anti-join
    removes the row — deleted keys return nothing, live keys are exact."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
        snap_point_read,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="mor_bloom_")
    snap_init(
        spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",),
        bloom_col="o_orderkey", bloom_bits=65536, bloom_k=4,
    )
    dead, alive = [
        int(r[0])
        for r in orders.filter("o_orderpriority = '1-URGENT'")
        .select("o_orderkey").orderBy("o_orderkey").limit(2).collect()
    ]
    assert (
        snap_delete_where(spark, p, f"o_orderkey = {dead}", mode="mor") == 2
    )
    assert snap_point_read(spark, p, [dead]).count() == 0
    got = snap_point_read(spark, p, [alive])
    assert got.count() == orders.filter(F.col("o_orderkey") == alive).count()
    # time travel: v1 still sees the deleted key
    assert snap_point_read(spark, p, [dead], version=1).count() > 0


def test_mor_vacuum_keeps_pending_delete_files(spark):
    """Vacuum must treat pending delete files as live: reclaiming one
    would resurrect its deleted rows in the retained versions."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_delete_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="mor_vac_")
    snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
    pred = "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"
    assert snap_delete_where(spark, p, pred, mode="mor") == 2
    # another commit so keep_last=1 retains only the MoR-bearing v3
    assert snap_merge(
        spark, p,
        orders.filter("o_orderpriority = '2-HIGH'").limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0),
        key_cols=("o_orderkey",),
    ) == 3
    expect = snap_read(spark, p).count()
    snap_vacuum(p, keep_last=1, min_age_sec=0.0)
    m3 = _read_manifest(p, 3)
    assert m3["delete_entries"]
    for d in m3["delete_entries"]:
        assert os.path.exists(os.path.join(p, d["path"]))
    assert snap_read(spark, p).count() == expect


def test_mor_compaction_promotes_and_insert_after_delete_survives(spark):
    """snap_compact_partitions is the MoR promotion path: it
    materializes the anti-join and retires the partition's delete
    entries. And the ordering invariant: a row inserted AFTER a MoR
    delete (identical bytes to a deleted row) must survive, because
    the rewrite that inserted it dropped the partition's deletes."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_compact_partitions,
        snap_delete_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="mor_promo_")
    snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
    pred = "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"
    assert snap_delete_where(spark, p, pred, mode="mor") == 2
    after_delete = snap_read(spark, p).count()
    # re-insert one deleted row VERBATIM via merge — the rewrite reads
    # through the deletes and retires them for the touched partition
    one = orders.filter(F.expr(pred)).orderBy("o_orderkey").limit(1)
    assert snap_merge(spark, p, one, key_cols=("o_orderkey",)) == 3
    m3 = _read_manifest(p, 3)
    assert not m3.get("delete_entries")  # retired by the rewrite
    assert snap_read(spark, p).count() == after_delete + 1
    # promotion via compaction on a fresh MoR table
    p2 = tempfile.mkdtemp(prefix="mor_promo2_")
    snap_init(spark, orders, p2, "o_orderpriority", sort_by=("o_orderkey",))
    assert snap_delete_where(spark, p2, pred, mode="mor") == 2
    expect = snap_read(spark, p2).count()
    v3 = snap_compact_partitions(
        spark, p2, ["1-URGENT"], target_rows_per_file=100_000
    )
    m = _read_manifest(p2, v3)
    assert not m.get("delete_entries")
    assert snap_read(spark, p2).count() == expect


def test_mor_delete_is_concurrent_merge_conflict_footprint(spark):
    """An intervening MoR delete changes a partition's visible rows
    without touching `entries` — the optimistic merge's conflict
    footprint must still see it (delete files are footprinted), so a
    racing writer on the SAME partition re-executes instead of
    publishing rows it read pre-delete."""
    import json as _json

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
        snap_merge_concurrent,
    )

    p = tempfile.mkdtemp(prefix="mor_cas_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
    pred = "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"

    def competing_commit():
        assert snap_delete_where(spark, p, pred, mode="mor") == 2

    upd = _priced(orders, "1-URGENT", 5, 7.0)
    v = snap_merge_concurrent(
        spark, p, upd, key_cols=("o_orderkey",),
        writer_id="wA", _before_publish=competing_commit,
    )
    assert v == 3
    m3 = _json.load(open(os.path.join(p, "_manifests", "v000003.json")))
    a_files = [e["path"] for e in m3["entries"] if "wwA" in e["path"]]
    assert a_files and all(x.startswith("c000003wwAa1") for x in a_files)
    # serial truth: delete, then merge (the merge re-upserts its keys)
    truth = (
        orders.filter(~F.coalesce(F.expr(pred), F.lit(False)))
        .filter(~((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 17 == 5)))
        .unionByName(upd)
    )
    got = snap_read(spark, p).select(*orders.columns)
    assert got.exceptAll(truth).count() == 0
    assert truth.exceptAll(got).count() == 0


def test_bloom_sidecars_sharded_per_partition_dir(spark):
    """Round-10 sidecar sharding: each partition dir under a commit
    gets its OWN `_blooms.json` (keyed by file basename), and the
    build's driver-side buffer tracks the files per shuffle partition
    — O(max partition files), never O(commit files). Point reads stay
    exact through the sharded layout."""
    import json as _json

    from docker_based_real_time_etl_project_spark import lakesnap as LS
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _bloom_sidecar_files,
        snap_point_files,
        snap_point_read,
    )

    path = tempfile.mkdtemp(prefix="snapbloomshard_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(
        spark, orders, path, "o_orderpriority",
        sort_by=("o_orderkey",), target_rows_per_file=120,
        bloom_col="o_orderkey", bloom_bits=8192,
    )
    sides = _bloom_sidecar_files(path, "c000001")
    # one sidecar per partition dir, not one per commit
    part_dirs = {
        dp
        for dp, _, fs in os.walk(os.path.join(path, "c000001"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert {os.path.dirname(s) for s in sides} == part_dirs
    assert len(sides) == 5  # five o_orderpriority partitions
    # sidecar keys are file basenames local to the dir
    for s in sides:
        with open(s) as fh:
            payload = _json.load(fh)
        names = {
            f for f in os.listdir(os.path.dirname(s)) if f.endswith(".parquet")
        }
        assert set(payload) == names and payload
    # driver-hold pin: the build buffered at most ~a shuffle
    # partition's worth of bitmaps, strictly less than the commit total
    n_files = sum(
        1
        for _, _, fs in os.walk(os.path.join(path, "c000001"))
        for f in fs
        if f.endswith(".parquet")
    )
    max_per_part = max(
        sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        for d in part_dirs
    )
    assert n_files > max_per_part  # the pin is meaningful
    assert LS._LAST_MAX_BUFFERED_BITMAPS < n_files
    assert LS._LAST_MAX_BUFFERED_BITMAPS >= max_per_part * 0  # recorded
    # and lookups through the sharded sidecars stay exact + pruned
    keys = [r[0] for r in orders.select("o_orderkey").limit(2).collect()]
    got = snap_point_read(spark, path, keys)
    want = snap_read(spark, path).filter(F.col("o_orderkey").isin(keys))
    assert sorted(got.collect()) == sorted(want.collect())
    assert len(snap_point_files(spark, path, keys)) < n_files


def test_mor_update_matches_cow_and_writes_o_of_changes(spark):
    """MoR UPDATE (the Hudi upsert shape): old images land in delete
    files, new images in seq-stamped data files, no partition
    rewritten — final state identical to the CoW twin, manifest
    carries every base entry verbatim."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_update_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    pred = "o_orderpriority = '2-HIGH' AND o_orderkey % 3 = 0"
    assignments = {"o_totalprice": "o_totalprice + 500.0"}
    paths = {}
    for mode in ("cow", "mor"):
        p = tempfile.mkdtemp(prefix=f"morupd_{mode}_")
        snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
        assert snap_update_where(spark, p, pred, assignments, mode=mode) == 2
        paths[mode] = p
    a = snap_read(spark, paths["cow"]).select(*orders.columns)
    b = snap_read(spark, paths["mor"]).select(*orders.columns)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    m1 = _read_manifest(paths["mor"], 1)
    m2 = _read_manifest(paths["mor"], 2)
    assert all(e in m2["entries"] for e in m1["entries"])  # carried verbatim
    new = [e for e in m2["entries"] if e not in m1["entries"]]
    assert new and all(e["seq"] == 2 for e in new)
    assert m2["delete_entries"] and all(
        d["seq"] == 2 for d in m2["delete_entries"]
    )


def test_mor_identity_update_preserves_rows(spark):
    """SET x = x through MoR must not delete its own output: the new
    images are byte-identical to the old images in the same commit's
    delete files, and only the SEQUENCE NUMBER (delete applies to
    seq < its own) keeps them alive — the exact hazard Iceberg v2
    sequence ordering exists for."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_update_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="morident_")
    snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
    assert snap_update_where(
        spark, p, "o_orderkey % 5 = 0", {"o_totalprice": "o_totalprice"},
        mode="mor",
    ) == 2
    got = snap_read(spark, p).select(*orders.columns)
    assert got.count() == orders.count()
    assert got.exceptAll(orders).count() == 0
    assert orders.exceptAll(got).count() == 0


def test_mor_delete_after_update_cancels_new_images(spark):
    """A later MoR delete (higher seq) must see the update's NEW
    images, and a clone of a table with pending update debris keeps
    the ordering: borrowed seqs preserved, seq_floor lifts clone-local
    commits above them."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_clone,
        snap_delete_where,
        snap_update_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="morduafter_")
    snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
    upd_pred = "o_orderpriority = '2-HIGH' AND o_totalprice < 50000.0"
    assert snap_update_where(
        spark, p, upd_pred, {"o_totalprice": "o_totalprice + 500.0"},
        mode="mor",
    ) == 2
    truth2 = orders.withColumn(
        "o_totalprice",
        F.when(F.expr(upd_pred), F.col("o_totalprice") + 500.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    # delete hits rows whose CURRENT (post-update) value matches
    del_pred = "o_orderpriority = '2-HIGH' AND o_totalprice < 20000.0"
    assert snap_delete_where(spark, p, del_pred, mode="mor") == 3
    truth3 = truth2.filter(~F.coalesce(F.expr(del_pred), F.lit(False)))
    got = snap_read(spark, p).select(*orders.columns)
    assert got.count() == truth3.count()
    assert got.exceptAll(truth3.select(*orders.columns)).count() == 0
    # clone while debris is pending: state identical, seq_floor lifted
    dst = tempfile.mkdtemp(prefix="morclone2_")
    os.rmdir(dst)
    snap_clone(spark, p, dst)
    mc = _read_manifest(dst, 1)
    assert mc["seq_floor"] == 3
    gc = snap_read(spark, dst).select(*orders.columns)
    assert gc.exceptAll(truth3.select(*orders.columns)).count() == 0
    # clone-local MoR delete orders after everything borrowed
    assert snap_delete_where(
        spark, dst, "o_orderpriority = '2-HIGH'", mode="mor"
    ) == 2
    want = truth3.filter("o_orderpriority <> '2-HIGH'")
    gd = snap_read(spark, dst).select(*orders.columns)
    assert gd.count() == want.count()
    assert gd.exceptAll(want.select(*orders.columns)).count() == 0


def test_mor_merge_matches_cow_all_fates(spark):
    """snap_merge(mode='mor') — the Hudi MoR upsert: upsert/delete/
    insert fates all land as delete files + seq-stamped new images,
    base entries carried verbatim, final state identical to the CoW
    merge of the same batch; compaction promotes the debris. The same
    holds for an ordered merge (``order_by``): late images lose,
    newer ones and equal-order incoming ones win, in-batch duplicates
    resolve to the max, untouched partitions' entries carry verbatim,
    and ``order_by`` with ``delete_col`` is rejected."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_compact,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")

    def updates():
        ups = (
            orders.filter(
                (F.col("o_orderkey") % 97 == 0)
                & (F.col("o_orderkey") % 103 != 5)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
            .withColumn("_delete", F.lit(False))
        )
        dels = orders.filter(F.col("o_orderkey") % 103 == 5).withColumn(
            "_delete", F.lit(True)
        )
        ins = (
            orders.filter(F.col("o_orderkey") % 101 == 3)
            .withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(2_000_000_000)
            )
            .withColumn("_delete", F.lit(False))
        )
        return ups.unionByName(dels).unionByName(ins)

    paths = {}
    for mode in ("cow", "mor"):
        p = tempfile.mkdtemp(prefix=f"mormergetest_{mode}_")
        snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
        assert snap_merge(
            spark, p, updates(), key_cols=("o_orderkey",),
            delete_col="_delete", mode=mode,
        ) == 2
        paths[mode] = p
    a = snap_read(spark, paths["cow"]).select(*orders.columns)
    b = snap_read(spark, paths["mor"]).select(*orders.columns)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    m1 = _read_manifest(paths["mor"], 1)
    m2 = _read_manifest(paths["mor"], 2)
    assert all(e in m2["entries"] for e in m1["entries"])
    assert m2["delete_entries"] and all(
        d["seq"] == 2 for d in m2["delete_entries"]
    )
    assert all(
        e.get("seq") == 2 for e in m2["entries"] if e not in m1["entries"]
    )
    # time travel + promotion
    assert snap_read(spark, paths["mor"], 1).count() == orders.count()
    v3 = snap_compact(spark, paths["mor"], target_rows_per_file=100_000)
    assert not _read_manifest(paths["mor"], v3).get("delete_entries")
    c = snap_read(spark, paths["mor"]).select(*orders.columns)
    assert c.exceptAll(a).count() == 0 and a.exceptAll(c).count() == 0

    # ORDERED merge (order_by): per key, the greatest (ts, lsn) among the
    # touched base rows and every incoming row wins; incoming wins ties
    cols = "k long, part string, v string, ts long, lsn long"
    base = spark.createDataFrame(
        [
            (1, "a", "base1", 5, 1),  # late update below loses
            (2, "a", "base2", 5, 1),  # newer update wins
            (3, "b", "base3", 1, 1),  # in-batch duplicates resolve to the max
            (4, "b", "base4", 5, 2),  # equal-order tie -> incoming
            (6, "a", "base6", 1, 1),  # touched partition, key not in batch
            (10, "z", "base10", 1, 1),  # untouched partition
        ],
        cols,
    )
    batch = spark.createDataFrame(
        [
            (1, "a", "late1", 3, 9),
            (2, "a", "new2", 7, 1),
            (3, "b", "dup3a", 4, 1),
            (3, "b", "dup3max", 9, 1),
            (3, "b", "dup3b", 6, 1),
            (4, "b", "tie4", 5, 2),
            (5, "a", "ins5", 1, 1),
        ],
        cols,
    )
    want = {
        (1, "base1"), (2, "new2"), (3, "dup3max"), (4, "tie4"),
        (5, "ins5"), (6, "base6"), (10, "base10"),
    }
    ordered = {}
    for mode in ("cow", "mor"):
        p = tempfile.mkdtemp(prefix=f"ordmerge_{mode}_")
        snap_init(spark, base, p, "part", sort_by=("k",))
        with pytest.raises(ValueError, match="order_by"):
            snap_merge(
                spark, p, batch.withColumn("_delete", F.lit(False)),
                key_cols=("k",), delete_col="_delete", order_by=("ts", "lsn"),
                mode=mode,
            )
        assert snap_versions(p) == [1]
        assert snap_merge(
            spark, p, batch, key_cols=("k",), order_by=("ts", "lsn"), mode=mode
        ) == 2
        got = snap_read(spark, p).select(*base.columns)
        assert {(r.k, r.v) for r in got.collect()} == want, mode
        assert got.count() == len(want)  # one row per key
        m1, m2 = _read_manifest(p, 1), _read_manifest(p, 2)
        assert [e for e in m2["entries"] if e["partition"] == "z"] == [
            e for e in m1["entries"] if e["partition"] == "z"
        ]
        ordered[mode] = got
    a, b = ordered["cow"], ordered["mor"]
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_mor_merge_additive_schema_evolution(spark):
    """A MoR merge may add columns: the manifest's evolved column list
    is derived without rewriting anything, old files back-fill NULL at
    read time, and the delete-file anti-join still cancels the matched
    keys' old images through the back-fill."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="mormergeevo_")
    snap_init(spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",))
    batch = (
        orders.orderBy("o_orderkey").limit(3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("o_risk", F.lit("HI"))
    )
    assert snap_merge(spark, p, batch, key_cols=("o_orderkey",), mode="mor") == 2
    latest = snap_read(spark, p)
    assert "o_risk" in latest.columns
    assert latest.count() == orders.count()  # upserts replaced, not added
    assert latest.filter(F.col("o_risk") == "HI").count() == 3
    assert latest.filter(F.col("o_risk").isNull()).count() == orders.count() - 3
    assert "o_risk" in _read_manifest(p, 2)["columns"]


def test_mor_update_bloom_indexes_new_images(spark):
    """A MoR update on a bloom-indexed table writes sidecars for its
    NEW image files, so point reads stay pruned AND correct through
    the update debris: probing an updated key returns its new value,
    and the old image is cancelled by the commit's delete files."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _bloom_sidecar_files,
        snap_point_read,
        snap_update_where,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = tempfile.mkdtemp(prefix="morupdbloom_")
    snap_init(
        spark, orders, p, "o_orderpriority", sort_by=("o_orderkey",),
        bloom_col="o_orderkey", bloom_bits=65536,
    )
    key = int(
        orders.filter("o_orderpriority = '1-URGENT'")
        .agg(F.min("o_orderkey")).first()[0]
    )
    old_price = float(
        orders.filter(F.col("o_orderkey") == key).first()["o_totalprice"]
    )
    assert snap_update_where(
        spark, p, f"o_orderkey = {key}",
        {"o_totalprice": "o_totalprice + 111.0"}, mode="mor",
    ) == 2
    # the update commit's data dir carries its own bloom sidecar
    assert _bloom_sidecar_files(p, "c000002")
    got = snap_point_read(spark, p, [key]).collect()
    assert len(got) == 1
    assert abs(got[0]["o_totalprice"] - (old_price + 111.0)) < 1e-9
    # time travel still sees the pre-update value
    got1 = snap_point_read(spark, p, [key], version=1).collect()
    assert len(got1) == 1 and abs(got1[0]["o_totalprice"] - old_price) < 1e-9


def test_snap_sync_diff_pruned_and_idempotent(spark):
    """snap_sync's three contracts: (a) the synced table equals the
    source exactly (update arm reverts the drift, delete arm removes
    rows the source lacks, insert arm restores rows the table lost);
    (b) partitions with NO difference carry their manifest rows
    VERBATIM (the null-safe full-row diff prunes them before the
    merge is planned); (c) syncing an already-synced table publishes
    no commit and returns None. Either way the cached diff is released
    before the call returns."""
    import json

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
        snap_init,
        snap_sync,
        snap_update_where,
    )
    from docker_based_real_time_etl_project_spark.sources.parquet import load_table

    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="sync_contract_")
    snap_init(spark, src, path, "o_orderpriority", sort_by=("o_orderkey",))
    # drift two ways, both confined to ONE partition: update prices,
    # delete some rows (sync's insert arm must restore them)
    assert snap_update_where(
        spark, path, "o_orderpriority = '1-URGENT'",
        {"o_totalprice": "o_totalprice + 1000.0"}, sort_by=("o_orderkey",),
    ) == 2
    assert snap_delete_where(
        spark, path,
        "o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0",
        sort_by=("o_orderkey",),
    ) == 3
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    held = rdds().size()
    v = snap_sync(spark, path, src, key_cols=("o_orderkey",),
                  sort_by=("o_orderkey",))
    assert v == 4
    assert rdds().size() == held  # the diff is released after the commit
    synced = snap_read(spark, path)
    assert synced.exceptAll(src).count() == 0
    assert src.exceptAll(synced).count() == 0
    # (b) un-drifted partitions carried verbatim across the sync commit
    m3 = json.load(open(os.path.join(path, "_manifests", "v000003.json")))
    m4 = json.load(open(os.path.join(path, "_manifests", "v000004.json")))
    other3 = sorted(
        e["path"] for e in m3["entries"] if e["partition"] != "1-URGENT"
    )
    other4 = sorted(
        e["path"] for e in m4["entries"] if e["partition"] != "1-URGENT"
    )
    assert other3 == other4
    touched = [e["path"] for e in m4["entries"] if e["partition"] == "1-URGENT"]
    assert touched and all(p.startswith("c000004") for p in touched)
    # (c) idempotence: equal table -> no commit
    assert snap_sync(spark, path, src, key_cols=("o_orderkey",)) is None
    assert snap_versions(path)[-1] == 4
    assert rdds().size() == held
    # schema contract: a source missing a column is refused
    with pytest.raises(ValueError, match="columns"):
        snap_sync(spark, path, src.drop("o_custkey"), key_cols=("o_orderkey",))


def test_snap_sync_mor_reads_through_debris(spark):
    """snap_sync(mode='mor') must land the identical final state as
    the CoW sync while writing the diff as delete files + seq-stamped
    data files — the read-side reconciliation, not a partition
    rewrite, restores equality with the source."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_init,
        snap_sync,
        snap_update_where,
    )
    from docker_based_real_time_etl_project_spark.sources.parquet import load_table

    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="sync_mor_")
    snap_init(spark, src, path, "o_orderpriority", sort_by=("o_orderkey",))
    assert snap_update_where(
        spark, path, "o_orderpriority = '1-URGENT'",
        {"o_totalprice": "o_totalprice + 1000.0"}, sort_by=("o_orderkey",),
    ) == 2
    v = snap_sync(spark, path, src, key_cols=("o_orderkey",),
                  sort_by=("o_orderkey",), mode="mor")
    assert v == 3
    synced = snap_read(spark, path)
    assert synced.exceptAll(src).count() == 0
    assert src.exceptAll(synced).count() == 0
    # MoR shape: every v2 data entry carried verbatim, delete debris present
    m2 = _read_manifest(path, 2)
    m3 = _read_manifest(path, 3)
    assert all(e in m3["entries"] for e in m2["entries"])
    assert any(
        e["path"].startswith("c000003d") for e in m3.get("delete_entries", [])
    )
    # idempotence holds through the debris
    assert snap_sync(spark, path, src, key_cols=("o_orderkey",),
                     mode="mor") is None


def test_no_lake_call_inside_assert():
    """``python -O`` strips ``assert`` statements, so a ``snap_*`` call
    inside one never runs there and the lake or index it builds is
    silently left unwritten. Package code calls the verb, then checks."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "docker_based_real_time_etl_project_spark"
    bad = []
    for f in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if not isinstance(node, ast.Assert):
                continue
            for call in ast.walk(node):
                fn = getattr(call, "func", None)
                name = getattr(fn, "id", None) or getattr(fn, "attr", "")
                if isinstance(call, ast.Call) and name.startswith("snap_"):
                    bad.append(f"{f.relative_to(pkg)}:{node.lineno} {name}")
    assert not bad, bad


def test_reads_use_recorded_schema_for_partition_column(spark):
    """Reads take the manifest's recorded schema, so the partition
    column keeps its written type. Inferring it from directory names
    read a string column holding "007", "010" and "10" as int 7, 10,
    10 (two distinct values collided) and a bigint column as int; a
    merge then carried the corruption into the next version."""
    df = spark.createDataFrame(
        [(1, "007", 7, 1.0), (2, "010", 10, 2.0), (3, "10", 10, 3.0)],
        "id bigint, code string, big bigint, v double",
    )
    want = {(1, "007", 7, 9.0), (2, "010", 10, 2.0), (3, "10", 10, 3.0)}
    for part in ("code", "big"):
        path = tempfile.mkdtemp(prefix=f"snapptype_{part}_")
        snap_init(spark, df, path, part)
        got = snap_read(spark, path)
        assert got.dtypes == df.dtypes, part
        assert {tuple(r) for r in got.collect()} == {tuple(r) for r in df.collect()}
        upd = df.filter("id = 1").withColumn("v", F.lit(9.0))
        assert snap_merge(spark, path, upd, key_cols=("id",)) == 2
        got = snap_read(spark, path)
        assert got.dtypes == df.dtypes, part
        assert {tuple(r) for r in got.collect()} == want, part


def test_manifest_without_recorded_schema_still_reads(spark):
    """A manifest written before schemas were recorded has no
    ``schema_json``: its read falls back to schema inference and the
    by-name NULL back-fill of columns an older commit lacks, and
    returns the same rows as the recorded-schema read."""
    import json
    from collections import Counter

    from docker_based_real_time_etl_project_spark.lakesnap import _manifest_file

    path = tempfile.mkdtemp(prefix="snapnoschema_")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    snap_init(spark, orders, path, "o_orderpriority", sort_by=("o_orderkey",))
    upd = orders.filter(F.col("o_orderkey") % 9 == 1).withColumn(
        "audit_tag", F.lit("r9")
    )
    snap_merge(spark, path, upd, key_cols=("o_orderkey",))
    recorded = snap_read(spark, path)
    want = recorded.collect()
    mf = _manifest_file(path, 2)
    with open(mf) as fh:
        m = json.load(fh)
    del m["schema_json"]
    with open(mf, "w") as fh:
        json.dump(m, fh)
    inferred = snap_read(spark, path)
    assert inferred.columns == recorded.columns
    assert Counter(map(tuple, inferred.collect())) == Counter(map(tuple, want))


def test_writers_keep_recorded_column_types(spark):
    """Every file a manifest names reads back under its one recorded
    schema, so writers store values in the recorded column types (SQL
    store assignment): a merge batch carrying a double for a bigint
    column and an UPDATE whose SET expression is a double both write
    bigints, and the files written before and after read together."""
    from docker_based_real_time_etl_project_spark.lakesnap import snap_update_where

    path = tempfile.mkdtemp(prefix="snaptypes_")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id bigint, part string, n bigint"
    )
    snap_init(spark, df, path, "part")
    upd = spark.createDataFrame([(1, "a", 11.0)], "id bigint, part string, n double")
    assert snap_merge(spark, path, upd, key_cols=("id",)) == 2
    assert snap_update_where(spark, path, "id = 2", {"n": "n * 1.5"}) == 3
    got = snap_read(spark, path)
    assert got.dtypes == df.dtypes
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a", 11), (2, "b", 30)]


_LAKE_MERGE_RUN = """
import glob, os, sys
sys.path.insert(0, {root!r})
from docker_based_real_time_etl_project_spark.queries.sources_q import q_lake_merge
from docker_based_real_time_etl_project_spark.session import get_spark

spark = get_spark("lake-merge-tmp", master="local[2]")
print("groups", q_lake_merge(spark, {sf!r}).count())
print("lakes", len(glob.glob(os.path.join(os.environ["TMPDIR"], "lake_merge_*"))))
"""


def test_lake_merge_leaves_no_temp_lake(tmp_path, sf_dir):
    """q_lake_merge writes its merged lake under the temp dir; the
    process removes it at exit, so repeated gate and bench runs leave
    no lake_merge_* dirs behind."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _LAKE_MERGE_RUN.format(root=root, sf=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "lakes 1" in out.stdout, out.stdout
    assert not list(tmp.glob("lake_merge_*"))
