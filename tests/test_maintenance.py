"""LSH index maintenance: the persisted index's version history is
load-bearing, and compacting the streamed index keeps its pair set.
Compaction itself is ``lakesnap.snap_compact`` (tests/test_lakesnap.py).
"""

from __future__ import annotations


def test_lsh_index_restore_matters(spark, sf_dir):
    """q_lsh_index_persisted's version history must be load-bearing:
    the wrong v3 tombstone batch visibly loses the %10==3 docs' band
    rows (a stale read would lose their pairs), and the restored
    latest brings every band row back to the full-corpus v2 state."""
    from pyspark.sql import functions as F

    from docker_based_real_time_etl_project_spark.lakesnap import snap_read
    from docker_based_real_time_etl_project_spark.queries.dedup_q import (
        _lsh_index_snap,
    )

    path = _lsh_index_snap(spark, sf_dir)
    v3 = snap_read(spark, path, version=3)
    assert v3.filter(F.expr("doc_id % 10 = 3")).count() == 0
    latest = snap_read(spark, path)
    n3 = latest.filter(F.expr("doc_id % 10 = 3")).count()
    assert n3 > 0
    # full corpus: every doc carries exactly 16 band rows
    n_docs = latest.select("doc_id").distinct().count()
    assert latest.count() == 16 * n_docs


def test_stream_lsh_index_compaction_preserves_pairs(spark, sf_dir):
    """Operational close of the streamed LSH index: after 8
    version-per-batch MoR commits, compacting every partition must (a)
    materially shrink the files a full read opens (the debris was
    real), (b) retire all pending delete entries, and (c) leave the
    served pair set BIT-IDENTICAL — compaction is a physical rewrite,
    never a semantic event."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        _read_manifest,
        snap_compact_partitions,
        snap_files,
        snap_versions,
    )
    from docker_based_real_time_etl_project_spark.queries.dedup_q import (
        _lsh_index_stream_lake,
        _lsh_pairs_from_index,
    )

    lake = _lsh_index_stream_lake(spark, sf_dir)
    before = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _lsh_pairs_from_index(spark, sf_dir, lake).collect()
    )
    m = _read_manifest(lake, max(snap_versions(lake)))
    parts = sorted({e["partition"] for e in m["entries"]})
    n_files_before = len(snap_files(lake))
    snap_compact_partitions(spark, lake, parts, target_rows_per_file=100_000)
    assert len(snap_files(lake)) < n_files_before
    assert not _read_manifest(lake, max(snap_versions(lake))).get("delete_entries")
    after = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _lsh_pairs_from_index(spark, sf_dir, lake).collect()
    )
    assert after == before and len(before) > 0
