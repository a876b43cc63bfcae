"""Lake write path: the layout contracts behind q_lake_roundtrip.

write_clustered must produce (a) partition directories the reader
prunes, (b) range-clustered files whose row-group min/max are
disjoint (the skipping contract), (c) no file above the row target.
Negative controls pin that a naive write does NOT have these
properties — the assertions measure the layout, not the test's
optimism.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark.lakewrite import write_clustered
from docker_based_real_time_etl_project_spark.queries.registry import table


def _leaf_parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def row_group_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) of ``column`` for every row group under ``path``,
    straight from parquet footer statistics — the same metadata a
    scan's skipping logic reads. A clustered write is proven by these
    ranges being (near-)disjoint, an unclustered one by every range
    spanning the whole domain."""
    out: list[tuple] = []
    for f in sorted(_leaf_parquet_files(path)):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is not None and st.has_min_max:
                out.append((st.min, st.max))
    return out


def _checksum(df):
    """Order-independent content hash over every column."""
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()


@pytest.fixture(scope="module")
def clustered_dir(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="t_lake_")
    write_clustered(
        table(spark, sf_dir, "events"),
        out,
        partition_by=("event_type",),
        sort_by=("ts", "event_id"),
        target_rows_per_file=50,
    )
    return out


def test_clustered_write_roundtrips_exactly(spark, sf_dir, clustered_dir):
    src = table(spark, sf_dir, "events")
    back = spark.read.parquet(clustered_dir).select(*src.columns)
    assert _checksum(back) == _checksum(src)


def test_partition_dirs_and_pruned_scan(spark, clustered_dir):
    dirs = [d for d in os.listdir(clustered_dir) if d.startswith("event_type=")]
    assert len(dirs) >= 2, "expected one directory per event_type"
    one = dirs[0].split("=", 1)[1]
    scan = spark.read.parquet(clustered_dir).filter(F.col("event_type") == one)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # partition pruning happens at file listing: the filter must appear
    # as a PartitionFilter on the scan, not a post-scan Filter only
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "event_type" in seg


def test_file_row_target_enforced(clustered_dir):
    files = _leaf_parquet_files(clustered_dir)
    assert files
    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= 50


def test_row_groups_disjoint_on_sort_key(spark, sf_dir, clustered_dir):
    # within one partition directory, (ts) ranges of consecutive row
    # groups must not interleave — that disjointness IS the skipping
    # contract a ts-predicate scan exploits
    part = os.path.join(
        clustered_dir,
        next(d for d in os.listdir(clustered_dir) if d.startswith("event_type=")),
    )
    ranges = sorted(row_group_ranges(part, "ts"))
    assert len(ranges) >= 2
    overlaps = sum(1 for a, b in zip(ranges, ranges[1:]) if b[0] < a[1])
    assert overlaps == 0, f"clustered write produced {overlaps} overlapping row groups"

    # negative control: the naive write of the same partition's rows
    # interleaves ts across files/row groups
    naive = tempfile.mkdtemp(prefix="t_lake_naive_")
    one = os.path.basename(part).split("=", 1)[1]
    write_clustered(
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == one)
        .repartition(8),
        naive,
        target_rows_per_file=50,
    )
    nranges = sorted(row_group_ranges(naive, "ts"))
    noverlaps = sum(1 for a, b in zip(nranges, nranges[1:]) if b[0] < a[1])
    assert noverlaps > 0, "negative control: naive layout should interleave"


def test_bloom_filter_option_grows_footer(spark, sf_dir):
    # same rows, same order (single range partition, total sort), and
    # the baseline also writes user_id without dictionary — so the only
    # byte difference between the two files is the bloom bitmap itself;
    # pyarrow here doesn't expose bloom offsets, so physical presence
    # is pinned by the size delta
    base = tempfile.mkdtemp(prefix="t_lake_nobloom_")
    blm = tempfile.mkdtemp(prefix="t_lake_bloom_")
    df = table(spark, sf_dir, "events")
    write_clustered(
        df,
        base,
        sort_by=("ts", "event_id"),
        n_partitions=1,
        writer_options={"parquet.enable.dictionary#user_id": "false"},
    )
    write_clustered(
        df,
        blm,
        sort_by=("ts", "event_id"),
        n_partitions=1,
        bloom_filter_cols={"user_id": 1000},
    )
    sb = sum(os.path.getsize(f) for f in _leaf_parquet_files(base))
    sz = sum(os.path.getsize(f) for f in _leaf_parquet_files(blm))
    assert sz >= sb + 512, "bloom-enabled file should carry the bitmap bytes"
