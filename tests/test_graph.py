"""operators/graph.pointer_jump contracts beyond the standing oracle
parity: the O(log depth) round bound on dense keys (the property that
makes doubling worth its complexity), exactness of the single-step
fallback on gapped key spaces, and path composition against a plain
Python walk.
"""

from __future__ import annotations

import pytest

from docker_based_real_time_etl_project_spark.operators.graph import pointer_jump


def _forest(spark, keys):
    """parent(c) = c DIV 8 + c % 7 for c >= 8, roots 0..7 — the same
    synthetic forest as queries/graph_q.py."""
    nodes = spark.createDataFrame([(k,) for k in keys], "node bigint")
    edges = nodes.filter("node >= 8").selectExpr(
        "node", "node DIV 8 + node % 7 AS parent"
    )
    return nodes, edges


def _walk(k):
    path, depth = [k], 0
    while k >= 8:
        k = k // 8 + k % 7
        path.append(k)
        depth += 1
    return k, depth, ">".join(str(p) for p in path)


def test_dense_keys_converge_in_log_rounds(spark):
    """Dense 0..2000 keys have depth <= 4 (log8); doubling advances
    1+2+4 levels in three rounds, so max_rounds=5 (3 advances + the
    empty-probe round + slack) must suffice. A naive one-level-per-
    round walk would need 5+ and raise — this is the O(log depth)
    pin."""
    nodes, edges = _forest(spark, range(2001))
    out = pointer_jump(
        nodes, edges,
        root_bound_expr="cur < 8",
        fallback_parent_expr="cur DIV 8 + cur % 7",
        max_rounds=5,
    ).collect()
    assert len(out) == 2001
    expect = {k: _walk(k)[:2] for k in range(2001)}
    got = {r.node: (r.cur, r.depth) for r in out}
    assert got == expect


def test_sparse_keys_fall_back_exactly(spark):
    """Keys whose arithmetic ancestors are NOT rows (gapped key space)
    must still resolve to the exact (root, depth) via the coalesce
    single-step fallback."""
    keys = [0, 3, 9, 1_000_003, 10_000_005, 123_456_789]
    nodes, edges = _forest(spark, keys)
    out = {
        r.node: (r.cur, r.depth)
        for r in pointer_jump(
            nodes, edges,
            root_bound_expr="cur < 8",
            fallback_parent_expr="cur DIV 8 + cur % 7",
        ).collect()
    }
    assert out == {k: _walk(k)[:2] for k in keys}


def test_path_carry_composes_exactly(spark):
    """carry_path=True must reproduce the full ancestor chain — the
    doubling concatenates skipped segments, and one misplaced '>' or
    out-of-order hop breaks the string equality."""
    keys = list(range(300))
    nodes, edges = _forest(spark, keys)
    out = {
        r.node: r.path
        for r in pointer_jump(
            nodes, edges,
            root_bound_expr="cur < 8",
            fallback_parent_expr="cur DIV 8 + cur % 7",
            carry_path=True,
        ).collect()
    }
    assert out == {k: _walk(k)[2] for k in keys}


def test_round_exhaustion_raises(spark):
    """max_rounds too small must be a loud defect alarm, never a
    silently-truncated closure."""
    nodes, edges = _forest(spark, range(600))  # depth >= 3
    with pytest.raises(RuntimeError, match="failed to converge"):
        pointer_jump(
            nodes, edges,
            root_bound_expr="cur < 8",
            fallback_parent_expr="cur DIV 8 + cur % 7",
            max_rounds=1,
        )


def test_pagerank_materialized_flag_rejects_lazy_edges(spark):
    """``edges_materialized=True`` is a contract, not a hint: a LAZY
    edge DataFrame passed with the flag set would silently re-evaluate
    its build lineage in deg/edeg and every per-iteration dangling
    anti-join. The operator must fail fast instead (ADVICE r14)."""
    from pyspark.sql import functions as F

    from docker_based_real_time_etl_project_spark.operators.graph import (
        pagerank,
    )

    edges = spark.range(10).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 10).alias("dst")
    )
    nodes = spark.range(10).select(F.col("id").alias("node"))
    with pytest.raises(ValueError, match="edges_materialized"):
        pagerank(nodes, edges, iters=1, edges_materialized=True)
    # the checkpointed form passes the gate and converges
    out = pagerank(
        nodes,
        edges.localCheckpoint(eager=True),
        iters=1,
        edges_materialized=True,
    )
    assert out.count() == 10
