"""Pointer-jumping (path-doubling) closure over a functional forest.

Generic machinery behind the graph-shaped queries (queries/graph_q.py):
every node follows a (node -> parent) edge table to its root in
O(log depth) keyed equi-join rounds — the jump table composes with
itself each round (J' = J∘J), so after k rounds a live state advances
2^k levels. This is the scale-correct plan for hierarchy flattening
(org charts, BOM explosion, category trees): a 15M-node forest of
depth ~8 costs ~3-4 shuffle rounds instead of 8, and each round is one
equi-join on the jump table plus a ``localCheckpoint`` to truncate the
doubling lineage (same pattern as the connected-components operator,
operators/dedup.py).

Totality: a state whose current ancestor value has no jump entry
(possible only when the parent function can leave the key space —
never in an FK-enforced hierarchy) falls back to ONE application of
``fallback_parent_expr``; correctness never depends on key density,
at the cost of O(depth) rounds for the stray stretch (measured in
SCALE.md round-10 session-3).

The optional path carry composes the exact ancestor chain through the
same doubling: the jump table stores the '>'-joined segment STRICTLY
AFTER its node up to its 2^k-th ancestor, and J∘J concatenates the two
halves — so even the path-producing closure stays O(log depth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compose(jump: DataFrame, carry_path: bool) -> DataFrame:
    """J' = J∘J where the midpoint still has an entry; roots have
    none, so their predecessors keep the shorter hop. ``_adv`` marks
    rows whose midpoint matched — a compose with zero ``_adv`` rows is
    the identity, i.e. the jump table is SATURATED (every entry
    already maps to a root) and no further compose can change it."""
    j = jump.select(
        F.col("node").alias("j_node"),
        F.col("parent").alias("j_parent"),
        F.col("step").alias("j_step"),
        *([F.col("seg").alias("j_seg")] if carry_path else []),
    )
    return jump.join(j, jump.parent == F.col("j_node"), "left").select(
        "node",
        F.coalesce(F.col("j_parent"), F.col("parent")).alias("parent"),
        (F.col("step") + F.coalesce(F.col("j_step"), F.lit(0))).alias("step"),
        *(
            [
                F.when(F.col("j_seg").isNull(), F.col("seg"))
                .otherwise(F.concat(F.col("seg"), F.lit(">"), F.col("j_seg")))
                .alias("seg")
            ]
            if carry_path
            else []
        ),
        F.col("j_parent").isNotNull().alias("_adv"),
    )


def pointer_jump(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    root_bound_expr: str,
    fallback_parent_expr: str,
    carry_path: bool = False,
    max_rounds: int = 24,
) -> DataFrame:
    """Resolve every node of ``nodes`` (column ``node``) to its root.

    ``edges`` has columns (node, parent) — one row per NON-root node.
    ``root_bound_expr``: boolean SQL over a column named ``cur`` that
    is true iff ``cur`` is a root. ``fallback_parent_expr``: SQL over
    ``cur`` giving one parent step for values absent from the jump
    table. Returns (node, cur=root, depth[, path]).
    """
    jump = edges.select(
        "node",
        "parent",
        F.lit(1).alias("step"),
        *(
            [F.col("parent").cast("string").alias("seg")]
            if carry_path
            else []
        ),
    ).localCheckpoint(eager=True)
    state = nodes.select(
        "node",
        F.col("node").alias("cur"),
        F.lit(0).alias("depth"),
        *([F.col("node").cast("string").alias("path")] if carry_path else []),
    )
    root = F.expr(root_bound_expr)
    first_round = True
    saturated = False
    for _ in range(max_rounds):
        hot = state.filter(~root)
        if hot.isEmpty():
            break
        done = state.filter(root)
        # Square LAZILY at the top of rounds 2+: convergence is only
        # detected at the next loop head, so squaring at the bottom
        # would always pay one final O(|edges|) composition whose
        # result is never consumed. Once a compose comes back with no
        # advanced row the table is a fixed point (every entry maps to
        # a root); skip ALL further composes — the remaining rounds
        # (sparse stray keys walking the fallback one step at a time)
        # would otherwise each pay an O(|edges|) compose+checkpoint
        # whose result is bit-identical to the last.
        if not first_round and not saturated:
            composed = _compose(jump, carry_path).localCheckpoint(eager=True)
            if composed.filter("_adv").isEmpty():
                saturated = True
            jump = composed.drop("_adv")
        first_round = False
        j = jump.select(
            F.col("node").alias("j_node"),
            F.col("parent").alias("j_parent"),
            F.col("step").alias("j_step"),
            *([F.col("seg").alias("j_seg")] if carry_path else []),
        )
        fallback = F.expr(fallback_parent_expr)
        adv = hot.join(j, hot.cur == F.col("j_node"), "left").select(
            "node",
            F.coalesce(F.col("j_parent"), fallback).alias("cur"),
            (F.col("depth") + F.coalesce(F.col("j_step"), F.lit(1))).alias(
                "depth"
            ),
            *(
                [
                    F.concat(
                        F.col("path"),
                        F.lit(">"),
                        F.coalesce(
                            F.col("j_seg"), fallback.cast("string")
                        ),
                    ).alias("path")
                ]
                if carry_path
                else []
            ),
        )
        state = done.unionByName(adv).localCheckpoint(eager=True)
    else:
        raise RuntimeError(
            f"pointer jumping failed to converge in {max_rounds} rounds"
        )
    return state


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
    edges_materialized: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank power method, INTEGER-EXACT so a SQL
    oracle can restate it bit-for-bit: ranks live in ``scale`` units
    (nano-rank at the default), every step is integer arithmetic —
    per-edge contribution ``rank DIV out_degree``, damping ``x * d DIV
    100``, teleport and dangling-mass shares divided by N once — so no
    float ever enters and summation order cannot change a single bit.

    ``nodes`` has column ``node``; ``edges`` (src, dst), pre-distinct.
    Returns (node, rank) after ``iters`` synchronous iterations from
    the uniform start ``scale DIV N``. Dangling nodes' mass (no
    out-edges) redistributes uniformly, the standard correction.

    Scale shape (Pregel-on-DataFrames): each iteration is ONE shuffle
    — join ranks to edges on src, hash-aggregate contributions on dst
    — plus an O(1)-row dangling aggregate; ``localCheckpoint``
    truncates the per-iteration lineage exactly like pointer_jump.
    At a 1000-executor scale the edge table partitioning on src is
    reused every iteration (the rank side is the small, changing one).

    ``seeds`` (a ``node``-column DataFrame) switches to PERSONALIZED
    PageRank: the initial mass, the teleport, and the dangling
    redistribution all land uniformly on the seed set instead of all
    nodes — random walk with restart to the seeds, the proximity
    ranking behind graph recommendations. ``seeds=None`` degenerates
    to every node seeded, which is exactly the global form.

    ``weight_col`` names a positive integer edge-weight column for
    EDGE-WEIGHTED PageRank: a src node's mass splits proportionally to
    weight — per-edge contribution ``(rank * w) DIV sum_w(src)`` —
    still pure integer arithmetic (one multiply, one floor divide per
    edge; rank <= scale and integer weights keep the product far from
    64-bit range), so the unrolled-CTE oracle discipline carries over
    unchanged. ``weight_col=None`` keeps the uniform ``rank DIV
    out_degree`` split (== the weighted form with w = 1 everywhere).
    The dangling/teleport machinery is weight-oblivious either way.
    """
    # Materialize the graph ONCE: edges/deg are consumed by every
    # iteration (contrib join + dangling anti-join), and an expensive
    # caller lineage (a join+distinct building the edge list) would
    # otherwise recompute per round — measured 3x on the purchase-graph
    # fixture. The checkpoint is the Pregel "load the graph" step.
    # ``edges_materialized=True`` says the caller already checkpointed
    # the edge list (so it could derive the node set from the SAME
    # materialization instead of re-running the edge build — round 14);
    # re-checkpointing a checkpoint would copy every partition for
    # nothing.
    if not edges_materialized:
        edges = edges.localCheckpoint(eager=True)
    else:
        # The flag is a CONTRACT, not a hint: a lazy DataFrame passed
        # with it set would silently re-evaluate the full edge-build
        # lineage for deg, edeg, and every per-iteration dangling
        # anti-join. Fail fast (driver-only plan-class check, no job).
        kind = edges._jdf.queryExecution().analyzed().getClass().getSimpleName()
        if kind != "LogicalRDD":
            raise ValueError(
                f"edges_materialized=True requires the checkpointed edge "
                f"DataFrame itself (localCheckpoint result), got plan root "
                f"{kind}"
            )
    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        contrib_expr = "rank DIV deg"
    else:
        deg = edges.groupBy("src").agg(
            F.sum(weight_col).cast("long").alias("deg")
        )
        contrib_expr = f"(rank * {weight_col}) DIV deg"
    deg = deg.localCheckpoint(eager=True)
    # deg is STATIC across iterations, so attach it to the edge table
    # once instead of re-joining every round (round 14, guide §2.4:
    # two operations keyed the same way share one exchange — here the
    # shared work is hoisted out of the loop entirely). Each iteration
    # then joins only the CHANGING side (ranks) into the pre-joined
    # edge+degree table.
    edeg = edges.join(deg, "src").localCheckpoint(eager=True)
    if seeds is None:
        nodes = nodes.select("node", F.lit(True).alias("_seed"))
    else:
        nodes = nodes.join(
            seeds.select("node", F.lit(True).alias("_seed")), "node", "left"
        ).select("node", F.coalesce("_seed", F.lit(False)).alias("_seed"))
    nodes = nodes.localCheckpoint(eager=True)  # re-read every iteration
    # one job for both counts (they were two separate actions)
    _cnt = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_seed"), 1).otherwise(0)).alias("ns"),
    ).head()
    n, ns = _cnt["n"], _cnt["ns"] or 0
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))
    if ns == 0:
        raise ValueError("pagerank: seed set is empty / disjoint from nodes")
    tele = (scale * (100 - damping_pct) // 100) // ns
    r = nodes.select(
        "node",
        F.when(F.col("_seed"), F.lit(scale // ns))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        # Dangling mass stays IN-PLAN as a 1-row broadcast instead of a
        # per-iteration driver head() round trip (round 14): the scalar
        # only feeds the next rank expression, so folding it into the
        # same job halves the per-iteration action count — one
        # synchronization barrier per iteration, which is the real cost
        # of an iterative driver loop at cluster scale. Integer
        # arithmetic is unchanged: (dang * d DIV 100) DIV ns with
        # non-negative operands is the same floor division Python did.
        dang_df = (
            r.join(deg, r.node == deg.src, "left_anti")
            .agg(
                F.coalesce(F.sum("rank"), F.lit(0))
                .cast("long")
                .alias("_dang")
            )
        )
        contribs = (
            edeg.join(r.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr(contrib_expr)).alias("contrib"))
        )
        r = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dang_df))
            .select(
                "node",
                (
                    F.when(
                        F.col("_seed"),
                        F.lit(tele)
                        + F.expr(
                            f"(_dang * {damping_pct} DIV 100) DIV {ns}"
                        ),
                    ).otherwise(F.lit(0))
                    + F.expr(
                        f"coalesce(contrib, 0L) * {damping_pct} DIV 100"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return r
