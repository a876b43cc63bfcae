"""Similarity-search query surface: brute-force cosine top-k
(SQL-oracled -- exact math with stable rounding + tiebreak) and the
LSH-bucketed approximate variant (rows-only: bucketing is
seed/engine-specific even though the re-rank math is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark.operators.similarity import brute_force_topk, hyperplanes, lsh_topk
from docker_based_real_time_etl_project_spark.queries.registry import register, table
from docker_based_real_time_etl_project_spark.streaming.pipelines import await_drained

# fixed query set: every 100th vector -- deterministic, scales with
# corpus; kept at 5 points so the headline bench workload (q_cosine_topk)
# stays round-over-round comparable
_QUERY_IDS = (0, 100, 200, 300, 400)
_Q_SQL = "(" + ", ".join(str(i) for i in _QUERY_IDS) + ")"

# recall-contract query set: every 25th vector (20 points) -- wide
# enough that a bucketing regression can't hide in a lucky handful
_RECALL_QUERY_IDS = tuple(range(0, 500, 25))
_RQ_SQL = "(" + ", ".join(str(i) for i in _RECALL_QUERY_IDS) + ")"


def _query_df(
    spark: SparkSession, sf_dir: str, ids: tuple[int, ...] = _QUERY_IDS
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id").isin(list(ids))).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


@register(
    "q_cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id IN {_Q_SQL}),
    scored AS (
      SELECT q.q_id, v.vec_id,
             ROUND(list_dot_product(v.e, q.qe)
                   / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))),
                   6) AS cosine_sim
      FROM v, q
    ),
    ranked AS (
      SELECT q_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT q_id, vec_id, cosine_sim, rnk FROM ranked WHERE rnk <= 10
    """,
    tags=("similarity", "flagship"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-10 cosine neighbors for 5 fixed query
    vectors. Query side broadcast; corpus scanned once; ranking on
    rounded cosine with vec_id tiebreak is cross-engine deterministic."""
    e = table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, _query_df(spark, sf_dir), k=10)


@register("q_ann_lsh", oracle=None, tags=("similarity", "approx"))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via 8-plane sign-LSH bucketing + exact re-rank
    within the matched bucket. Recall vs brute force is pytest-checked;
    rows-only here (bucket membership is seed-specific)."""
    e = table(spark, sf_dir, "embeddings")
    planes = hyperplanes(dim=64, n_planes=8, seed=42)
    return lsh_topk(e, _query_df(spark, sf_dir), planes, k=10)


# Raised from 0.6/0.8 in round 6: 0.6 per-query recall would be a weak
# dedup/retrieval guarantee in a real pipeline. Measured margins at the
# shipped settings (min/mean over the 20 fixed queries):
#   LSH 2 planes x 12 tables — sf0.001: 0.90/0.995, sf0.01: 1.00/1.000
#   IVF 8 cells, probe 7     — sf0.001: 0.80/0.965, sf0.01: 0.90/0.985
# (full tables/probes-vs-recall curve: SCALE.md "Round-6 scale notes")
_RECALL_GATE = 0.8   # per-query floor
_MEAN_GATE = 0.9     # mean recall across all 20 queries

_RECALL_ORACLE = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id IN {_RQ_SQL}),
ranked AS (
  SELECT q.q_id, v.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
                            ORDER BY ROUND(list_dot_product(v.e, q.qe)
                                  / (sqrt(list_dot_product(v.e, v.e))
                                     * sqrt(list_dot_product(q.qe, q.qe))), 6) DESC,
                            v.vec_id) AS rnk
  FROM v, q
),
exact10 AS (SELECT q_id FROM ranked WHERE rnk <= 10)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM exact10 GROUP BY q_id
UNION ALL
SELECT CAST(-1 AS BIGINT) AS q_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM exact10
"""


def _recall_df(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(q_id, n_exact, recall_ok): per-query recall@10 of the approximate
    result vs exact brute force, collapsed to the >= gate boolean, plus
    one q_id=-1 summary row whose recall_ok asserts MEAN recall >=
    _MEAN_GATE across all 20 queries (so a broad degradation fails even
    if every query individually clears the _RECALL_GATE floor). The raw hit count is
    engine-specific (bucket/cell seeds), so only the gate verdicts are
    exposed to the hash compare -- but a row goes RED in CORRECTNESS if
    recall ever collapses, which is the contract."""
    # approx/exact share lineage (same source DataFrames), so df-attribute
    # join conditions resolve trivially true -- rename the approx side
    # to fresh columns and join on unambiguous names instead
    a = approx.select(F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vec"))
    hits = exact.select("q_id", "vec_id").join(
        a,
        (F.col("q_id") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vec")),
        "left_semi",
    )
    n_hits = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit"))
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    per_query = n_exact.join(n_hits, "q_id", "left").select(
        F.col("q_id").cast("bigint").alias("q_id"),
        "n_exact",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("recall"),
    )
    rows = per_query.select(
        "q_id", "n_exact", (F.col("recall") >= F.lit(_RECALL_GATE)).alias("recall_ok")
    )
    mean_row = per_query.agg(
        F.sum("n_exact").alias("n_exact"),
        (F.avg("recall") >= F.lit(_MEAN_GATE)).alias("recall_ok"),
    ).select(F.lit(-1).cast("bigint").alias("q_id"), "n_exact", "recall_ok")
    return rows.unionByName(mean_row)


@register("q_ann_lsh_recall", oracle=_RECALL_ORACLE, tags=("similarity", "approx"))
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall contract for multi-table sign-LSH ANN over
    20 fixed query vectors: recall@10 vs the exact top-10 must clear
    the 0.8 floor for EVERY query AND average >= 0.9 (measured min
    0.90 sf0.001 / 1.00 sf0.01 with 2 planes x 12 tables -- the
    synthetic corpus is near-random, so OR-amplification has to carry
    all of the recall: a single 8-plane table measured ~0.1, and the
    0.8-floor config trades bucket selectivity for it, which is the
    honest curve on clusterless data; SCALE.md round-6 notes tabulate
    it). The oracle recomputes the exact side and expects
    recall_ok=TRUE rows."""
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        lsh_tables, lsh_topk_multi,
    )

    e = table(spark, sf_dir, "embeddings")
    q = _query_df(spark, sf_dir, _RECALL_QUERY_IDS)
    tables = lsh_tables(dim=64, n_planes=2, n_tables=12, seed=42)
    return _recall_df(lsh_topk_multi(e, q, tables, k=10), brute_force_topk(e, q, k=10))


@register("q_ann_ivf_recall", oracle=_RECALL_ORACLE, tags=("similarity", "approx"))
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall contract for IVF ANN over 20 fixed query
    vectors (probe-7 of 8 cells for the contract: the near-random
    synthetic corpus gives IVF little cluster structure to exploit, so
    probe-4 dips to 0.5 on individual queries and a FINER 16-cell
    quantizer is strictly worse — min 0.4 at probe-8/16; probe-7/8
    measured min 0.80 sf0.001 / 0.90 sf0.01, mean 0.965/0.985):
    recall@10 vs exact top-10 >= 0.8 per query AND mean >= 0.9,
    oracled like the LSH twin. sf0.001 sits exactly at the floor —
    deterministic data, gate is >=. The scale path (cell-partitioned
    layout, probed-cell pruning) is independent of n_probe and is
    pinned by tests/test_scale_ops.py."""
    from docker_based_real_time_etl_project_spark.operators.similarity import ivf_topk, ivf_train

    e = table(spark, sf_dir, "embeddings")
    q = _query_df(spark, sf_dir, _RECALL_QUERY_IDS)
    centroids = ivf_train(e, n_centroids=8, iters=3)
    return _recall_df(
        ivf_topk(e, q, centroids, n_probe=7, k=10), brute_force_topk(e, q, k=10)
    )


@register("q_ann_ivf", oracle=None, tags=("similarity", "approx"))
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer (8 cells, 3 Lloyd
    rounds), probe-2 search, exact re-rank inside probed cells. At scale
    the corpus is laid out partitioned by cell so each query reads
    n_probe partitions. Rows-only (cell boundaries are engine-side);
    recall vs brute force is pytest-gated."""
    from docker_based_real_time_etl_project_spark.operators.similarity import ivf_topk, ivf_train

    e = table(spark, sf_dir, "embeddings")
    centroids = ivf_train(e, n_centroids=8, iters=3)
    return ivf_topk(e, _query_df(spark, sf_dir), centroids, n_probe=2, k=10)


@register("q_ann_pq_recall", oracle=_RECALL_ORACLE, tags=("similarity", "approx"))
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall contract for product-quantization ANN
    (operators.similarity.pq_train/pq_topk — Jégou et al. 2011): the
    corpus is encoded to 16 one-byte codes (16x compression of the
    64-float vector), candidates are scored ENTIRELY in the compressed
    domain via per-query ADC lookup tables (element_at folds, zero
    Python, zero full-vector reads), and a 150-deep shortlist is
    exactly re-ranked. Same 0.8-floor / 0.9-mean recall@10 gate and
    oracle as the LSH/IVF twins; measured min 0.90 / mean 0.985 at
    sf0.001 and 0.90/0.995 at sf0.01. The clustered-fixture contract
    (tests/test_ann_clustered.py) additionally pins recall 1.0 at a
    3.75% shortlist fraction on data with real cluster structure.

    Scale path: the 100 TB vector column is scanned ONCE to encode;
    search scans the 16-byte codes column (32x less I/O) and re-reads
    original vectors only for shortlist rows. Codebooks train on a
    bounded deterministic sample (the FAISS practice), never the
    corpus."""
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        pq_topk, pq_train,
    )

    e = table(spark, sf_dir, "embeddings")
    q = _query_df(spark, sf_dir, _RECALL_QUERY_IDS)
    books = pq_train(e, m=16, n_codes=16)
    return _recall_df(
        pq_topk(e, q, books, k=10, shortlist=150), brute_force_topk(e, q, k=10)
    )


@register("q_ann_pq", oracle=None, tags=("similarity", "approx"))
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN search output for the 5 fixed query vectors
    (rows-only: code assignments are engine/codebook-side; the recall
    contract above is the oracled gate)."""
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        pq_topk, pq_train,
    )

    e = table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=16, n_codes=16)
    return pq_topk(e, _query_df(spark, sf_dir), books, k=10, shortlist=150)


@register(
    "q_embed_quantize_recall",
    oracle=_RECALL_ORACLE,
    tags=("similarity", "embedding", "quantization"),
)
def q_embed_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does int8 storage cost any retrieval quality? The search-side
    contract for q_embed_quantize_err (embeddings_q): the corpus is
    absmax-quantized to int8 per dimension and DEQUANTIZED for
    scoring (asymmetric search — queries stay full-precision, the
    standard vector-store setup), then the same 0.8-floor / 0.9-mean
    recall@10 gate as the LSH/IVF/PQ twins compares against exact
    brute force. Quantize/dequantize is one zip_with over the vector
    and the broadcast 64-double scale array — JVM-side, no UDF, no
    extra shuffle beyond the dim-sized scale aggregation."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("p", "v")).select(
        "p", F.round(F.col("v").cast("double") * 1e9).cast("bigint").alias("vn")
    )
    scales = (
        flat.groupBy("p")
        .agg(F.greatest(F.max(F.abs("vn")), F.lit(1).cast("bigint")).alias("s"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "s"))),
                lambda x: x["s"].cast("double"),
            ).alias("s_arr")
        )
    )
    dq = e.crossJoin(F.broadcast(scales)).select(
        "vec_id",
        F.zip_with(
            "embedding",
            "s_arr",
            lambda v, s: F.round(
                F.round(v.cast("double") * 1e9) * 127.0 / s
            ) * s / (127.0 * 1e9),
        ).alias("dq_vec"),
    )
    q = _query_df(spark, sf_dir, _RECALL_QUERY_IDS)
    approx = brute_force_topk(dq, q, k=10, vec_col="dq_vec")
    return _recall_df(approx, brute_force_topk(table(spark, sf_dir, "embeddings"), q, k=10))


def _ivf_index_snap(spark: SparkSession, sf_dir: str) -> str:
    """The IVF index PERSISTED AS A SNAPSHOT LAKE TABLE (round-9
    verdict item 8): rows are the corpus assignments (vec_id,
    embedding, _cell) partitioned by cell, and the trained centroid
    matrix rides in the manifest metadata — so the ANN index itself is
    versioned, time-travelable, and maintainable with the lake's own
    DML verbs. History built here:

      v1  full index (snap_init; centroids in ``meta``),
      v2  index maintenance: a merge-on-read DELETE tombstones the
          vectors of dropped documents (O(deleted rows) written, no
          cell rewritten),
      v3  RESTORE to v1 — the roll-back a bad maintenance batch gets.

    The fixture asserts v2 really shrank reads and v3 really restored
    them; q_ann_ivf_persisted then searches the RESTORED version."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_delete_where,
        snap_init,
        snap_read,
        snap_restore,
    )
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        ivf_train,
        nearest_centroids,
    )
    from docker_based_real_time_etl_project_spark.queries.materialize import (
        expect_commit,
        materialize_once,
        table_fingerprint,
    )

    def build() -> str:
        import tempfile

        out = tempfile.mkdtemp(prefix="ivf_index_snap_")
        e = table(spark, sf_dir, "embeddings")
        n_full = e.count()
        centroids = ivf_train(e, n_centroids=8, iters=3)
        assignments = e.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            nearest_centroids(F.col("embedding"), centroids, 1)[0].alias("_cell"),
        )
        v = snap_init(
            spark, assignments, out, "_cell", sort_by=("vec_id",),
            meta={"ivf_centroids": centroids, "ivf_dim": len(centroids[0])},
        )
        expect_commit("q_ann_ivf_persisted", v, 1)
        # v2: maintenance batch tombstones a vector slice (MoR: the
        # delete files are the only bytes written)
        v = snap_delete_where(spark, out, "vec_id % 10 = 3", mode="mor")
        expect_commit("q_ann_ivf_persisted", v, 2)
        n_after = snap_read(spark, out).count()
        if not n_after < n_full:
            raise RuntimeError(
                f"q_ann_ivf_persisted: MoR delete left {n_after} of {n_full} rows"
            )
        # v3: the batch was wrong — roll the index back, zero data I/O
        expect_commit("q_ann_ivf_persisted", snap_restore(spark, out, 1), 3)
        n_restored = snap_read(spark, out).count()
        if n_restored != n_full:
            raise RuntimeError(
                f"q_ann_ivf_persisted: restore read {n_restored} rows, not {n_full}"
            )
        return out

    return materialize_once(
        ("ivf_index_snap", sf_dir, table_fingerprint(sf_dir, "embeddings")),
        build,
    )


def _ivf_topk_persisted(
    spark: SparkSession, path: str, query_df: DataFrame,
    n_probe: int = 7, k: int = 10,
) -> DataFrame:
    """IVF search against the PERSISTED index table: centroids come
    from the manifest, assignments from a snap_read PRUNED TO THE
    PROBED CELLS — the manifest names each cell-partition's files, so
    a query opens n_probe cells' files and never rescans or re-assigns
    the corpus. This is the at-scale read path the in-memory ivf_topk
    documents aspirationally; here it is real and metadata-bounded."""
    from pyspark.sql import Window

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_meta,
        snap_read,
    )
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        cosine,
        nearest_centroids,
    )

    centroids = snap_meta(path)["ivf_centroids"]
    probes = query_df.select(
        "q_id",
        "q_vec",
        F.explode(
            nearest_centroids(F.col("q_vec"), centroids, n_probe)
        ).alias("_cell"),
    )
    cells = sorted({r[0] for r in probes.select("_cell").distinct().collect()})
    corpus = snap_read(spark, path, partitions=[str(c) for c in cells])
    scored = corpus.join(F.broadcast(probes), "_cell").select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("q_vec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cosine_sim", "rnk")
    )


@register("q_ann_ivf_persisted", oracle=_RECALL_ORACLE, tags=("similarity", "approx", "lakesnap"))
def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the index PERSISTED as a snapshot lake table,
    probing a RESTORED historical index version: the fixture commits
    v1 full index -> v2 merge-on-read tombstone batch -> v3 RESTORE to
    v1, and the search runs against latest (= the restored full
    index), reading centroids from the manifest and ONLY the probed
    cells' files via manifest partition pruning (no corpus rescan, no
    re-assignment — the assignments are the table). Same recall@10
    gate and oracle as q_ann_ivf_recall (floor 0.8 per query, mean >=
    0.9): the gate passing against brute force over the FULL corpus
    proves the restore actually brought the tombstoned vectors back —
    a stale v2 read would lose ~10% of every cell and fail the mean
    gate on this near-random corpus."""
    path = _ivf_index_snap(spark, sf_dir)
    q = _query_df(spark, sf_dir, _RECALL_QUERY_IDS)
    approx = _ivf_topk_persisted(spark, path, q, n_probe=7, k=10)
    exact = brute_force_topk(table(spark, sf_dir, "embeddings"), q, k=10)
    return _recall_df(approx, exact)


def _ivf_stream_lake(spark: SparkSession, sf_dir: str) -> str:
    """The IVF index maintained by CONTINUOUS VECTOR INGEST: vectors
    replay as an 8-micro-batch stream (vec_id order) and a
    foreachBatch sink commits each batch as one snapshot version —
    batch 0 seeds the centroids from the 8 lowest vec_ids it carries
    (the deterministic seed rule; training is deferred — a production
    ingest path assigns against FIXED centroids rather than
    retraining), stores them in the manifest meta, and snap_inits its
    assignments;
    every later batch reads the centroids back from the manifest,
    assigns its own vectors, and MoR-append-merges O(batch) rows. The
    batch_id idempotence ledger guards the at-least-once seam."""
    import os

    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_init,
        snap_merge,
        snap_meta,
        snap_versions,
    )
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        nearest_centroids,
    )
    from docker_based_real_time_etl_project_spark.queries.materialize import (
        materialize_once,
        table_fingerprint,
    )
    from docker_based_real_time_etl_project_spark.streaming.replay import (
        replay_table,
        slice_table_to_dir,
    )

    def build() -> str:
        import tempfile

        lake = tempfile.mkdtemp(prefix="ivf_stream_lake_")

        def sink(batch_df, batch_id: int) -> None:
            s = batch_df.sparkSession
            if snap_versions(lake):
                m = snap_meta(lake)
                last = m.get("batch_id")
                if last is not None and batch_id <= last:
                    return
                cents = m["ivf_centroids"]
                rows = batch_df.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                    nearest_centroids(
                        F.col("embedding").cast("array<double>"), cents, 1
                    )[0].alias("_cell"),
                )
                snap_merge(
                    s, lake, rows, key_cols=("vec_id",), mode="mor",
                    meta={"batch_id": batch_id},
                )
            else:
                # first batch: the 8 lowest arriving vec_ids ARE the
                # centroids (vec_id-ordered slicing guarantees they
                # arrive first) — fixed for the stream's lifetime
                cents = [
                    [float(x) for x in r["embedding"]]
                    for r in batch_df.filter(F.col("vec_id") < 8)
                    .orderBy("vec_id")
                    .collect()
                ]
                assert len(cents) == 8, len(cents)
                rows = batch_df.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                    nearest_centroids(
                        F.col("embedding").cast("array<double>"), cents, 1
                    )[0].alias("_cell"),
                )
                snap_init(
                    s, rows, lake, "_cell", sort_by=("vec_id",),
                    meta={
                        "ivf_centroids": cents,
                        "ivf_dim": len(cents[0]),
                        "batch_id": batch_id,
                    },
                )

        slices = materialize_once(
            ("emb_slices", sf_dir, 8, table_fingerprint(sf_dir, "embeddings")),
            lambda: slice_table_to_dir(
                spark, sf_dir, "embeddings", "vec_id", n_slices=8
            ),
        )
        q = (
            replay_table(spark, slices, "embeddings")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(lake, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)
        return lake

    return materialize_once(
        ("ivf_stream_lake", sf_dir, table_fingerprint(sf_dir, "embeddings")),
        build,
    )


@register(
    "q_stream_ann_ivf_maintain",
    oracle=_RECALL_ORACLE,
    tags=("similarity", "approx", "streaming", "lakesnap"),
)
def q_stream_ann_ivf_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX MAINTENANCE UNDER CONTINUOUS VECTOR INGEST — the IVF
    twin of q_stream_lsh_index_maintain: vectors arrive over 8
    micro-batches, the first batch fixes the centroids (its 8 lowest
    ids — the production pattern where ingest ASSIGNS against frozen
    centroids rather than retraining), each batch's assignments commit
    as one MoR snapshot version with O(batch) write I/O, and the
    search runs against the final version's cell partitions with the
    same recall contract as the batch-built index (floor 0.8 per
    query, mean >= 0.9 vs full-corpus brute force). Passing the gate
    proves the cell layout an incrementally-maintained, never-retrained
    index accumulates still serves production-recall ANN — and that
    all eight commits actually landed (a lost batch would drop its
    vectors from every ranking and fail the mean gate)."""
    path = _ivf_stream_lake(spark, sf_dir)
    q = _query_df(spark, sf_dir, _RECALL_QUERY_IDS)
    approx = _ivf_topk_persisted(spark, path, q, n_probe=7, k=10)
    exact = brute_force_topk(table(spark, sf_dir, "embeddings"), q, k=10)
    return _recall_df(approx, exact)
