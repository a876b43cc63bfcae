"""Text-analysis surface on the documents table (north-star: the text
half of a training-data pipeline -- SURVEY.md 2.4 last rows).

language-ID (stopword-ratio heuristic), quality scoring, token
counting (whitespace + regex), fingerprinting (md5 -- cross-engine
deterministic, unlike murmur/xxhash), tokenize+count. All pure
built-ins; per-document work is embarrassingly parallel and the
aggregates shuffle only small key spaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docker_based_real_time_etl_project_spark.queries.registry import davg, dsum, register, sql_davg, sql_dsum, table

# tiny deterministic English-stopword list shared verbatim with the oracle SQL
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@register(
    "q_text_tokenize",
    oracle="""
    SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("text",),
)
def q_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + explode + word count: the inverted-index / vocabulary
    primitive. Map-side partial counts keep the shuffle at vocabulary
    size, not corpus size."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@register(
    "q_doc_stats",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           {sql_davg('n_chars')} AS avg_chars,
           {sql_dsum("len(string_split(text, ' '))")} AS total_tokens,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("text",),
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc counts, char stats, token
    totals."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars").alias("avg_chars"),
        dsum(F.size(F.split("text", " ")).cast("double")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
    tags=("text",),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex pass
    (alpha runs + digit runs) -- the per-document token-budget primitive."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+"), 0)).alias("re_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


@register(
    "q_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_declared,
           ROUND(len(list_filter(string_split(text, ' '), w -> list_contains({_SW_SQL}, w)))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS en_stopword_ratio,
           CASE WHEN len(list_filter(string_split(text, ' '), w -> list_contains({_SW_SQL}, w)))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM documents
    """,
    tags=("text",),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English-stopword token ratio with a fixed
    threshold. (A real n-gram model is a broadcast lookup + the same
    ratio shape -- this declares the operator; the word-soup fixture has
    no genuinely foreign text to discriminate.)"""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_sw = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    ratio = n_sw / F.size(words).cast("double")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        F.round(ratio, 6).alias("en_stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_guess"),
    )


@register(
    "q_quality_score",
    oracle=r"""
    SELECT doc_id,
           n_tokens,
           ROUND(avg_word_len, 6) AS avg_word_len,
           ROUND(punct_ratio, 6) AS punct_ratio,
           CASE WHEN n_tokens BETWEEN 20 AND 10000
                 AND avg_word_len BETWEEN 2 AND 12
                 AND punct_ratio < 0.2 THEN 1 ELSE 0 END AS passes_quality
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS avg_word_len,
             (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
               / CAST(length(text) AS DOUBLE) AS punct_ratio
      FROM documents)
    """,
    tags=("text",),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality gate: token count, mean word length, punctuation
    ratio -> boolean keep/drop -- the pre-training filter primitive."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    avg_word_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens.cast("double")
    punct_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", r"[^a-z0-9 ]", ""))
    ) / F.length("text").cast("double")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.when(
            n_tokens.between(20, 10000)
            & avg_word_len.between(2, 12)
            & (punct_ratio < 0.2),
            1,
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_md5,
           md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp_normalized
    FROM documents
    """,
    tags=("text", "dedup"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: raw md5 + whitespace/case-normalized md5
    (md5 is identical across engines; murmur/xxhash are not, so those
    power the rows-only sketch operators instead)."""
    d = table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace("text", " +", " ")))
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_md5"),
        F.md5(normalized.cast("binary")).alias("fp_normalized"),
    )


@register(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM tok WHERE word <> '' GROUP BY doc_id, word
    ),
    dfreq AS (
      SELECT word, COUNT(*) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
             CAST(ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) * 1000000)
                  AS BIGINT) AS tfidf_micro
      FROM tf JOIN dfreq USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, tfidf_micro, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_micro DESC, tf DESC, word) AS rnk
      FROM scored)
    WHERE rnk <= 3
    """,
    tags=("text",),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document by
    tf * ln(N/df). The score is emitted (and ranked) as integer
    micro-units: per-row double arithmetic is bit-deterministic, but
    ln() may differ by 1 ulp across engines, so ranking on the raw
    double could flip mathematically-tied scores (e.g. tf=2,df=N/2 vs
    tf=1,df=N/4); snapping to 1e-6 collapses ulp noise and the
    (tf, word) tiebreaks make the order total. Shuffles: tf groupBy on
    (doc, word), df groupBy on word (vocabulary-sized), one broadcast
    of the doc count -- corpus-linear, no all-pairs anything."""
    from docker_based_real_time_etl_project_spark.operators.dedup import (
        spread_compact,
    )

    d = spread_compact(table(spark, sf_dir, "documents"), "doc_id")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf_micro",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")) * 1e6
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_micro").desc(), F.col("tf").desc(), F.col("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf_micro", "rnk")
    )


# BM25 query set: literal and shared verbatim with the oracle SQL (a
# retrieval benchmark's query file; terms drawn from the corpus vocab)
_BM25_QUERIES = (
    (1, "hash join"),
    (2, "window agg stream"),
    (3, "customer order query"),
    (4, "fast scan filter"),
    (5, "merge batch spark"),
    (6, "vector column data"),
)
_BM25_QUERIES_SQL = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)

# The shared BM25 CTE chain (expects a preceding ``qterm(query_id,
# word)`` CTE naming each query's distinct terms); used verbatim by
# the q_bm25_topk oracle and the hybrid-fusion oracle so the scoring
# restatement cannot drift between them.  The per-term expression's
# IEEE association mirrors the Spark side exactly — idf * (num/denom)
# then * 1e6 — so the micro-unit rounding can never flip by 1 ulp.
_BM25_CTES = """
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM tok WHERE word <> '' GROUP BY doc_id, word
    ),
    dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok WHERE word <> '' GROUP BY doc_id
    ),
    dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
               / (SELECT COUNT(*) FROM documents) AS avgdl
    ),
    term_scores AS (
      SELECT qterm.query_id, tf.doc_id,
             CAST(ROUND(
               ln(1e0 + (stats.n_docs - dfreq.df + 0.5e0) / (dfreq.df + 0.5e0))
               * ((tf.tf * 2.2e0)
                  / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / stats.avgdl)))
               * 1000000) AS BIGINT) AS term_micro
      FROM qterm
      JOIN tf USING (word)
      JOIN dfreq USING (word)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT query_id, doc_id,
             COUNT(*) AS n_terms,
             CAST(SUM(term_micro) AS BIGINT) AS score_micro
      FROM term_scores GROUP BY query_id, doc_id
    )"""


def _bm25_scores(d: DataFrame, qterms: DataFrame) -> DataFrame:
    """(query_id, doc_id, n_terms, score_micro) for every document
    matching any of ``qterms`` (query_id, word) — the Spark half of
    _BM25_CTES, shared by q_bm25_topk and the hybrid fusion. The query
    vocabulary broadcasts twice: first pruning the vocabulary-sized df
    table, then carrying the pruned (word, df, query_id) into the
    (doc, word) postings — the full vocab never ships, and the only
    corpus-sized shuffles are the tf/doclen groupBys an index build
    pays once."""
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.sum("dl").alias("_tot"))
    ).select(
        "n_docs",
        (F.col("_tot").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfnorm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    qstats = dfreq.join(F.broadcast(qterms), "word")
    term_scores = (
        tf.join(F.broadcast(qstats), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tfnorm * 1e6).cast("bigint").alias("term_micro"),
        )
    )
    return term_scores.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("term_micro").cast("bigint").alias("score_micro"),
    )


# One oracle for BOTH the from-scratch q_bm25_topk and the
# lake-persisted q_bm25_index_persisted: the index is an ACCESS PATH,
# never a semantics change, so both must hash to the same truth.
_BM25_TOPK_ORACLE = f"""
    WITH q AS (
      SELECT * FROM (VALUES {_BM25_QUERIES_SQL}) v(query_id, qtext)
    ),
    qterm AS (
      SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS word FROM q
    ),{_BM25_CTES}
    SELECT query_id, doc_id, n_terms, score_micro, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score_micro DESC, doc_id) AS rnk
      FROM scored)
    WHERE rnk <= 10
    """


@register(
    "q_bm25_topk",
    oracle=_BM25_TOPK_ORACLE,
    tags=("text", "retrieval"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson k1=1.2 b=0.75, Lucene's
    ln(1+(N-df+.5)/(df+.5)) IDF): top-10 documents per benchmark query
    -- the retrieval primitive behind retrieval-based contamination
    checks and quality-by-retrievability audits on a training corpus.

    Determinism: each (term, doc) partial score is snapped to integer
    micro-units BEFORE the per-(query, doc) sum (the q_tfidf ladder --
    per-row double arithmetic is bit-deterministic, double SUM order is
    not, integer SUM is exact), and the rank order carries a doc_id
    tiebreak, so the top-10 is total across engines.

    Scale: a POSTINGS join, never doc x query -- the broadcast query
    vocabulary prunes the (doc, word) postings to matching terms
    before anything wide happens, df is vocabulary-sized and
    broadcast, and the only corpus-sized shuffles are the tf/doclen
    groupBys every index build pays once. At 100 TB the postings for
    a bounded query set are a vanishing fraction of the corpus."""
    d = table(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        sorted(
            {(qid, w) for qid, text in _BM25_QUERIES for w in text.split(" ")}
        ),
        "query_id int, word string",
    )
    scored = _bm25_scores(d, qterms)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "doc_id", "n_terms", "score_micro", "rnk")
    )


_BM25_NB = 64       # FLOOR bucket count (shipped-SF layouts keep it)
_BM25_DOCS_PER_BKT = 512


def _bm25_nb(sf_dir: str) -> int:
    """Data-derived bucket count for the persisted postings layout:
    next-pow2(n_docs / 512), floored at _BM25_NB — the
    adaptive_bucket_s discipline applied to index partitioning. A
    parquet-footer row count (no scan) sizes the layout so a bucket
    stays file-pruneable at any corpus scale: 500 k docs -> 1024
    buckets, shipped SFs (<= 5 k docs) resolve to exactly the
    round-13 constant, so shipped layouts and hash gates are
    unchanged (pinned in tests). The chosen value is persisted in
    the index manifest meta — the serve path reads it from there,
    never re-derives, so build/serve can never disagree."""
    from docker_based_real_time_etl_project_spark.queries.materialize import (
        buckets_for, table_rows,
    )

    return buckets_for(
        table_rows(sf_dir, "documents"), _BM25_DOCS_PER_BKT, _BM25_NB
    )


def _bm25_postings(docs: DataFrame, nb: int = _BM25_NB) -> DataFrame:
    """(word, doc_id, tf, dl, bucket) postings rows for ``docs`` — the
    persisted-index row format. ``dl`` rides every posting row
    (Lucene-norm denormalization): the query path then needs ONE table,
    and a document's postings are self-contained, so appending or
    tombstoning a doc touches exactly its own rows. ``bucket`` is the
    term-hash partition key (stable under any corpus change: a key's
    partition is a function of the word alone — the immutable-
    partition-key contract snap_merge requires)."""
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return tf.join(dl, "doc_id").select(
        "word", "doc_id", "tf", "dl",
        F.pmod(F.xxhash64("word"), F.lit(nb)).alias("bucket"),
    )


def _bm25_index_snap(spark: SparkSession, sf_dir: str) -> str:
    """The BM25 inverted index PERSISTED as a versioned snapshot lake
    table (the q_ann_ivf_persisted discipline applied to retrieval):
    postings partitioned by term-hash bucket, corpus stats (N, total
    doc length) in the manifest meta, maintained by MoR MERGE — an
    index you MAINTAIN on corpus changes, never rebuild.

    Version history the fixture commits:
      v1  init with 90% of the corpus (doc_id % 10 != 7);
      v2  MoR MERGE appending the held-out docs' postings — write I/O
          is O(the new docs' postings), no partition rewritten, and the
          meta overlay advances N/total-dl to full-corpus values;
      v3  a WRONG maintenance batch: MoR tombstones of the %10==3
          docs' postings (delete files only) with a correspondingly
          shrunk meta overlay;
      v4  RESTORE to v2 — zero data I/O, full corpus back, v2's meta
          (including the corpus stats) back with it.
    The registered query searches latest (= restored v2): hash-parity
    against the from-scratch oracle proves both the append merge and
    the restore.

    Build cost (round 15, guide §6 compute-once): the three version
    payloads used to each run _bm25_postings from the raw documents
    (three tokenize + tf/dl aggregation passes over overlapping corpus
    slices) and each version's meta paid its own _bm25_corpus_stats
    scan (three more). Now the full-corpus postings are computed ONCE
    and checkpointed, a narrow per-doc (doc_id, dl) table — which,
    unlike the postings, keeps a row for token-free docs, matching the
    stats' COUNT(*) contract — is computed ONCE, and every version
    payload / meta overlay is a doc_id filter or a two-scalar
    aggregate over those materializations. Postings are per-doc
    independent (tf, dl, bucket are functions of the doc's own text
    and the word), so a slice of the full-corpus postings equals the
    postings of the slice — versions and serve hashes unchanged."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_init,
        snap_merge,
        snap_restore,
    )
    from docker_based_real_time_etl_project_spark.queries.materialize import (
        expect_commit,
        materialize_once,
        table_fingerprint,
    )

    def build() -> str:
        import tempfile

        out = tempfile.mkdtemp(prefix="sg_bm25_index_")
        nb = _bm25_nb(sf_dir)
        d = table(spark, sf_dir, "documents")
        post = _bm25_postings(d, nb).localCheckpoint(eager=True)
        dls = d.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda w: w != ""))
            .cast("bigint").alias("dl"),
        ).localCheckpoint(eager=True)

        def stats(pred: str | None) -> dict:
            sl = dls.filter(pred) if pred else dls
            row = sl.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
            ).head()
            return {
                "bm25_n_docs": int(row["n"]),
                "bm25_tot_dl": int(row["t"] or 0),
            }

        v = snap_init(
            spark,
            post.filter("doc_id % 10 != 7"),
            out,
            "bucket",
            sort_by=("word", "doc_id"),
            meta={**stats("doc_id % 10 != 7"), "bm25_nb": nb},
        )
        expect_commit("q_bm25_index_persisted", v, 1)
        v = snap_merge(
            spark,
            out,
            post.filter("doc_id % 10 = 7"),
            key_cols=("word", "doc_id"),
            mode="mor",
            meta={**stats(None), "bm25_nb": nb},
        )
        expect_commit("q_bm25_index_persisted", v, 2)
        wrong = post.filter("doc_id % 10 = 3").withColumn(
            "_del", F.lit(True)
        )
        v = snap_merge(
            spark,
            out,
            wrong,
            key_cols=("word", "doc_id"),
            delete_col="_del",
            mode="mor",
            meta={**stats("doc_id % 10 != 3"), "bm25_nb": nb},
        )
        expect_commit("q_bm25_index_persisted", v, 3)
        expect_commit("q_bm25_index_persisted", snap_restore(spark, out, 2), 4)
        return out

    return materialize_once(
        ("bm25_index_snap", sf_dir, _bm25_nb(sf_dir),
         table_fingerprint(sf_dir, "documents")),
        build,
    )


def _bm25_topk_persisted(
    spark: SparkSession, path: str, qterms: DataFrame, k: int = 10
) -> DataFrame:
    """BM25 search against the PERSISTED index: corpus stats come from
    the manifest, postings from a snap_read PRUNED TO THE QUERY TERMS'
    BUCKETS — the manifest names each bucket-partition's files, so a
    query opens at most |query vocabulary| of the 64 buckets and
    never rescans or re-tokenizes the corpus. df needs no stored rows:
    the pruned read already holds EVERY posting of every query term
    (bucket pruning is by term hash, then the exact word equi-join),
    so the per-word row count IS the document frequency — exact, and
    consistent with the postings by construction even mid-maintenance.

    Determinism: the scoring expression tree is _bm25_scores' verbatim
    — idf * ((tf*2.2)/denom) then *1e6, rounded to integer micro-units
    per (term, doc) BEFORE the integer sum — with N as an integer
    literal and avgdl as the same IEEE double division the from-scratch
    plan computes (exact int→double conversions below 2^53, one
    correctly-rounded divide: bit-equal by construction)."""
    from docker_based_real_time_etl_project_spark.lakesnap import (
        snap_meta,
        snap_read,
    )

    m = snap_meta(path)
    n_docs, tot_dl = m["bm25_n_docs"], m["bm25_tot_dl"]
    nb = int(m.get("bm25_nb", _BM25_NB))  # the layout the index was built with
    buckets = sorted(
        str(r[0])
        for r in qterms.select(
            F.pmod(F.xxhash64("word"), F.lit(nb)).alias("b")
        ).distinct().collect()
    )
    qwords = qterms.select("word").distinct()
    matched = snap_read(spark, path, partitions=buckets).join(
        F.broadcast(qwords), "word"
    )
    dfreq = matched.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    avgdl = tot_dl / n_docs  # IEEE: int→double exact, one rounded divide
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfnorm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.lit(avgdl))
    )
    qstats = dfreq.join(F.broadcast(qterms), "word")
    term_scores = matched.join(F.broadcast(qstats), "word").select(
        "query_id",
        "doc_id",
        F.round(idf * tfnorm * 1e6).cast("bigint").alias("term_micro"),
    )
    scored = term_scores.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("term_micro").cast("bigint").alias("score_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "n_terms", "score_micro", "rnk")
    )


@register(
    "q_bm25_index_persisted",
    oracle=_BM25_TOPK_ORACLE,
    tags=("text", "retrieval", "lakesnap", "scale"),
)
def q_bm25_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 served from the MAINTAINED lake index rather than a
    corpus scan: the inverted index lives as a snapshot table
    (postings partitioned by term-hash bucket, N/total-doclen in the
    manifest meta), built 90%-init → MoR append of the rest → a wrong
    MoR tombstone batch → RESTORE, and searched at latest (= the
    restored full index). Shares q_bm25_topk's oracle VERBATIM: the
    production retrieval pattern is an index you maintain on corpus
    changes, and maintenance must never move a score — hash-parity
    against the from-scratch truth proves the append merge carried the
    new docs' postings AND stats, and the restore brought the
    tombstoned ones back (a stale v3 read would lose every %10==3 doc
    from the rankings).

    Scale: query-side reads open ONLY the query terms' buckets via
    manifest partition pruning (files-opened pinned in
    tests/test_scale_ops.py) — at 100 TB the corpus-sized work is the
    index build paid once, then each corpus delta pays O(its own
    postings) and each query O(its terms' postings)."""
    path = _bm25_index_snap(spark, sf_dir)
    qterms = spark.createDataFrame(
        sorted(
            {(qid, w) for qid, text in _BM25_QUERIES for w in text.split(" ")}
        ),
        "query_id int, word string",
    )
    return _bm25_topk_persisted(spark, path, qterms, k=10)


# Hybrid retrieval probes: query-by-example docs (vec_id == doc_id in
# the synthetic corpus), same ids as q_cosine_topk's query set
_RRF_PROBES = (0, 100, 200, 300, 400)
_RRF_IDS_SQL = "(" + ", ".join(str(i) for i in _RRF_PROBES) + ")"
_RRF_K_ARM = 50   # per-arm candidate depth before fusion
_RRF_C = 60       # the standard RRF constant
_RRF_SCALE = 1_000_000_000  # nano-units: 1e9 DIV (c + rank) stays integer


@register(
    "q_hybrid_rrf",
    oracle=f"""
    WITH qterm AS (
      SELECT DISTINCT query_id, word FROM (
        SELECT doc_id AS query_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id IN {_RRF_IDS_SQL})
      WHERE word <> ''
    ),{_BM25_CTES},
    sparse AS (
      SELECT query_id, doc_id, rnk AS s_rnk FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, doc_id) AS rnk
        FROM scored WHERE doc_id <> query_id)
      WHERE rnk <= {_RRF_K_ARM}
    ),
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v
           WHERE vec_id IN {_RRF_IDS_SQL}),
    dense AS (
      SELECT query_id, doc_id, rnk AS d_rnk FROM (
        SELECT qv.query_id, v.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qv.query_id
                 ORDER BY ROUND(list_dot_product(v.e, qv.qe)
                       / (sqrt(list_dot_product(v.e, v.e))
                          * sqrt(list_dot_product(qv.qe, qv.qe))), 6) DESC,
                 v.vec_id) AS rnk
        FROM v, qv WHERE v.vec_id <> qv.query_id)
      WHERE rnk <= {_RRF_K_ARM}
    ),
    fused AS (
      SELECT COALESCE(s.query_id, d.query_id) AS query_id,
             COALESCE(s.doc_id, d.doc_id) AS doc_id,
             CAST(COALESCE({_RRF_SCALE} // ({_RRF_C} + s.s_rnk), 0)
                  + COALESCE({_RRF_SCALE} // ({_RRF_C} + d.d_rnk), 0)
                  AS BIGINT) AS rrf_nano,
             CAST(COALESCE(s.s_rnk, 0) AS BIGINT) AS sparse_rnk,
             CAST(COALESCE(d.d_rnk, 0) AS BIGINT) AS dense_rnk
      FROM sparse s FULL OUTER JOIN dense d
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_nano, sparse_rnk, dense_rnk, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_nano DESC, doc_id) AS rnk
      FROM fused)
    WHERE rnk <= 10
    """,
    tags=("text", "retrieval", "similarity"),
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SPARSE+DENSE RETRIEVAL with reciprocal-rank fusion: for
    five query-by-example documents, the BM25 arm (the probe doc's
    distinct terms as the query, shared _bm25_scores postings plan)
    and the dense arm (exact cosine over the aligned embedding table)
    each produce a top-{_RRF_K_ARM} candidate list, fused by
    RRF(d) = sum over arms of 1/(c + rank_arm(d)) — the standard
    ensemble for lexical+semantic search (and the retrieval front of a
    contamination/decontamination pipeline, where a doc caught by
    EITHER surface overlap or embedding similarity must surface).

    Determinism: each arm's rank carries a doc_id tiebreak (cosine
    rounded to 6dp first, BM25 already integer micro-units), and the
    fusion weight is computed as {_RRF_SCALE} DIV (c + rank) —
    integer — then integer-summed, so the fused order is total and
    engine-independent. Absent-from-arm contributes 0 (rank recorded
    as 0 = 'not in this arm's top-k').

    Scale: the sparse arm is the BM25 postings join (query vocab
    broadcast, corpus-linear); the dense arm is the exact brute-force
    baseline (corpus-linear per probe — swap in the IVF/LSH variants
    for sublinear probes); fusion itself joins two {_RRF_K_ARM}-row
    lists per query."""
    d = table(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id").isin(list(_RRF_PROBES)))
    qterms = (
        probes.select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("text", " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    sparse = (
        _bm25_scores(d, qterms)
        .filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("s_rnk", F.row_number().over(w_s))
        .filter(F.col("s_rnk") <= _RRF_K_ARM)
        .select("query_id", "doc_id", "s_rnk")
    )
    from docker_based_real_time_etl_project_spark.operators.similarity import (
        cosine,
    )

    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id").isin(list(_RRF_PROBES))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    w_d = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    dense = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("q_vec")), 6).alias("cos"),
        )
        .withColumn("d_rnk", F.row_number().over(w_d))
        .filter(F.col("d_rnk") <= _RRF_K_ARM)
        .select("query_id", "doc_id", "d_rnk")
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                F.expr(f"{_RRF_SCALE} DIV ({_RRF_C} + s_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} DIV ({_RRF_C} + d_rnk)"), F.lit(0)
            )
        ).cast("bigint").alias("rrf_nano"),
        F.coalesce("s_rnk", F.lit(0)).cast("bigint").alias("sparse_rnk"),
        F.coalesce("d_rnk", F.lit(0)).cast("bigint").alias("dense_rnk"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_nano").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w_f))
        .filter(F.col("rnk") <= 10)
        .select(
            "query_id", "doc_id", "rrf_nano", "sparse_rnk", "dense_rnk", "rnk"
        )
    )


@register(
    "q_corpus_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS n_tokens,
             length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS awl,
             (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
               / CAST(length(text) AS DOUBLE) AS punct
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 20 AND 10000 AND awl BETWEEN 2 AND 12 AND punct < 0.2
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    ),
    split AS (
      SELECT doc_id, lang, source, n_tokens,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 < 9000
                  THEN 'train' ELSE 'eval' END AS split
      FROM deduped
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM split
    GROUP BY split, lang
    """,
    tags=("text", "pipeline"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the whole pretraining-corpus prep as ONE declarative
    plan -- quality gate (token count / word length / punctuation) ->
    exact dedup keeping the smallest doc_id per content hash ->
    deterministic hash split -> per-(split, lang) token accounting.
    Catalyst fuses the filters into the scan and the pipeline runs in
    two shuffles total (dedup window, final aggregate); every stage is
    the operator form proven by its standalone query (q_quality_score,
    q_dedup_exact, q_sample_split)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens.cast("double")
    punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[^a-z0-9 ]", ""))
    ) / F.length("text").cast("double")
    kept = d.select(
        "doc_id", "lang", "source", "text", n_tokens.cast("bigint").alias("n_tokens")
    ).filter(
        n_tokens.between(20, 10000) & awl.between(2, 12) & (punct < 0.2)
    )
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    ticket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    split = deduped.select(
        "doc_id", "lang", "source", "n_tokens",
        F.when(ticket < 9000, "train").otherwise("eval").alias("split"),
    )
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "q_quality_corpus_freq",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
    SELECT t.doc_id,
           COUNT(*) AS n_tok,
           CAST(MIN(tf.c) AS BIGINT) AS min_tok_freq,
           CAST(SUM(tf.c) AS BIGINT) AS sum_tok_freq,
           ROUND(CAST(SUM(tf.c) AS DOUBLE) / COUNT(*), 6) AS mean_tok_freq
    FROM toks t JOIN tf ON t.tok = tf.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "llm"),
)
def q_quality_corpus_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality proxy (the integer-exact stand-in for
    CCNet-style LM-perplexity filtering): per document, the mean and
    minimum CORPUS frequency of its token occurrences. Gibberish and
    OCR noise score low (their tokens barely occur elsewhere); fluent
    prose scores high. Unlike q_quality_score's per-doc surface
    statistics, this score is relative to the whole corpus.

    Exactness: all counts are integers; the single division happens
    once per output row on exact longs (IEEE-identical across
    engines), so no log()/float-accumulation divergence — the reason
    the score is frequency, not log-probability.

    Plan shape: one explode + token hash-count (map-side partials),
    one join of occurrences against the vocabulary (at 100 TB both
    sides hash-partition on the token; the vocabulary side is Zipf
    but the JOIN is keyed by token only to attach one counter — a
    hot token's postings stay distributed across its occurrences'
    partitions after the join), one per-doc aggregate."""
    from docker_based_real_time_etl_project_spark.operators.dedup import tokens

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(tf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.min("c").alias("min_tok_freq"),
            F.sum("c").alias("sum_tok_freq"),
            F.round(F.sum("c") / F.count(F.lit(1)), 6).alias("mean_tok_freq"),
        )
    )


@register(
    "q_lm_perplexity",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(w) AS t FROM ws),
    uni AS (SELECT t AS a, COUNT(*) AS c1 FROM tok GROUP BY t),
    voc AS (SELECT COUNT(*) AS v FROM uni),
    bi AS (
      SELECT doc_id, p[1] AS a, p[2] AS b
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(w) - 1, 0)),
                 i -> [w[i], w[i + 1]]
               )) AS p
        FROM ws
      )
    ),
    big2 AS (SELECT a, b, COUNT(*) AS c2 FROM bi GROUP BY a, b),
    cost AS (
      SELECT big2.a, big2.b,
             CAST(ROUND(-ln((big2.c2 + 1.0) / (uni.c1 + voc.v)) * 1000000)
                  AS BIGINT) AS cost_micro
      FROM big2 JOIN uni ON big2.a = uni.a CROSS JOIN voc
    ),
    occ AS (SELECT doc_id, a, b, COUNT(*) AS n_occ FROM bi GROUP BY doc_id, a, b)
    SELECT occ.doc_id,
           CAST(SUM(occ.n_occ) AS BIGINT) AS n_bigrams,
           CAST(SUM(occ.n_occ * cost.cost_micro) // SUM(occ.n_occ) AS BIGINT)
             AS nll_micro
    FROM occ JOIN cost ON occ.a = cost.a AND occ.b = cost.b
    GROUP BY occ.doc_id
    """,
    tags=("text", "llm"),
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style fluency scoring with a corpus-trained bigram LM
    (the CCNet / GPT-3 pipeline quality filter, with the corpus itself
    as the LM training set): P(b|a) = (c(a,b)+1) / (c(a)+V) with
    add-one smoothing, per-doc score = mean negative log-prob over the
    doc's bigrams, in integer micro-units. Gibberish and boilerplate
    spike the score; fluent in-domain prose sits low — at 100 TB this
    is the cheap LM stand-in run BEFORE paying for a neural scorer.

    Exactness discipline (the q_tfidf ladder, extended to sums): each
    DISTINCT bigram's -ln P is snapped to micro-units ONCE
    (vocab-sized table, per-row double arithmetic, ulp-stable), and
    everything per-doc is integer: occurrence-weighted integer sum,
    integer `div` mean — so cross-row float accumulation order can
    never flip a hash. Shuffles: unigram groupBy (vocab), bigram
    groupBy (bigram vocab), doc-bigram groupBy (corpus-linear), one
    broadcast V — no all-pairs anything; docs with <2 tokens have no
    bigrams and are absent by construction."""
    d = table(spark, sf_dir, "documents")
    ws = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: w != "").alias("w"),
    )
    tok = ws.select("doc_id", F.explode("w").alias("t"))
    uni = tok.groupBy(F.col("t").alias("a")).agg(F.count(F.lit(1)).alias("c1"))
    voc = uni.agg(F.count(F.lit(1)).alias("v"))
    # NB: Spark's sequence(1, 0) is DESCENDING ([1, 0]), not empty, so
    # the <2-token case must be guarded explicitly or element_at walks
    # off the array (pinned by test_lm_perplexity_ranks_fluency).
    bi = ws.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"
                ),
            ).otherwise(F.expr("CAST(array() AS array<struct<a:string,b:string>>)"))
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    big2 = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    cost = (
        big2.join(uni, "a")
        .crossJoin(F.broadcast(voc))
        .select(
            "a",
            "b",
            F.round(
                -F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))) * 1e6
            )
            .cast("bigint")
            .alias("cost_micro"),
        )
    )
    occ = bi.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        occ.join(cost, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_bigrams"),
            F.expr("sum(n_occ * cost_micro) div sum(n_occ)")
            .cast("bigint")
            .alias("nll_micro"),
        )
    )


# Phrase-search benchmark queries: exact 2-word phrases over the
# corpus vocabulary (adjacency, not bag-of-words — the inverted-index
# workload BM25's unordered postings cannot answer).
_PHRASES = (
    (1, "batch", "merge"),
    (2, "fast", "scan"),
    (3, "spark", "join"),
    (4, "the", "customer"),
)
_PHRASES_SQL = ", ".join(f"({i}, '{x}', '{y}')" for i, x, y in _PHRASES)


@register(
    "q_phrase_search",
    oracle=f"""
    WITH p AS (SELECT * FROM (VALUES {_PHRASES_SQL}) v(phrase_id, x, y)),
    toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    pos AS (
      SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM toks
      WHERE len(l) >= 2
    ),
    hits AS (
      SELECT p.phrase_id, pos.doc_id, COUNT(*) AS n_matches
      FROM pos JOIN p ON pos.l[i] = p.x AND pos.l[i + 1] = p.y
      GROUP BY p.phrase_id, pos.doc_id
    )
    SELECT phrase_id, doc_id, n_matches, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY phrase_id
                                   ORDER BY n_matches DESC, doc_id) AS rnk
      FROM hits)
    WHERE rnk <= 20
    """,
    tags=("text", "retrieval"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PHRASE SEARCH by POSITIONAL POSTINGS: top-20 documents per
    2-word phrase, ranked by occurrence count — the adjacency-aware
    inverted-index workload (quote matching, verbatim-span retrieval)
    that BM25's unordered postings cannot answer. The positional
    posting list (doc_id, position, word) is filtered to the phrases'
    words by a broadcast semi-join BEFORE anything wide, then the
    first word's postings equi-join the second's on (doc_id, position
    + 1) — candidate cost is the matching words' posting sizes, never
    a corpus scan per phrase and never doc x phrase. Counts are
    per-position (overlapping occurrences each count: 'x x x' holds
    'x x' twice — the positional definition both engines restate
    identically; a substring-replace count would miss overlaps).
    Integer counts + doc_id tiebreak: total order, hash-exact."""
    d = table(spark, sf_dir, "documents")
    p = spark.createDataFrame(
        list(_PHRASES), "phrase_id int, x string, y string"
    )
    words = p.select(F.col("x").alias("word")).union(
        p.select(F.col("y").alias("word"))
    ).distinct()
    post = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("i", "word"),
        )
        .join(F.broadcast(words), "word")
    )
    first = post.select("doc_id", "i", F.col("word").alias("x"))
    second = post.select(
        "doc_id", (F.col("i") - 1).alias("i"), F.col("word").alias("y")
    )
    hits = (
        first.join(second, ["doc_id", "i"])
        .join(F.broadcast(p), ["x", "y"])
        .groupBy("phrase_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    w = Window.partitionBy("phrase_id").orderBy(
        F.col("n_matches").desc(), F.col("doc_id")
    )
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("phrase_id", "doc_id", "n_matches", "rnk")
    )
