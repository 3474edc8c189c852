"""Relational fulltext operators over the driver `documents` table.

The driver's testdata `documents` table (doc_id, text, lang, source,
n_chars) has pre-tokenized lowercase space-separated text (TESTDATA.md /
FIXTURES.md §4), so these operators pin WHITESPACE tokenization — the full
analyzer chain (E1/E2) is exercised on the synthetic `pages` fixture
instead (tests/). Every function here has an exact ANSI-SQL twin in
__spark_entry__.oracle_sql() (DuckDB): same column names, same rounding,
same tie-breaks.

BM25 constants and formula identical to the index engine (config.py,
oracle.py). Rank tie-break pinned as (round(score,6) desc, doc_id asc) —
rounding BEFORE ordering so Spark's and DuckDB's last-bit float summation
differences can't flip ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from elasticsearch_eslib_spark.config import BM25_B, BM25_K1
from elasticsearch_eslib_spark.functions.planutil import local_frame, spread

# Pinned query set over the documents vocabulary (~31 terms at every sf).
FULLTEXT_QUERIES: list[tuple[int, str]] = [
    (0, "join"),                            # head term
    (1, "dup"),                             # tail term
    (2, "join dup"),                        # head+tail
    (3, "spark query slow"),                # 3 terms
    (4, "customer filter merge vector"),    # 4 terms
    (5, "zzzmissing"),                      # absent term → empty
    (6, "the a"),                           # very-high-df terms
    (7, "join join"),                       # duplicate term (counts once)
]
TOPK_K = 10


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term): whitespace tokens, empties dropped.

    spread: the explode + downstream partial aggregation is the CPU cost
    and must not serialize on a 1-2-task single-row-group local scan
    (no-op on a many-file corpus — see planutil.spread)."""
    return (spread(load_documents(spark, sf_dir))
            .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .where(F.col("term") != ""))


def tokenize_tf_of(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) over any documents-shaped frame."""
    return (docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .where(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))


def tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 analog: (doc_id, term, tf)."""
    return (tokens(spark, sf_dir)
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))


def doc_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 analog: (doc_id, dl).

    Computed per ROW as the size of the filtered token array — no explode,
    no shuffle (the old explode+groupBy moved the whole token stream
    through an exchange to count it). `dl > 0` keeps the row set identical
    to the aggregation form: docs whose tokens are all empty never produce
    a (doc_id, term) row, so they had no group."""
    # array_remove == filter(x != ""), but codegen'd (lambda higher-order
    # functions are interpreted per element)
    toks = F.array_remove(F.split("text", " "), "")
    return (load_documents(spark, sf_dir)
            .select("doc_id", F.size(toks).cast("long").alias("dl"))
            .where(F.col("dl") > 0))


def term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 analog: (term, df, cf)."""
    return (tokenize_tf(spark, sf_dir)
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf")))


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, avg_dl) — n_docs counts ALL documents rows; avg_dl is over
    docs with ≥1 token (identical here: no empty texts in the testdata)."""
    n_docs = load_documents(spark, sf_dir).select(
        F.count("*").alias("n_docs"))
    avg = doc_len(spark, sf_dir).select(
        F.round(F.avg("dl"), 6).alias("avg_dl"))
    return n_docs.crossJoin(avg)


def _query_terms_df(spark: SparkSession) -> DataFrame:
    rows = []
    for qid, q in FULLTEXT_QUERIES:
        for term in sorted(set(q.split())):
            rows.append((qid, term))
    return local_frame(spark, rows, "query_id long, term string")


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unranked BM25 scores per (query_id, doc_id) for the pinned query set.

    One corpus pass, filtered to the query vocabulary BEFORE any shuffle.
    The old plan paid ~4 full explode passes over the corpus (tf, df, dl,
    plus the avg_dl action): tokenize_tf, term_df and doc_len each re-ran
    the explode+groupBy pipeline, and the full-vocabulary term_df was
    aggregated only to be filtered down to ~20 query terms. Now:

      * dl rides the token array per row (size of the filtered split — no
        explode, no shuffle; identical values, see doc_len);
      * the exploded stream is filtered to the query terms at the map side,
        so the (doc_id, term) groupBy shuffles only matching rows;
      * df per query term is `groupBy(term).count()` over that same
        filtered tf frame, broadcast back into it. The count is partial
        per task before its exchange, so no task ever holds one term's
        whole posting stream (a count window partitioned by term did).
        Both branches read the one reused doc_id exchange; the df branch
        re-runs the explode behind it, which measured no slower than the
        window (200k docs, local[4] on 4 cores: 8.3-9.6 s vs 8.6-9.7 s).

    Scores are unchanged: the same (tf, df, dl, N, avgdl) numbers feed the
    same formula (avg_dl is an exact long-sum average, so not even a float
    ulp moves); only summation order inside the final groupBy can differ,
    which the pinned round(score, 6) already absorbs.

    An empty corpus (no document with a token) scores nothing: avg_dl is
    then NULL, but no (doc, term) row exists to carry it into a score, so
    the result is empty rather than NULL-scored."""
    docs = load_documents(spark, sf_dir)
    q = _query_terms_df(spark)
    all_qterms = sorted({t for _, qq in FULLTEXT_QUERIES for t in qq.split()})
    # array_remove == filter(x != "") but codegen'd; the token array is
    # materialized as a column FIRST so size() and the explode share ONE
    # tokenization per row (inlining it would split+scan the text twice)
    toks = F.array_remove(F.split("text", " "), "")
    # ZERO driver actions for the corpus scalars (round 6 folded the two
    # collects into one; this folds the remaining one into the query
    # itself): (n_docs, avg_dl) is a ONE-ROW aggregate subtree
    # cross-joined in as a broadcast, so the whole operator is a single
    # job and the stats pass overlaps the scoring pass inside it instead
    # of stalling the driver first. Values identical: cast(count(*) AS
    # DOUBLE) is the same double lit(float(n_docs)) was (n < 2^53), and
    # the avg lands in the formula as the identical exact long-sum
    # average double — only its spelling moved from a literal to a
    # column.
    stats = docs.select(F.size(toks).cast("long").alias("dl")).agg(
        F.count("*").cast("double").alias("__n_docs"),
        F.avg(F.when(F.col("dl") > 0, F.col("dl"))).alias("__avg_dl"))
    tf_q = (spread(docs).select("doc_id", toks.alias("toks"))
            .select("doc_id", F.size("toks").cast("long").alias("dl"),
                    F.explode("toks").alias("term"))
            .where(F.col("term").isin(all_qterms))
            .groupBy("doc_id", "dl", "term")  # dl is per-doc constant:
            .agg(F.count("*").alias("tf")))   # same groups as (doc_id, term)
    df_q = tf_q.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf_q.join(F.broadcast(df_q), "term")
              .join(F.broadcast(q), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf", F.log(
                  (F.col("__n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5) + 1.0))
              .withColumn("part", F.col("idf")
                          * F.col("tf") * (BM25_K1 + 1.0)
                          / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B
                             * F.col("dl") / F.col("__avg_dl")))))
    return (scored.groupBy("query_id", "doc_id")
            .agg(F.sum("part").alias("score")))


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, doc_id, score) top-10, pinned tie-break."""
    scores = bm25_scores(spark, sf_dir).withColumn(
        "score", F.round(F.col("score"), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scores.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOPK_K)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "score"))


def topk_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k exercise: 10 longest docs per lang (n_chars desc)."""
    docs = load_documents(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    return (docs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("lang", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "n_chars"))
