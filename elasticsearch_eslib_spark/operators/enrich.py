"""Enrichment operators — eslib EntityExtractor / PatternRemover analogs
(SURVEY.md §2.1 rows 7 and 9).

The reference scanned each document in Python against a configured entity
dictionary and regex list. Spark-first:

  * entity extraction = tokenize → join against the BROADCAST entity
    dictionary (unigram entities) plus a 2-gram pass for phrase entities —
    dictionary scan becomes a hash-join probe, fully JVM-side;
  * pattern removal = `regexp_replace` chains (codegen, no Python).

Both have exact DuckDB oracle twins in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_eslib_spark.functions.planutil import local_frame
from elasticsearch_eslib_spark.operators.fulltext import (
    load_documents, tokenize_tf,
)

# Pinned demo entity dictionary over the corpus vocabulary: unigram and
# bigram (phrase) entities. In production this is user config (the eslib
# EntityExtractor took {name → patterns} config the same way).
UNIGRAM_ENTITIES: list[tuple[str, str]] = [
    ("spark", "tech"),
    ("customer", "business"),
    ("join", "operator"),
    ("merge", "operator"),
    ("scan", "operator"),
]
BIGRAM_ENTITIES: list[tuple[str, str]] = [
    ("hash join", "operator-phrase"),
    ("table scan", "operator-phrase"),
]

SCRUB_PATTERN = r"\bs[a-z]*\b"   # pinned demo pattern: drop s-words


def extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, entity, category, n_matches) for the pinned dictionary."""
    uni = local_frame(spark, UNIGRAM_ENTITIES, "entity string, category string")
    tf = tokenize_tf(spark, sf_dir)
    uni_hits = (tf.join(F.broadcast(uni), tf["term"] == uni["entity"])
                .select("doc_id", "entity", "category",
                        F.col("tf").cast("long").alias("n_matches")))

    bi = local_frame(spark, BIGRAM_ENTITIES, "entity string, category string")
    docs = load_documents(spark, sf_dir)
    toks_col = F.array_remove(F.split("text", " "), "")
    base = (docs.select("doc_id", toks_col.alias("toks"))
            .where(F.size("toks") >= 2))
    t = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)))
    bigrams = (base.select("doc_id", F.explode(grams).alias("gram"))
               .groupBy("doc_id", "gram").agg(F.count("*").alias("n")))
    bi_hits = (bigrams.join(F.broadcast(bi), bigrams["gram"] == bi["entity"])
               .select("doc_id", "entity", "category",
                       F.col("n").cast("long").alias("n_matches")))
    return uni_hits.unionByName(bi_hits)


def pattern_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, clean_len): length after removing the pinned pattern and
    collapsing the whitespace it leaves (PatternRemover semantics)."""
    docs = load_documents(spark, sf_dir)
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace("text", SCRUB_PATTERN, ""), r"\s+", " "))
    return docs.select(
        "doc_id", F.length(cleaned).cast("int").alias("clean_len"))
