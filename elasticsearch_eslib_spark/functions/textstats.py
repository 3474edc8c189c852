"""Text-analysis operators over `documents`: language-ID, quality scoring,
token counting, document fingerprinting.

Reference parity: eslib's cleanup processors (PatternRemover etc.) did
regex hygiene but no corpus analytics (SURVEY.md §2.1); these are the
standard training-data-pipeline text signals, expressed as pure column
expressions (JVM codegen, no Python) with exact DuckDB twins.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from elasticsearch_eslib_spark.functions.hashing import md5_long
from elasticsearch_eslib_spark.operators.fulltext import load_documents

# Pinned mini stopword lists for the heuristic language scorer (the driver
# documents table text is synthetic English-ish; the signal tested is the
# COMPUTATION, mirrored exactly in SQL).
LANGID_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    """How many of `toks` are in `markers`, repeats counted: the tokens
    that removing every marker takes away (no lambda, so codegen'd)."""
    return F.size(toks) - F.size(reduce(F.array_remove, markers, toks))


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_alpha_tokens, n_distinct_tokens) — whitespace
    tokens plus a BPE-ish alpha-run count via regexp."""
    docs = load_documents(spark, sf_dir)
    # array_remove == filter(x != ""), but codegen'd (lambda higher-order
    # functions are interpreted per element — measured on the bm25 path)
    toks = F.array_remove(F.split("text", " "), "")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)"))
         .alias("n_alpha_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars_m, n_tokens, avg_token_len, stopword_ratio,
    distinct_ratio, quality) — length/stopword/diversity heuristics with a
    pinned composite flag."""
    en = LANGID_MARKERS["en"]
    docs = load_documents(spark, sf_dir)
    # array_remove == filter(x != ""), but codegen'd (lambda higher-order
    # functions are interpreted per element — measured on the bm25 path)
    toks = F.array_remove(F.split("text", " "), "")
    base = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.size(toks).alias("n_tokens"),
        _marker_hits(toks, en).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"))
    return base.select(
        "doc_id", "n_chars_m", "n_tokens",
        F.round((F.col("n_chars_m") - (F.col("n_tokens") - 1))
                / F.col("n_tokens"), 6).alias("avg_token_len"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
        F.when((F.col("n_tokens") >= 10)
               & (F.col("n_stop") / F.col("n_tokens") < 0.5)
               & (F.col("n_distinct") / F.col("n_tokens") > 0.05), 1)
         .otherwise(0).alias("quality"))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, en_hits, de_hits, es_hits, fr_hits, lang_guess) — marker-
    word voting with pinned tie-break order en > de > es > fr."""
    docs = load_documents(spark, sf_dir)
    # array_remove == filter(x != ""), but codegen'd (lambda higher-order
    # functions are interpreted per element — measured on the bm25 path)
    toks = F.array_remove(F.split("text", " "), "")
    hit_cols = {
        lang: _marker_hits(toks, markers).alias(f"{lang}_hits")
        for lang, markers in LANGID_MARKERS.items()
    }
    base = docs.select("doc_id", *hit_cols.values())
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in LANGID_MARKERS])
    guess = F.when(F.col("en_hits") == best, "en") \
             .when(F.col("de_hits") == best, "de") \
             .when(F.col("es_hits") == best, "es") \
             .otherwise("fr")
    return base.withColumn("lang_guess", guess)


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint) — position-weighted rolling document hash:
    sum over tokens of (position · (md5_long(term) % 1000003)) % 2^31−1,
    order-sensitive, overflow-safe in both engines."""
    toks = (load_documents(spark, sf_dir)
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "term"))
            .where(F.col("term") != ""))
    # positions are over the RAW split array (0-based here, +1 to match the
    # SQL twin's 1-based ordinality); empties are filtered after numbering
    # in both engines, so the weights agree
    w_pos = ((F.col("pos") + 1) * (md5_long(F.col("term")) % 1000003)
             ) % 2147483647
    return (toks.withColumn("w", w_pos)
            .groupBy("doc_id")
            .agg((F.sum("w") % 2147483647).alias("fingerprint")))
