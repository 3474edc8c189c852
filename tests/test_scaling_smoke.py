"""Determinism under parallelism (precondition for the scaling bench):
the same input built at different shuffle-partition counts yields an
IDENTICAL index (same doc ids, same terms, same decoded postings) and
identical query results."""

from pyspark.sql import functions as F

from elasticsearch_eslib_spark.fixtures import gen_queries
from elasticsearch_eslib_spark.functions.codec import decode_posting_block
from elasticsearch_eslib_spark.plans.build_index import Index, build_index
from elasticsearch_eslib_spark.plans.run_queries import run_queries


def _index_fingerprint(spark, index_dir):
    idx = Index(spark, index_dir)
    docs = sorted((r["doc_id"], r["url"], r["doc_len"])
                  for r in idx.docs.collect())
    terms = sorted((r["term_id"], r["term"], r["df"], r["cf"])
                   for r in idx.terms.collect())
    postings = []
    for r in idx.postings.collect():
        d, t, l = decode_posting_block(r["first_doc"], r["doc_deltas"],
                                       r["tfs"], r["dls"])
        postings.append((r["term_id"], tuple(d), tuple(t), tuple(l),
                         round(r["block_max_raw"], 9)))
    return docs, terms, sorted(postings)


def test_identical_index_across_parallelism(spark, pages_parquet, built_index,
                                            tmp_path):
    base_dir, _ = built_index  # built with the session default partitions
    other_dir = str(tmp_path / "idx_p3")
    # different shuffle parallelism AND different commit grouping
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        build_index(spark, pages_parquet, other_dir, n_commit_groups=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    assert _index_fingerprint(spark, base_dir) == \
           _index_fingerprint(spark, other_dir)

    qdf = spark.createDataFrame(gen_queries())
    a = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
               for r in run_queries(spark, base_dir, qdf, "wand").collect())
    b = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
               for r in run_queries(spark, other_dir, qdf, "wand").collect())
    assert a == b
