"""All engine table schemas (SURVEY.md §1.2) as StructType constants.

The reference is schemaless (esdocs = nested dicts, duck-typed fields —
SURVEY.md §1.1); fixed schema-on-write is a deliberate upgrade required at
10^12-doc scale. Stage boundaries assert these schemas (the engine's analog
of eslib's socket/connector protocol compatibility checks).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table — shape pinned by BASELINE.json input_hint.
PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), True),   # golden extraction (fixtures)
    T.StructField("lang", T.StringType(), False),
])

DOCS = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("doc_len", T.IntegerType(), False),
])

TERMS = T.StructType([
    T.StructField("term_id", T.LongType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
])

POSTINGS = T.StructType([
    T.StructField("term_id", T.LongType(), False),
    T.StructField("n_docs", T.IntegerType(), False),
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("last_doc", T.LongType(), False),
    T.StructField("block_max_tf", T.IntegerType(), False),
    # idf-FREE upper bound on the block's tf-part, computed under the
    # avgdl of the build/append epoch that wrote the block. The query path
    # derives the WAND skipping bound as
    #   raw · idf(N_now, df_now) · max(1, avgdl_now / bound_avgdl)
    # so incremental appends update stats/df WITHOUT touching any
    # existing block (the factor keeps the bound an upper bound whichever
    # way avgdl drifted; see plans/append_index.py).
    T.StructField("block_max_raw", T.DoubleType(), False),
    T.StructField("doc_deltas", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
])

STATS = T.StructType([
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("avg_dl", T.DoubleType(), False),
    # min over all build/append epochs of the avgdl their blocks were
    # encoded under — the denominator of the WAND bound-drift factor
    T.StructField("bound_avgdl", T.DoubleType(), False),
    T.StructField("built_at", T.TimestampType(), False),
    T.StructField("snapshot", T.StringType(), False),
])

LINEAGE = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_fingerprint", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("bytes", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("attempt", T.IntegerType(), False),
    T.StructField("updated", T.TimestampType(), False),
])

QUERIES = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("query", T.StringType(), False),
    T.StructField("k", T.IntegerType(), False),
])

TOPK_RESULT = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])
