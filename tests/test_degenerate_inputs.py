"""Degenerate inputs give a defined result, never an exception or a NULL.

Query side: an empty query frame, all-stopword queries and absent-term
queries each answer with zero rows in the schemas.TOPK_RESULT columns,
through both the WAND and the exhaustive path, and mixing them with a
real query leaves that query's answer unchanged.

Corpus side: bm25 over a documents table with no tokens scores nothing.
"""

from __future__ import annotations

import pytest

from elasticsearch_eslib_spark import schemas
from elasticsearch_eslib_spark.functions.analyze import analyze_text
from elasticsearch_eslib_spark.oracle import bm25_topk

REAL = (9, "t000001 t002222")
STOPWORDS = [(1, "the and of"), (2, "of the")]
ABSENT = [(3, "zzznotaterm"), (4, "qqqmissing zzzabsent")]

CASES = {
    "empty": [],
    "all_stopwords": STOPWORDS,
    "absent_terms": ABSENT,
    "mixed": STOPWORDS + ABSENT + [REAL],
}


def _typed(schema) -> list[tuple[str, object]]:
    return [(f.name, f.dataType) for f in schema]


def _rows(df) -> list[tuple[int, int, int, float]]:
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in df.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_degenerate_queries_defined_on_both_paths(spark, built_index,
                                                  oracle_index, case):
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    idx = Index(spark, built_index[0])
    qs = CASES[case]
    qdf = spark.createDataFrame([(q, s, 10) for q, s in qs],
                                schemas.QUERIES)
    wand = topk_wand(qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl)
    exh = topk_exhaustive(qdf, idx.terms, idx.postings, idx.n_docs,
                          idx.avg_dl)
    assert (_typed(wand.schema) == _typed(exh.schema)
            == _typed(schemas.TOPK_RESULT))
    got_wand, got_exh = _rows(wand), _rows(exh)
    want = sorted((q, rank, doc, score) for q, s in qs
                  for rank, doc, score in bm25_topk(
                      oracle_index, analyze_text(s, "en"), 10))
    assert [r[:3] for r in got_wand] == [r[:3] for r in got_exh] \
        == [r[:3] for r in want]
    for a, b, c in zip(got_wand, got_exh, want):
        assert abs(a[3] - b[3]) < 1e-9 and abs(a[3] - c[3]) < 1e-9
    assert bool(want) == (case == "mixed")


@pytest.mark.parametrize("texts", [[], ["", "  ", " "]],
                         ids=["no_documents", "no_tokens"])
def test_bm25_over_tokenless_corpus_is_empty(spark, tmp_path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.operators.fulltext import bm25_topk as topk

    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(1, n + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(["web"] * n, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), str(tmp_path / "documents.parquet"))
    res = topk(spark, str(tmp_path))
    assert res.columns == schemas.TOPK_RESULT.names
    assert res.collect() == []
