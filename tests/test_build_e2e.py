"""End-to-end index build over the pages_unit fixture: structural checks of
every table + cross-check against the pure-Python oracle index."""

import numpy as np
from pyspark.sql import functions as F

from elasticsearch_eslib_spark.functions.codec import decode_posting_block
from elasticsearch_eslib_spark.plans.build_index import Index


def test_build_metrics(built_index):
    _, metrics = built_index
    assert metrics["n_docs"] == 1000
    assert metrics["docs_per_sec"] > 0


def test_docs_table_matches_oracle(spark, built_index, oracle_index):
    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    engine = {r["doc_id"]: r["doc_len"] for r in idx.docs.collect()}
    assert engine == oracle_index.doc_len
    assert idx.n_docs == oracle_index.n_docs
    assert abs(idx.avg_dl - oracle_index.avg_dl) < 1e-9


def test_terms_table_matches_oracle(spark, built_index, oracle_index):
    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    engine = {r["term"]: (r["term_id"], r["df"], r["cf"])
              for r in idx.terms.collect()}
    oracle_ids = oracle_index.term_ids()
    assert set(engine) == set(oracle_ids)
    for term, (tid, df, cf) in engine.items():
        assert tid == oracle_ids[term], term
        plist = oracle_index.postings[term]
        assert df == len(plist)
        assert cf == sum(plist.values())


def test_postings_blocks_match_oracle(spark, built_index, oracle_index):
    """Decode EVERY block: postings == oracle (doc ids, tf, dl); block
    metadata consistent; blocks doc-ordered and non-overlapping per term
    when ordered by first_doc."""
    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    id2term = {r["term_id"]: r["term"] for r in idx.terms.collect()}
    rows = idx.postings.collect()
    per_term: dict[int, list] = {}
    for r in rows:
        per_term.setdefault(r["term_id"], []).append(r)
    assert set(per_term) == set(id2term)
    for tid, blocks in per_term.items():
        blocks.sort(key=lambda r: r["first_doc"])
        docs_all, tfs_all = [], []
        prev_last = -1
        for b in blocks:
            d, t, l = decode_posting_block(
                b["first_doc"], b["doc_deltas"], b["tfs"], b["dls"])
            assert d[0] == b["first_doc"] and d[-1] == b["last_doc"]
            assert b["first_doc"] > prev_last  # non-overlapping, ordered
            prev_last = b["last_doc"]
            assert int(t.max()) == b["block_max_tf"]
            assert len(d) == b["n_docs"]
            # dl column matches docs table
            for doc, dl in zip(d, l):
                assert oracle_index.doc_len[int(doc)] == int(dl)
            docs_all.extend(d.tolist())
            tfs_all.extend(t.tolist())
        oracle_plist = oracle_index.postings[id2term[tid]]
        assert docs_all == sorted(oracle_plist)
        assert tfs_all == [oracle_plist[d] for d in sorted(oracle_plist)]


def test_head_term_salting_matches_oracle(spark, built_index, oracle_index):
    """Force the head-term path (head_df_threshold=2 → nearly every term is
    range-salted across 4 salts): cross-salt block concatenation, blocks
    ordered by first_doc over salt-disjoint runs, and under-full mid-term
    blocks must still decode to the exact oracle posting lists, and WAND over the
    salted postings must equal exhaustive scoring."""
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.fixtures import gen_queries
    from elasticsearch_eslib_spark.operators.build import (
        build_postings, term_freqs,
    )
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    io = open_tableio(spark, index_dir)
    tokenized = io.read("tokenized")
    docs = io.read("docs")
    terms = io.read("terms")
    idx = Index(spark, index_dir)
    tf = term_freqs(tokenized, docs)
    salted = build_postings(tf, terms, idx.n_docs, idx.avg_dl,
                            head_df_threshold=2, n_salts=4)
    rows = salted.collect()
    # at threshold 2 the salting path must actually engage: some term has
    # more blocks than its unsalted build would need
    id2term = {r["term_id"]: r["term"] for r in terms.collect()}
    per_term: dict[int, list] = {}
    for r in rows:
        per_term.setdefault(r["term_id"], []).append(r)
    assert set(per_term) == set(id2term)
    for tid, blocks in per_term.items():
        blocks.sort(key=lambda r: r["first_doc"])
        docs_all, tfs_all = [], []
        prev_last = -1
        for b in blocks:
            d, t, _l = decode_posting_block(
                b["first_doc"], b["doc_deltas"], b["tfs"], b["dls"])
            assert d[0] == b["first_doc"] and d[-1] == b["last_doc"]
            assert b["first_doc"] > prev_last
            prev_last = b["last_doc"]
            docs_all.extend(d.tolist())
            tfs_all.extend(t.tolist())
        oracle_plist = oracle_index.postings[id2term[tid]]
        assert docs_all == sorted(oracle_plist), id2term[tid]
        assert tfs_all == [oracle_plist[d] for d in sorted(oracle_plist)]

    # WAND over the salted postings == exhaustive over the salted postings
    queries = spark.createDataFrame(gen_queries())
    w = topk_wand(queries, terms, salted, idx.n_docs, idx.avg_dl)
    e = topk_exhaustive(queries, terms, salted, idx.n_docs, idx.avg_dl)
    ws = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in w.collect())
    es = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in e.collect())
    assert ws == es


def test_vocab_headtail_split_matches_broadcast_path(spark, built_index):
    """Above the broadcast budget the terms join splits at a df quantile:
    the Zipf head broadcasts, only tail postings sort-merge. Forcing a
    4-term budget on the unit corpus must (a) actually split — both head
    and tail non-empty — and (b) produce bit-identical posting blocks to
    the broadcast-everything plan."""
    from elasticsearch_eslib_spark.operators.build import (
        build_postings, term_freqs,
    )
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    io = open_tableio(spark, index_dir)
    tokenized = io.read("tokenized")
    docs = io.read("docs")
    terms = io.read("terms")
    idx = Index(spark, index_dir)
    tf = term_freqs(tokenized, docs)
    n_vocab = terms.count()
    budget = 4
    assert n_vocab > budget
    # the quantile cut splits the vocab into non-empty head and tail
    # (same probe as _enrich_with_terms: error tight enough that the cut
    # can't collapse to max(df))
    frac = budget / n_vocab
    cut = terms.approxQuantile("df", [1.0 - frac], max(frac / 2, 1e-6))[0]
    n_head = terms.where(F.col("df") > cut).count()
    assert 0 < n_head <= 2 * budget
    assert n_head < n_vocab

    split = build_postings(tf, terms, idx.n_docs, idx.avg_dl,
                           n_terms=n_vocab, broadcast_vocab_limit=budget)
    whole = build_postings(tf, terms, idx.n_docs, idx.avg_dl)

    def key(rows):
        return sorted(
            (r["term_id"], r["first_doc"], r["last_doc"],
             r["n_docs"], r["block_max_tf"], round(r["block_max_raw"], 12),
             bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["dls"]))
            for r in rows)

    assert key(split.collect()) == key(whole.collect())


def test_rejects_and_empty_docs_have_no_postings(spark, built_index):
    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    # every posting's doc has doc_len > 0 (decode every block's dls)
    bad = 0
    for r in idx.postings.collect():
        _, _, dls = decode_posting_block(
            r["first_doc"], r["doc_deltas"], r["tfs"], r["dls"])
        bad += int((dls <= 0).sum())
    assert bad == 0
