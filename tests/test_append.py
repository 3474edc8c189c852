"""Incremental append (plans/append_index.py):

  * build(A) + append(B) answers every fixture query with the SAME
    (url, score) top-k as a cold build over A ∪ B — scores depend only on
    (tf, dl, df, N, avgdl), all of which the append maintains exactly;
  * WAND == exhaustive on the appended index (derived-bound validity);
  * bound validity under avgdl drift in BOTH directions (append longer
    docs, append shorter docs);
  * re-submitting the same batch is a no-op (exactly-once append);
  * a second distinct append stacks a second epoch.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from elasticsearch_eslib_spark.fixtures import gen_pages_range, gen_queries
from elasticsearch_eslib_spark.plans.append_index import append_index
from elasticsearch_eslib_spark.plans.build_index import Index, build_index
from elasticsearch_eslib_spark.plans.run_queries import run_queries

N_A, N_B, N_C = 500, 300, 200


def _write_range(path: str, lo: int, hi: int) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf = gen_pages_range(lo, hi)
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), False),
    ])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False),
                   path, row_group_size=2_000)
    return path


def _url_scores(spark, index_dir: str, path: str) -> set:
    res = run_queries(spark, index_dir,
                      spark.createDataFrame(gen_queries()), path=path)
    idx = Index(spark, index_dir)
    from pyspark.sql import functions as F

    rows = (res.join(idx.docs.select("doc_id", "url"), "doc_id")
            .select("query_id", "url", F.round("score", 6).alias("s"))
            .collect())
    return {(r["query_id"], r["url"], r["s"]) for r in rows}


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("append_corpora"))
    return {
        "A": _write_range(os.path.join(root, "a", "pages.parquet"), 0, N_A),
        "B": _write_range(os.path.join(root, "b", "pages.parquet"),
                          N_A, N_A + N_B),
        "C": _write_range(os.path.join(root, "c", "pages.parquet"),
                          N_A + N_B, N_A + N_B + N_C),
        "AB": _write_range(os.path.join(root, "ab", "pages.parquet"),
                           0, N_A + N_B),
        "root": root,
    }


@pytest.fixture(scope="module")
def appended_index(spark, corpora):
    idx_dir = os.path.join(corpora["root"], "idx_appended")
    build_index(spark, corpora["A"], idx_dir)
    m = append_index(spark, corpora["B"], idx_dir)
    assert m.get("skipped") is not True and m["epoch"] == 1
    return idx_dir


def test_append_with_headtail_vocab_split_matches_cold_build(
        spark, corpora, tmp_path, monkeypatch):
    """The Zipf head/tail terms join (operators/build.py
    _enrich_with_terms) forced through the FULL lifecycle: with the
    broadcast budget pinned to 8 vocabulary terms, both the cold build's
    S4 and the append's A4 take the split path (head broadcast + tail
    sort-merge, blocks continuing across epochs on top). Answers must
    equal an UNPATCHED cold build over A ∪ B — the split may not perturb
    salting, block layout, or the append's continuation metadata."""
    import elasticsearch_eslib_spark.operators.build as build_mod

    monkeypatch.setattr(build_mod, "BROADCAST_VOCAB_TERMS", 8)
    split_dir = str(tmp_path / "idx_split")
    build_index(spark, corpora["A"], split_dir)
    append_index(spark, corpora["B"], split_dir)
    monkeypatch.undo()

    cold_dir = os.path.join(corpora["root"], "idx_cold_split_ref")
    build_index(spark, corpora["AB"], cold_dir)
    assert (_url_scores(spark, split_dir, "wand")
            == _url_scores(spark, cold_dir, "wand"))
    assert (_url_scores(spark, split_dir, "exhaustive")
            == _url_scores(spark, cold_dir, "wand"))


def test_append_matches_cold_build(spark, corpora, appended_index):
    cold_dir = os.path.join(corpora["root"], "idx_cold")
    build_index(spark, corpora["AB"], cold_dir)
    assert (_url_scores(spark, appended_index, "wand")
            == _url_scores(spark, cold_dir, "wand"))


def test_append_wand_equals_exhaustive(spark, appended_index):
    assert (_url_scores(spark, appended_index, "wand")
            == _url_scores(spark, appended_index, "exhaustive"))


def test_append_stats_and_terms(spark, corpora, appended_index):
    idx = Index(spark, appended_index)
    assert idx.n_docs == N_A + N_B
    assert idx.bound_avgdl <= idx.avg_dl + 1e-12
    # term ids unique and dense-extended; df equals recount over the union
    terms = idx.terms.collect()
    ids = [r["term_id"] for r in terms]
    assert len(ids) == len(set(ids))


def test_append_is_idempotent_per_batch(spark, corpora, appended_index):
    m = append_index(spark, corpora["B"], appended_index)
    assert m["skipped"] is True and m["epoch"] == 1


def test_second_epoch_stacks(spark, corpora, appended_index):
    m = append_index(spark, corpora["C"], appended_index)
    assert m["epoch"] == 2 and m["n_docs"] == N_A + N_B + N_C
    # still rank-identical between paths across three epochs
    assert (_url_scores(spark, appended_index, "wand")
            == _url_scores(spark, appended_index, "exhaustive"))


def _write_custom(path: str, docs: list[tuple[str, str]]) -> str:
    """Tiny corpus with explicit (url, text); html = text bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf = pd.DataFrame({
        "url": [u for u, _ in docs],
        "warc_ts": pd.to_datetime(["2026-01-01"] * len(docs), utc=True),
        "html": [t.encode() for _, t in docs],
        "text": [t for _, t in docs],
        "lang": ["xx"] * len(docs),
    })
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), False),
    ])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), path)
    return path


@pytest.mark.parametrize("direction", ["grow", "shrink"])
def test_bound_valid_under_avgdl_drift(spark, tmp_path, direction):
    """avgdl moves sharply across the append; WAND must stay identical to
    exhaustive (the drift factor keeps stored raw bounds upper bounds)."""
    short = [(f"s{i:04d}", f"alpha beta w{i % 7}") for i in range(60)]
    long_ = [(f"l{i:04d}",
              "alpha " + " ".join(f"filler{j}" for j in range(40))
              + f" beta w{i % 7}") for i in range(60)]
    first, second = (short, long_) if direction == "grow" else (long_, short)
    base = _write_custom(str(tmp_path / "base" / "pages.parquet"), first)
    delta = _write_custom(str(tmp_path / "delta" / "pages.parquet"), second)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, base, idx_dir)
    append_index(spark, delta, idx_dir)
    idx = Index(spark, idx_dir)
    if direction == "grow":
        assert idx.avg_dl > idx.bound_avgdl  # drift factor actually engaged
    qdf = spark.createDataFrame(
        [(1, "alpha beta", 15), (2, "filler3 alpha", 15), (3, "w3", 15)],
        "query_id long, query string, k int")
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    key = lambda rs: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rs)
    wand = topk_wand(qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl,
                     bound_avgdl=idx.bound_avgdl).collect()
    exh = topk_exhaustive(qdf, idx.terms, idx.postings, idx.n_docs,
                          idx.avg_dl).collect()
    assert key(wand) == key(exh) and len(wand) > 0


def test_compact_restores_cold_build_shape(spark, corpora, appended_index,
                                           tmp_path_factory):
    """Compaction of the (multi-epoch) appended index: identical query
    answers with PRESERVED doc ids, single-epoch layout, tight bounds
    (bound_avgdl == avg_dl), per-term blocks ordered and disjoint by
    [first_doc, last_doc] with full blocks except tails, and future
    appends continue on the compacted dir."""
    from elasticsearch_eslib_spark.plans.compact_index import compact_index
    from elasticsearch_eslib_spark.plans.build_index import epochs
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    dst = str(tmp_path_factory.mktemp("compacted") / "idx")
    before_w = _url_scores(spark, appended_index, "wand")
    compact_index(spark, appended_index, dst)

    assert epochs(open_tableio(spark, dst).stages()).numbers == []
    idx = Index(spark, dst)
    assert idx.bound_avgdl == idx.avg_dl
    # identical answers, including doc_id preservation
    src_res = run_queries(spark, appended_index,
                          spark.createDataFrame(gen_queries()),
                          path="wand").collect()
    dst_res = run_queries(spark, dst, spark.createDataFrame(gen_queries()),
                          path="wand").collect()
    key = lambda rs: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rs)
    assert key(src_res) == key(dst_res) and len(dst_res) > 0
    assert _url_scores(spark, dst, "wand") == before_w
    assert _url_scores(spark, dst, "exhaustive") == before_w
    # layout: per-term blocks ordered and disjoint, every block but the
    # last full
    from collections import defaultdict

    from elasticsearch_eslib_spark.config import BLOCK_SIZE

    per_term = defaultdict(list)
    for r in idx.postings.collect():
        per_term[r["term_id"]].append(r)
    for blocks in per_term.values():
        blocks.sort(key=lambda r: r["first_doc"])
        for prev, nxt in zip(blocks, blocks[1:]):
            assert prev["first_doc"] <= prev["last_doc"] < nxt["first_doc"]
        assert all(b["n_docs"] == BLOCK_SIZE for b in blocks[:-1])
    # a further append lands on the compacted dir as epoch 1
    from elasticsearch_eslib_spark.plans.append_index import append_index

    extra = _write_range(
        str(tmp_path_factory.mktemp("after_compact") / "pages.parquet"),
        5000, 5100)
    m = append_index(spark, extra, dst)
    assert m["epoch"] == 1
    assert (_url_scores(spark, dst, "wand")
            == _url_scores(spark, dst, "exhaustive"))


def test_empty_batch_append_is_noop(spark, tmp_path):
    """An all-rejects/empty batch must never commit an epoch (an empty
    postings table would be unreadable); the index stays fully queryable
    and a following REAL append lands normally."""
    from elasticsearch_eslib_spark.plans.build_index import epochs
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    base = _write_custom(str(tmp_path / "base" / "pages.parquet"),
                         [(f"d{i}", f"alpha beta w{i}") for i in range(40)])
    empty = _write_custom(str(tmp_path / "empty" / "pages.parquet"), [])
    real = _write_custom(str(tmp_path / "real" / "pages.parquet"),
                         [(f"e{i}", f"alpha gamma v{i}") for i in range(20)])
    idx_dir = str(tmp_path / "idx")
    build_index(spark, base, idx_dir)
    m = append_index(spark, empty, idx_dir)
    assert m["skipped"] is True and m["reason"] == "empty_batch"
    assert epochs(open_tableio(spark, idx_dir).stages()).numbers == []
    assert Index(spark, idx_dir).n_docs == 40
    m2 = append_index(spark, real, idx_dir)
    assert m2.get("skipped") is not True and m2["epoch"] == 1
    assert Index(spark, idx_dir).n_docs == 60
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, idx_dir, "exhaustive"))


def test_append_reads_no_prior_corpus_tables(spark, tmp_path):
    """O(delta + vocab) append metadata (round-4 fix): with every prior
    corpus-sized table (docs, postings — base AND earlier epochs)
    physically REMOVED from disk, an append still succeeds, because the
    continuation doc id comes from committed stage metrics and delta
    blocks need nothing from the prior ones. Restoring
    the tables, the index answers identically to a cold build over the
    union — the strongest possible form of the 'append never scans the
    corpus' plan-shape claim."""
    import shutil

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 400)
    b = _write_range(os.path.join(root, "b", "pages.parquet"), 400, 700)
    c = _write_range(os.path.join(root, "c", "pages.parquet"), 700, 900)
    abc = _write_range(os.path.join(root, "abc", "pages.parquet"), 0, 900)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)
    append_index(spark, b, idx_dir)

    hidden = {}
    for t in ("docs", "postings", "docs_a1", "postings_a1"):
        src = os.path.join(idx_dir, t)
        assert os.path.isdir(src), t
        hidden[t] = src + ".hidden"
        shutil.move(src, hidden[t])
    m = append_index(spark, c, idx_dir)
    assert m.get("skipped") is not True and m["epoch"] == 2
    for t, h in hidden.items():
        shutil.move(h, os.path.join(idx_dir, t))

    cold_dir = os.path.join(root, "idx_cold")
    build_index(spark, abc, cold_dir)
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, cold_dir, "wand"))
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, idx_dir, "exhaustive"))


def test_append_idempotent_against_any_prior_epoch(spark, tmp_path):
    """Resubmitting a batch committed as ANY earlier epoch (not only the
    latest) is a no-op reporting that epoch — the round-3 guard only
    checked the latest epoch's fingerprint."""
    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 300)
    b = _write_range(os.path.join(root, "b", "pages.parquet"), 300, 500)
    c = _write_range(os.path.join(root, "c", "pages.parquet"), 500, 650)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)
    assert append_index(spark, b, idx_dir)["epoch"] == 1
    assert append_index(spark, c, idx_dir)["epoch"] == 2
    m = append_index(spark, b, idx_dir)  # EARLIER epoch's batch
    assert m["skipped"] is True and m["epoch"] == 1
    assert Index(spark, idx_dir).n_docs == 650


def test_append_content_fingerprint_spans_restaging(spark, tmp_path):
    """The same batch content re-staged under a different physical file
    layout (fresh part names / row-group sizes — exactly what foreachBatch
    epoch redelivery produces) must not double-append when the caller
    keys the append by CONTENT fingerprint; a lang change alters it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.streaming.ingest import (
        batch_content_fingerprint,
    )

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 300)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)

    pdf = gen_pages_range(300, 500)
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), False),
    ])
    d1 = os.path.join(root, "d1", "pages.parquet")
    d2 = os.path.join(root, "d2", "pages.parquet")
    os.makedirs(os.path.dirname(d1)), os.makedirs(os.path.dirname(d2))
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, d1, row_group_size=2_000)
    pq.write_table(table, d2, row_group_size=137)  # different bytes on disk

    from elasticsearch_eslib_spark.sources.tableio import fingerprint_path

    assert fingerprint_path(d1) != fingerprint_path(d2)  # file fp differs
    fp1 = batch_content_fingerprint(spark.read.parquet(d1))
    fp2 = batch_content_fingerprint(spark.read.parquet(d2))
    assert fp1 == fp2  # content fp does not
    # lang steers tokenization: the same (url, html) under another lang
    # is different content
    from pyspark.sql import functions as F

    relabeled = spark.read.parquet(d1).withColumn("lang", F.lit("de"))
    assert batch_content_fingerprint(relabeled) != fp1

    m1 = append_index(spark, d1, idx_dir, batch_fingerprint=fp1)
    assert m1.get("skipped") is not True and m1["epoch"] == 1
    m2 = append_index(spark, d2, idx_dir, batch_fingerprint=fp2)
    assert m2["skipped"] is True and m2["epoch"] == 1
    assert Index(spark, idx_dir).n_docs == 500


def test_append_recognizes_legacy_v1_fingerprints(spark, tmp_path):
    """The exactly-once guard recognizes a redelivered batch by its content
    fingerprint alone: the same batch re-keyed by
    ``batch_content_fingerprint`` is skipped, while the same (url, html)
    under another lang is a new batch and commits its own epoch. The v1
    (pre-lang) fingerprints this test once bridged are gone with the
    indexes that held them: a manifest without the current format stamp is
    refused (tests/test_index_format.py)."""
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.streaming.ingest import (
        batch_content_fingerprint,
    )

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 200)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)

    d1 = _write_range(os.path.join(root, "d1", "pages.parquet"), 200, 320)
    fp = batch_content_fingerprint(spark.read.parquet(d1))
    m1 = append_index(spark, d1, idx_dir, batch_fingerprint=fp)
    assert m1.get("skipped") is not True and m1["epoch"] == 1
    m2 = append_index(spark, d1, idx_dir, batch_fingerprint=fp)
    assert m2["skipped"] is True and m2["epoch"] == 1

    # different lang, same (url, html): not a redelivery of epoch 1
    d2 = os.path.join(root, "d2", "pages.parquet")
    spark.read.parquet(d1).withColumn("lang", F.lit("de")).write.parquet(d2)
    fp_de = batch_content_fingerprint(spark.read.parquet(d2))
    assert fp_de != fp
    m3 = append_index(spark, d2, idx_dir, batch_fingerprint=fp_de)
    assert m3.get("skipped") is not True and m3["epoch"] == 2
    m4 = append_index(spark, d2, idx_dir, batch_fingerprint=fp_de)
    assert m4["skipped"] is True and m4["epoch"] == 2


def test_compact_aborts_on_concurrent_append(spark, tmp_path):
    """Single-writer compaction is VERIFIED at the commit point: an append
    landing mid-compaction makes compact_index abort with the destination
    uncommitted (unreadable as an index); a rerun over the settled source
    then succeeds and serves all epochs."""
    from elasticsearch_eslib_spark.plans.compact_index import (
        CompactionConflict, compact_index,
    )

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 300)
    b = _write_range(os.path.join(root, "b", "pages.parquet"), 300, 450)
    c = _write_range(os.path.join(root, "c", "pages.parquet"), 450, 600)
    idx_dir = os.path.join(root, "idx")
    dst = os.path.join(root, "dst")
    build_index(spark, a, idx_dir)
    append_index(spark, b, idx_dir)

    with pytest.raises(CompactionConflict):
        compact_index(spark, idx_dir, dst,
                      pre_commit_hook=lambda: append_index(
                          spark, c, idx_dir))
    with pytest.raises(LookupError):  # dst has no committed postings
        Index(spark, dst)

    # the mid-run append committed normally on the source; a rerun of the
    # compaction (now covering all three chunks) succeeds
    m = compact_index(spark, idx_dir, dst)
    assert m["n_docs"] == 600
    assert (_url_scores(spark, dst, "wand")
            == _url_scores(spark, idx_dir, "wand"))


def test_compact_epochs_merges_small_suffix_in_place(spark, tmp_path):
    """Tiered compaction: build(A) + append(B) + append(C) -> merge the
    two small epochs into one, in place. Answers (WAND and exhaustive)
    are identical before and after; epoch count drops to 1; both absorbed
    batch fingerprints survive for exactly-once redelivery; a later
    append continues as epoch 2 and matches a cold build."""
    from elasticsearch_eslib_spark.plans.build_index import epochs
    from elasticsearch_eslib_spark.plans.compact_index import compact_epochs
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 400)
    b = _write_range(os.path.join(root, "b", "pages.parquet"), 400, 550)
    c = _write_range(os.path.join(root, "c", "pages.parquet"), 550, 700)
    d = _write_range(os.path.join(root, "d", "pages.parquet"), 700, 800)
    full = _write_range(os.path.join(root, "full", "pages.parquet"), 0, 800)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)
    append_index(spark, b, idx_dir)
    append_index(spark, c, idx_dir)

    before_w = _url_scores(spark, idx_dir, "wand")
    before_e = _url_scores(spark, idx_dir, "exhaustive")

    # threshold above both epoch sizes (150, 150) but below the base: the
    # suffix [1, 2] merges into epoch 1
    m = compact_epochs(spark, idx_dir, max_epoch_docs=200)
    assert m.get("skipped") is not True
    assert m["merged_epochs"] == [1, 2] and m["into_epoch"] == 1

    io = open_tableio(spark, idx_dir)
    assert epochs(io.stages()).numbers == [1]
    assert _url_scores(spark, idx_dir, "wand") == before_w
    assert _url_scores(spark, idx_dir, "exhaustive") == before_e
    idx = Index(spark, idx_dir)
    assert idx.n_docs == 700

    # exactly-once: redelivering either absorbed batch is still a no-op
    for batch in (b, c):
        r = append_index(spark, batch, idx_dir)
        assert r["skipped"] is True and r["epoch"] == 1

    # a fresh batch lands as epoch 2 and the whole thing matches a cold
    # build over A+B+C+D
    m2 = append_index(spark, d, idx_dir)
    assert m2.get("skipped") is not True and m2["epoch"] == 2
    cold_dir = os.path.join(root, "idx_cold")
    build_index(spark, full, cold_dir)
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, cold_dir, "wand"))

    # a second tiered pass re-merges epochs 1..2 (epoch 1 itself already
    # alias-redirected from the first merge)
    m3 = compact_epochs(spark, idx_dir, max_epoch_docs=500)
    assert m3.get("skipped") is not True and m3["into_epoch"] == 1
    assert epochs(open_tableio(spark, idx_dir).stages()).numbers == [1]
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, cold_dir, "wand"))


def test_compact_epochs_skips_when_nothing_to_merge(spark, tmp_path):
    """A suffix of fewer than two small epochs is a no-op (never decodes
    anything); a threshold below every epoch size is also a no-op."""
    from elasticsearch_eslib_spark.plans.compact_index import compact_epochs

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 300)
    b = _write_range(os.path.join(root, "b", "pages.parquet"), 300, 600)
    c = _write_range(os.path.join(root, "c", "pages.parquet"), 600, 700)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)
    append_index(spark, b, idx_dir)   # epoch 1: 300 docs
    append_index(spark, c, idx_dir)   # epoch 2: 100 docs

    # only epoch 2 is under the cap -> suffix of one -> skip
    assert compact_epochs(spark, idx_dir,
                          max_epoch_docs=150)["skipped"] is True
    # nothing under the cap -> skip
    assert compact_epochs(spark, idx_dir,
                          max_epoch_docs=10)["skipped"] is True


def test_compact_epochs_aborts_on_concurrent_append(spark, tmp_path):
    """The atomic manifest swap re-verifies the source state: an append
    committed mid-merge aborts the merge with the index unchanged (old
    epochs intact, new tables invisible), and a rerun then succeeds."""
    from elasticsearch_eslib_spark.plans.build_index import epochs
    from elasticsearch_eslib_spark.plans.compact_index import (
        CompactionConflict, compact_epochs,
    )
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    root = str(tmp_path)
    a = _write_range(os.path.join(root, "a", "pages.parquet"), 0, 300)
    b = _write_range(os.path.join(root, "b", "pages.parquet"), 300, 400)
    c = _write_range(os.path.join(root, "c", "pages.parquet"), 400, 500)
    d = _write_range(os.path.join(root, "d", "pages.parquet"), 500, 600)
    idx_dir = os.path.join(root, "idx")
    build_index(spark, a, idx_dir)
    append_index(spark, b, idx_dir)
    append_index(spark, c, idx_dir)

    with pytest.raises(CompactionConflict):
        compact_epochs(spark, idx_dir, max_epoch_docs=150,
                       pre_commit_hook=lambda: append_index(
                           spark, d, idx_dir))
    # the mid-run append committed as epoch 3; the merge left no trace
    # (no aliases, all epochs intact) and the index still self-checks
    # (WAND == exhaustive over the 4-chunk corpus)
    io = open_tableio(spark, idx_dir)
    assert epochs(io.stages()).numbers == [1, 2, 3]
    assert not io.manifest.get("aliases")
    assert Index(spark, idx_dir).n_docs == 600
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, idx_dir, "exhaustive"))

    # rerun over the settled index: merges all three small epochs
    m = compact_epochs(spark, idx_dir, max_epoch_docs=150)
    assert m["merged_epochs"] == [1, 2, 3] and m["into_epoch"] == 1
    assert epochs(open_tableio(spark, idx_dir).stages()).numbers == [1]
    assert Index(spark, idx_dir).n_docs == 600


def _three_epoch_index(spark, root: str) -> str:
    """build(0-300) + append(300-400) + append(400-500): epochs [1, 2]."""
    idx_dir = os.path.join(root, "idx")
    build_index(spark, _write_range(os.path.join(root, "a", "pages.parquet"),
                                    0, 300), idx_dir)
    for name, lo, hi in (("b", 300, 400), ("c", 400, 500)):
        append_index(spark, _write_range(
            os.path.join(root, name, "pages.parquet"), lo, hi), idx_dir)
    return idx_dir


def test_stale_handle_cannot_revert_a_tiered_compaction(spark, tmp_path):
    """A manifest write through a handle opened before compact_epochs
    committed raises IndexChanged instead of saving the handle's stale
    copy: the compaction's aliases survive (the merged epochs' old dirs
    are already deleted) and the index still reads, WAND == exhaustive."""
    from elasticsearch_eslib_spark.plans.build_index import epochs
    from elasticsearch_eslib_spark.plans.compact_index import compact_epochs
    from elasticsearch_eslib_spark.sources.tableio import (
        IndexChanged, open_tableio,
    )

    idx_dir = _three_epoch_index(spark, str(tmp_path))
    stale = open_tableio(spark, idx_dir)
    compact_epochs(spark, idx_dir, from_epoch=1)
    with pytest.raises(IndexChanged):
        stale.commit_stage("probe", "probe", None, "fp")

    io = open_tableio(spark, idx_dir)
    assert "probe" not in io.stages()
    assert set(io.manifest["aliases"]) == {"docs_a1", "terms_a1",
                                           "postings_a1"}
    assert epochs(io.stages()).numbers == [1]
    assert Index(spark, idx_dir).n_docs == 500
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, idx_dir, "exhaustive"))


def test_append_overtaken_by_tiered_compaction_reruns(spark, tmp_path,
                                                      monkeypatch):
    """An append whose index is compacted mid-run raises IndexChanged at
    its next commit and leaves the index readable; rerun, it lands as
    epoch 2 and answers like a cold build over the same docs."""
    from elasticsearch_eslib_spark.plans import append_index as plan
    from elasticsearch_eslib_spark.plans.build_index import epochs
    from elasticsearch_eslib_spark.plans.compact_index import compact_epochs
    from elasticsearch_eslib_spark.sources.tableio import (
        IndexChanged, open_tableio,
    )

    root = str(tmp_path)
    idx_dir = _three_epoch_index(spark, root)
    d = _write_range(os.path.join(root, "d", "pages.parquet"), 500, 600)
    extract = plan.extract_analyze_tf

    def overtaken(pages):
        compact_epochs(spark, idx_dir, from_epoch=1)
        return extract(pages)

    monkeypatch.setattr(plan, "extract_analyze_tf", overtaken)
    with pytest.raises(IndexChanged):
        append_index(spark, d, idx_dir)
    monkeypatch.undo()
    assert epochs(open_tableio(spark, idx_dir).stages()).numbers == [1]
    assert Index(spark, idx_dir).n_docs == 500
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, idx_dir, "exhaustive"))

    m = append_index(spark, d, idx_dir)
    assert m.get("skipped") is not True and m["epoch"] == 2
    cold = os.path.join(root, "cold")
    build_index(spark, _write_range(
        os.path.join(root, "full", "pages.parquet"), 0, 600), cold)
    assert (_url_scores(spark, idx_dir, "wand")
            == _url_scores(spark, cold, "wand"))
