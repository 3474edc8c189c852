"""Incremental index append (SURVEY.md §2.1 rows 1-2 parity: the reference's
flagship pipelines streamed documents INTO a live Elasticsearch index — an
engine a reference user switches to needs continuous indexing, not only
one-shot builds).

`append_index(spark, new_pages, index_dir)` adds a batch of NEW documents
to an existing index without touching any committed block:

  A1 tokenized_a{e}   extract+analyze+tf for the delta batch
  A2 docs_a{e}        dense doc ids continuing after the existing max id
                      (url order within the batch — deterministic)
  A3 terms_a{e}       the COMPLETE merged vocabulary: existing terms keep
                      their term_id (stability is what makes old postings
                      valid forever), df/cf updated; new terms get ids
                      after the existing max, dense by term order
  A4 postings_a{e}    delta postings only, salted/encoded/laid out exactly
                      like a build; raw (idf-free) block bounds under the
                      POST-append avgdl
  stats_a{e}          no table: its stage metrics hold the n_docs/avg_dl
                      totals + bound_avgdl = min over epochs of the avgdl
                      blocks were encoded under — commits the epoch
                      (build_index.epochs ignores epochs without it)

A block is identified by (term_id, first_doc). Every delta doc id is
above every existing one, so a term's delta blocks follow its existing
blocks in doc order and the epochs' blocks never overlap: an append
needs nothing from the prior postings.

Why existing blocks never need rewriting: block bounds are stored idf-free
(schemas.POSTINGS `block_max_raw`) and the query path derives the WAND
bound as raw · idf(N_now, df_now) · max(1, avgdl_now / bound_avgdl). The
drift factor is a valid upper bound in both directions of avgdl movement:
for f(tf,dl) = tf(k1+1)/(tf + k1(1-b) + k1·b·dl/avgdl),
f(avgdl_new)/f(avgdl_old) ≤ max(1, avgdl_new/avgdl_old) for every (tf,dl),
so metadata-only stats updates keep block skipping sound at any number of
appends — the 10^12-doc requirement (rewriting per-term metadata for every
epoch would be a full-index pass per batch).

Each stage is a committed TableIO snapshot in a fingerprint chain seeded
by (batch fingerprint : previous postings snapshot): a crashed append
resumes at stage granularity, an uncommitted epoch is invisible, and
re-submitting a batch already committed as ANY prior epoch is a no-op
(exactly-once append, mirroring the epoch-idempotent streaming sink; the
guard scans every committed epoch's metrics — bounded metadata reads,
one tiny dict per epoch). Callers with a content-addressed batch (the
streaming sink rewrites staged files with fresh part names on epoch
redelivery, so a file-name fingerprint would NOT be stable) pass
`batch_fingerprint` explicitly.

Scale: terms_a{e} rewrites the vocabulary table per epoch. Vocabulary is
sublinear in corpus size (≈10^8 rows at 10^12 docs) — a bounded,
partition-parallel rewrite — while docs/postings, the corpus-sized
tables, are strictly append-only. Append metadata is O(delta + vocab),
never O(corpus): the continuation doc id is the previous epoch's
committed `max_doc_id` metric, and no prior docs or postings table is
read (pinned by tests/test_append.py, which physically removes them
during an append).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F

from elasticsearch_eslib_spark.operators.build import (
    assign_doc_ids, build_postings, extract_analyze_tf, term_freqs,
    term_freqs_nodoc,
)
from elasticsearch_eslib_spark.operators.ids import (
    assign_dense_ids, unpersist_ids,
)
from elasticsearch_eslib_spark.plans.build_index import epochs
from elasticsearch_eslib_spark.sources.tableio import (
    fingerprint_path, open_tableio,
)


def append_index(spark: SparkSession, pages_path: str,
                 index_dir: str,
                 batch_fingerprint: str | None = None) -> dict:
    """Append the batch at `pages_path` as a new epoch; returns metrics.

    Idempotent per batch: if ANY committed epoch already ingested a batch
    with this fingerprint, the call is a no-op (metrics carry
    ``skipped=True`` and the matching epoch). Fingerprints default to the
    staged files' names+sizes; pass `batch_fingerprint` for content-stable
    identity (required when the same batch may be re-staged under new file
    names, e.g. foreachBatch epoch redelivery)."""
    t_start = time.time()
    io = open_tableio(spark, index_dir)
    ep = epochs(io.stages())
    fp_batch = batch_fingerprint or fingerprint_path(pages_path)

    for prev_e in reversed(ep.numbers):
        m_prev = ep.commits[prev_e]["metrics"]
        # merged_batch_fingerprints: a partially-compacted epoch carries
        # the fingerprints of every batch it absorbed (compact_epochs) —
        # redelivery of any of them must still be a no-op
        if fp_batch in [m_prev["batch_fingerprint"],
                        *m_prev.get("merged_batch_fingerprints", [])]:
            return {"skipped": True, "epoch": prev_e,
                    "wall_sec": time.time() - t_start}

    e = len(ep.numbers) + 1
    sfx = f"_a{e}"
    n_prev = int(ep.stats["n_docs"])
    avgdl_prev = float(ep.stats["avg_dl"])
    # epoch chain: same batch against a different index state is a new epoch
    fp = fp_batch + ":" + io.stage_snapshot(ep.tables["postings"][-1])
    metrics: dict = {"epoch": e, "batch_fingerprint": fp_batch}

    # ------------------------------------------------------------- A1
    st1 = f"tokenized{sfx}"
    if not io.is_done(st1, fp):
        pages = spark.read.parquet(pages_path)
        io.commit_stage(st1, st1, extract_analyze_tf(pages), fp)
    tokenized = io.read(st1)

    # ------------------------------------------------------------- A2
    # ids continue after the existing MAX id (ids cover rejects too, so
    # this is max(doc_id), not n_docs): the previous epoch committed it
    # as its max_doc_id stage metric — one metadata read, O(delta)
    st2 = f"docs{sfx}"
    s2_fp = fp + ":" + io.stage_snapshot(st1)
    if not io.is_done(st2, s2_fp):
        base_id = int(ep.stats["max_doc_id"])
        delta = assign_doc_ids(tokenized)
        sums = delta._dense_ids_sums  # noqa: SLF001
        n_new = int(sums["__ok"])
        dl_new = int(sums["__dl_pos"])
        max_id = base_id + int(delta._dense_ids_total)  # noqa: SLF001
        shifted = delta.withColumn("doc_id", F.col("doc_id") + base_id)
        io.commit_stage(st2, st2, shifted, s2_fp,
                        metrics={"n_new": n_new, "dl_new": dl_new,
                                 "base_id": base_id, "max_doc_id": max_id})
        unpersist_ids(delta)
    m2 = io.stage_metrics(st2)
    n_new, dl_new = int(m2["n_new"]), int(m2["dl_new"])
    if n_new == 0:
        # empty batch: never commit an epoch (an empty postings table is
        # unreadable and the epoch would be pure noise). The partial A1/A2
        # stages are harmless — the next real append re-targets the same
        # epoch number and overwrites them.
        return {"skipped": True, "reason": "empty_batch", "epoch": e,
                "wall_sec": time.time() - t_start}
    docs_delta = io.read(st2)
    n_tot = n_prev + n_new
    avgdl_tot = ((avgdl_prev * n_prev + dl_new) / n_tot) if n_tot else 0.0

    # ------------------------------------------------------------- A3
    st3 = f"terms{sfx}"
    s3_fp = s2_fp + ":" + io.stage_snapshot(st2)
    if not io.is_done(st3, s3_fp):
        old = io.read(ep.tables["terms"][-1])
        # term ids are dense (1..n), so the prior max id is the prior terms
        # stage's committed vocabulary count — no vocabulary scan
        max_tid = int(io.stage_metrics(ep.tables["terms"][-1])["n_terms"])
        # delta vocabulary straight off the packed rows — no docs_delta
        # join on the vocab path (same shuffle-skip as the cold build's S3)
        vocab_d = term_freqs_nodoc(tokenized).groupBy("term").agg(
            F.count("*").alias("df_d"), F.sum("tf").alias("cf_d"))
        merged_known = (old.join(vocab_d, "term", "left")
                        .select("term_id", "term",
                                (F.col("df")
                                 + F.coalesce("df_d", F.lit(0))).alias("df"),
                                (F.col("cf")
                                 + F.coalesce("cf_d", F.lit(0))).alias("cf")))
        fresh = (vocab_d.join(old.select("term"), "term", "left_anti")
                 .select("term", F.col("df_d").alias("df"),
                         F.col("cf_d").alias("cf")))
        fresh_with = assign_dense_ids(fresh, "term", "term_id")
        fresh_ids = (fresh_with
                     .withColumn("term_id", F.col("term_id") + max_tid)
                     .select("term_id", "term", "df", "cf"))
        # merged vocab count = prior max id + fresh assignments; A4 sizes
        # its terms join with it
        io.commit_stage(
            st3, st3, merged_known.unionByName(fresh_ids), s3_fp,
            metrics={"n_terms":
                     max_tid + int(fresh_with._dense_ids_total)})  # noqa: SLF001
        unpersist_ids(fresh_with)
    terms_merged = io.read(st3)

    # ------------------------------------------------------------- A4
    st4 = f"postings{sfx}"
    s4_fp = s3_fp + ":" + io.stage_snapshot(st3)
    if not io.is_done(st4, s4_fp):
        # the encode is sized by the delta's tokens, not the corpus's
        delta_posts = build_postings(
            term_freqs(tokenized, docs_delta), terms_merged,
            n_tot, avgdl_tot, n_tokens=dl_new,
            n_terms=io.stage_metrics(st3)["n_terms"])
        # already p_bucket-partitioned and sorted: a pass-through write
        io.commit_stage(st4, st4, delta_posts, s4_fp,
                        partition_by=["p_bucket"])

    # ------------------------------------------------------ epoch commit
    st5 = f"stats{sfx}"
    s5_fp = s4_fp + ":" + io.stage_snapshot(st4)
    if not io.is_done(st5, s5_fp):
        bound = min(float(ep.stats["bound_avgdl"]), avgdl_tot)
        io.commit_stage(
            st5, st5, None, s5_fp,
            metrics={"n_docs": n_tot, "avg_dl": avgdl_tot,
                     "bound_avgdl": bound, "max_doc_id": m2["max_doc_id"],
                     "n_new": n_new, "batch_fingerprint": fp_batch})

    metrics.update({"n_new": n_new, "n_docs": n_tot, "avg_dl": avgdl_tot,
                    "wall_sec": time.time() - t_start})
    metrics["docs_per_sec"] = (n_new / metrics["wall_sec"]
                               if metrics["wall_sec"] else 0.0)
    return metrics
