"""Index compaction ("force merge"): rewrite a multi-epoch index into a
fresh single-epoch index directory.

Appends (plans/append_index.py) never rewrite committed blocks, so over
many epochs an index accumulates (a) per-term block fragmentation — every
epoch ends each term with a partial tail block — and (b) WAND-bound
looseness, because bounds are derived with the avgdl-drift factor
max(1, avgdl_now / bound_avgdl). Compaction restores the cold-build state:

  decode every block (lossless codec) → (term_id, doc_id, tf, dl)
  → re-salt / re-sort / re-encode (the build's own encode_enriched)
  → full 128-doc blocks per (term, salt-run), raw bounds under the
    CURRENT avgdl → bound_avgdl == avg_dl (drift factor back to 1)

Invariants of the output:
  * doc_ids and term_ids are PRESERVED, so query results before and after
    compaction are identical (tested);
  * the postings layout is a cold build's: a block is identified by
    (term_id, first_doc), files are p_bucket-partitioned and sorted by
    (term_id, first_doc);
  * the output is a NEW index directory (docs/terms consolidated, stats
    re-stamped, fresh manifest) — immutable-snapshot style: the caller
    flips its pointer/symlink to the compacted dir, the only atomic swap
    primitive that works on every store (and exactly how an Iceberg
    catalog pointer swap behaves); appends continue on it from epoch 1.

Scale: one decode+encode pass over the postings — the same cost profile
as the build's S4, shuffle sized by data volume; at 10^12 docs this runs
as an occasional maintenance job, never on the serve path.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_eslib_spark.config import HEAD_DF_THRESHOLD, N_SALTS
from elasticsearch_eslib_spark.operators.build import encode_enriched
from elasticsearch_eslib_spark.operators.query import decode_blocks
from elasticsearch_eslib_spark.plans.build_index import (
    Index, committed_epochs, read_postings, stats_frame,
)
from elasticsearch_eslib_spark.sources.tableio import (
    _utcnow_iso, open_tableio,
)


class CompactionConflict(RuntimeError):
    """An append committed to the source index while compaction ran; the
    compacted output would silently drop that epoch — abort uncommitted."""


def _index_state(spark: SparkSession, src_dir: str) -> tuple:
    """Identity of the source index's committed content: the base postings
    snapshot plus every committed epoch's stats snapshot. Metadata only —
    re-derived from a FRESH TableIO so a concurrent writer's manifest
    replace is observed."""
    io = open_tableio(spark, src_dir)
    epochs = committed_epochs(io)
    return (io.stage_snapshot("postings"),
            tuple((e, io.stage_snapshot(f"stats_a{e}")) for e in epochs))


def compact_index(spark: SparkSession, src_dir: str, dst_dir: str,
                  pre_commit_hook=None) -> dict:
    """Compact `src_dir` (any number of epochs) into fresh `dst_dir`.

    Single-writer by convention, VERIFIED at the commit point: the source
    snapshot state captured at start is re-checked before the final commit
    (and the caller should check again before flipping its pointer) — if an
    append landed mid-compaction, CompactionConflict aborts with dst_dir
    uncommitted (no postings stage → unreadable as an index), so a stale
    compact can never shadow committed epochs. `pre_commit_hook` is a test
    seam injected between the rewrite and the conflict check."""
    t0 = time.time()
    state0 = _index_state(spark, src_dir)
    idx = Index(spark, src_dir)
    n_docs, avg_dl = idx.n_docs, idx.avg_dl
    src_epochs = committed_epochs(idx.io)
    meta_stage = f"stats_a{src_epochs[-1]}" if src_epochs else "postings"
    # a compaction is a corpus pass anyway, so the legacy (no-metric)
    # fallback agg costs nothing relative to the job
    max_doc_id = int(
        idx.io.stage_metrics(meta_stage).get("max_doc_id")
        or idx.docs.agg(F.max("doc_id")).collect()[0][0] or 0)

    out = open_tableio(spark, dst_dir)
    fp = "compact:" + idx.io.stage_snapshot("postings")

    # re-enrich from decoded blocks: dl rides inside the blocks, df comes
    # from the (vocab-sized, broadcast) terms table for head-term salting
    salt_width = max(1, (n_docs + N_SALTS - 1) // N_SALTS)
    dec = decode_blocks(idx.postings)
    enriched = (dec.join(F.broadcast(idx.terms.select("term_id", "df")),
                         "term_id")
                .select("term_id", "doc_id",
                        F.col("tf").cast("int").alias("tf"),
                        F.col("dl").cast("int").alias("dl"),
                        F.when(F.col("df") > HEAD_DF_THRESHOLD,
                               F.least((F.col("doc_id") / salt_width)
                                       .cast("int"),
                                       F.lit(N_SALTS - 1)))
                        .otherwise(F.lit(0)).alias("salt")))
    posts = encode_enriched(enriched, n_docs, avg_dl)

    out.write_table("docs", idx.docs)
    out.commit_stage("docs_tf", "docs", None, fp,
                     metrics={"n_docs": n_docs, "avg_dl": avg_dl})
    out.write_table("terms", idx.terms)
    out.commit_stage("terms", "terms", None, fp)
    # encode_enriched already emits p_bucket-partitioned, sorted blocks
    out.write_table("postings", posts, partition_by=["p_bucket"])

    import uuid as _uuid

    if pre_commit_hook is not None:
        pre_commit_hook()
    if _index_state(spark, src_dir) != state0:
        raise CompactionConflict(
            f"source index {src_dir} changed during compaction "
            "(append committed mid-run); rerun compaction")

    snapshot = _uuid.uuid4().hex[:26]
    # bound_avgdl == avg_dl again: every block re-encoded under the
    # current stats — the WAND drift factor is exactly 1 post-compaction
    out.write_table("stats",
                    stats_frame(spark, n_docs, avg_dl, avg_dl, snapshot))
    out.commit_stage("postings", "postings", None, fp, snapshot=snapshot,
                     metrics={"n_docs": n_docs, "avg_dl": avg_dl,
                              "max_doc_id": max_doc_id,
                              "compacted_from": src_dir})
    return {"n_docs": n_docs, "avg_dl": avg_dl,
            "wall_sec": time.time() - t0}


# ---------------------------------------------------------------------------
# Tiered (partial) compaction
# ---------------------------------------------------------------------------


def _epoch_stages(e: int) -> list[str]:
    return [f"tokenized_a{e}", f"docs_a{e}", f"terms_a{e}",
            f"postings_a{e}", f"stats_a{e}"]


def compact_epochs(spark: SparkSession, index_dir: str,
                   max_epoch_docs: int | None = None,
                   from_epoch: int | None = None,
                   pre_commit_hook=None) -> dict:
    """Tiered compaction: merge the trailing run of SMALL epochs into one,
    in place — the base index and any large epoch are never decoded.

    `compact_index` (full force-merge) decodes the whole corpus — O(corpus)
    maintenance per invocation, unacceptable as the steady-state tightening
    pass at 10^12 docs where appends land as a stream of small epochs.
    This merges only the maximal SUFFIX of committed epochs whose size
    (stats n_new) is ≤ `max_epoch_docs` (or everything from `from_epoch`
    on), re-encoding just those deltas: per-term tail-block fragmentation
    collapses where it actually accumulates, at O(merged deltas) cost. The
    classic LSM/Lucene tiered-merge shape: K small segments → 1, big
    segments untouched.

    Invariants preserved (same argument as the full compaction docstring):
    doc_ids and term_ids never change; merged blocks are re-encoded under
    the CURRENT avgdl with bound_avgdl = min(bound_before_suffix,
    avgdl_now) so WAND drift stays sound for the untouched older blocks;
    the merged blocks cover only the suffix's doc ids, so a term's blocks
    stay disjoint and ordered by first_doc across epochs; the merged
    epochs' batch fingerprints are carried into the merged epoch's metrics
    so exactly-once append redelivery detection survives the merge.

    Atomicity: the merged tables are written to uniquely-named data dirs,
    then ONE manifest replace (ManifestTableIO.atomic_update) points the
    epoch-j table names at them via aliases, drops epochs j+1..k, and
    re-verifies the source state — a concurrent committed append aborts
    with CompactionConflict before anything becomes visible, and a crash
    at any point leaves either the old or the new state, never a mix.
    (On an Iceberg catalog the same commit is a multi-table transaction —
    not wired here because the sandbox cannot run Iceberg end-to-end.)
    """
    import os
    import shutil
    import uuid as _uuid

    t0 = time.time()
    io = open_tableio(spark, index_dir)
    if not hasattr(io, "atomic_update"):
        raise RuntimeError(
            "partial compaction needs a TableIO with an atomic multi-stage "
            "commit (ManifestTableIO.atomic_update; the Iceberg analog is "
            "a catalog transaction). Use compact_index for a full rewrite.")
    epochs = committed_epochs(io)
    k = epochs[-1] if epochs else 0
    if from_epoch is not None:
        j = from_epoch
        if j < 1 or j > k:
            raise ValueError(f"from_epoch {j} outside committed epochs {epochs}")
    else:
        if max_epoch_docs is None:
            raise ValueError("pass max_epoch_docs or from_epoch")
        j = k + 1
        for e in reversed(epochs):
            n_new = int(io.stage_metrics(f"stats_a{e}").get("n_new", 1 << 60))
            if n_new > max_epoch_docs:
                break
            j = e
    if k - j + 1 < 2:
        return {"skipped": True, "reason": "fewer than 2 epochs to merge",
                "epochs": epochs, "wall_sec": time.time() - t0}

    state0 = _index_state(spark, index_dir)
    suffix = list(range(j, k + 1))
    last = io.read(f"stats_a{k}").collect()[0]
    n_tot = int(last["n_docs"])
    avgdl_tot = float(last["avg_dl"])
    # WAND bound for the epochs that SURVIVE untouched: the bound as of
    # epoch j-1 (they were encoded under avgdls ≥ that); merged blocks are
    # encoded under avgdl_tot
    prev_stats = f"stats_a{j - 1}" if j > 1 else "stats"
    prow = io.read(prev_stats).collect()[0]
    bound_prev = (float(prow["bound_avgdl"])
                  if "bound_avgdl" in prow.__fields__
                  else float(prow["avg_dl"]))
    bound_new = min(bound_prev, avgdl_tot)

    # exactly-once guard survival: collect every merged epoch's batch
    # fingerprint (single + previously-merged lists)
    merged_fps: list[str] = []
    for e in suffix:
        m = io.stage_metrics(f"stats_a{e}")
        if m.get("batch_fingerprint"):
            merged_fps.append(m["batch_fingerprint"])
        merged_fps.extend(m.get("merged_batch_fingerprints", []))

    from functools import reduce

    terms_latest = io.read(f"terms_a{k}")
    docs_merged = reduce(DataFrame.unionByName,
                         [io.read(f"docs_a{e}") for e in suffix])
    posts_suffix = reduce(DataFrame.unionByName,
                          [read_postings(io, f"postings_a{e}")
                           for e in suffix])

    # decode ONLY the suffix epochs' blocks; re-salt under current global
    # df; re-encode under current stats (same path as the full compaction)
    salt_width = max(1, (n_tot + N_SALTS - 1) // N_SALTS)
    dec = decode_blocks(posts_suffix)
    enriched = (dec.join(F.broadcast(terms_latest.select("term_id", "df")),
                         "term_id")
                .select("term_id", "doc_id",
                        F.col("tf").cast("int").alias("tf"),
                        F.col("dl").cast("int").alias("dl"),
                        F.when(F.col("df") > HEAD_DF_THRESHOLD,
                               F.least((F.col("doc_id") / salt_width)
                                       .cast("int"),
                                       F.lit(N_SALTS - 1)))
                        .otherwise(F.lit(0)).alias("salt")))
    # size the encode shuffle from the MERGED SUFFIX volume, not the total
    # corpus: encode_enriched's default derives task count from
    # n_docs·avg_dl, which at a 10^12-doc steady state would schedule
    # O(corpus/4M-token) near-empty tasks for a few small deltas —
    # breaking the O(merged deltas) contract. Same sizing rule as
    # append_index A4 (suffix docs × current avgdl ≈ suffix tokens).
    from elasticsearch_eslib_spark.operators.build import (
        TOKENS_PER_ENCODE_TASK,
    )

    n_new_suffix = sum(
        int(io.stage_metrics(f"stats_a{e}").get("n_new", 0)) for e in suffix)
    suffix_tokens = max(1, int(n_new_suffix * avgdl_tot))
    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_enc = max(n_conf, (suffix_tokens + TOKENS_PER_ENCODE_TASK - 1)
                // TOKENS_PER_ENCODE_TASK)
    posts_new = encode_enriched(enriched, n_tot, avgdl_tot,
                                num_partitions=n_enc)

    # ---- write the merged tables to fresh uniquely-named dirs (invisible
    # until the manifest swap; orphaned on crash/abort — gc'able)
    uid = _uuid.uuid4().hex[:10]
    names = {t: f"{t}_a{j}__m{uid}"
             for t in ("docs", "terms", "postings", "stats")}

    def _raw_write(dirname: str, df: DataFrame,
                   partition_by: list[str] | None = None) -> None:
        w = df.write.mode("error")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(io.root, dirname))

    _raw_write(names["docs"], docs_merged)
    _raw_write(names["terms"], terms_latest)
    # encode_enriched already emits p_bucket-partitioned, sorted blocks
    _raw_write(names["postings"], posts_new, partition_by=["p_bucket"])

    snapshot = _uuid.uuid4().hex[:26]
    _raw_write(names["stats"],
               stats_frame(spark, n_tot, avgdl_tot, bound_new, snapshot))

    max_doc_id = int(io.stage_metrics(f"stats_a{k}").get("max_doc_id", 0))
    n_new_merged = n_new_suffix  # already summed for the encode sizing

    if pre_commit_hook is not None:
        pre_commit_hook()

    # capture the CURRENT data dirs of everything the merge replaces —
    # after the swap these are garbage (alias targets included, so a
    # re-merge of an already-merged epoch cleans its previous target)
    stale_dirs = [io.table_path(t)
                  for e in suffix for t in _epoch_stages(e)
                  if os.path.isdir(io.table_path(t))]

    fp_merge = "pcompact:" + ":".join(
        io.stage_snapshot(f"stats_a{e}") for e in suffix)

    def _mutate(man: dict) -> None:
        # re-verify the source state against the FRESH manifest: any
        # committed append (new epoch or changed snapshots) aborts
        stages = man["stages"]

        def snap(stage: str) -> str | None:
            meta = stages.get(stage)
            return meta["snapshot"] if meta and meta["status"] == "done" \
                else None

        fresh_epochs = []
        e = 1
        while snap(f"stats_a{e}") is not None:
            fresh_epochs.append(e)
            e += 1
        fresh_state = (snap("postings"),
                       tuple((x, snap(f"stats_a{x}")) for x in fresh_epochs))
        if fresh_state != state0:
            raise CompactionConflict(
                f"index {index_dir} changed during partial compaction "
                "(append committed mid-run); rerun")
        aliases = man.setdefault("aliases", {})
        for e2 in suffix:
            for t in _epoch_stages(e2):
                stages.pop(t, None)
                aliases.pop(t, None)
        man["lineage"] = [r for r in man["lineage"]
                          if not any(r.get("stage") == t
                                     for e2 in suffix
                                     for t in _epoch_stages(e2))]
        for t, d in names.items():
            logical = f"{t}_a{j}"
            aliases[logical] = d
            stages[logical] = {
                "status": "done", "table": logical, "snapshot": snapshot,
                "input_fingerprint": fp_merge, "wall_ms": 0,
                "metrics": {}, "updated": _utcnow_iso(),
            }
        stages[f"stats_a{j}"]["metrics"] = {
            "n_docs": n_tot, "avg_dl": avgdl_tot, "max_doc_id": max_doc_id,
            "n_new": n_new_merged,
            "merged_batch_fingerprints": merged_fps,
            "merged_epochs": suffix,
        }

    try:
        io.atomic_update(_mutate)
    except CompactionConflict:
        for t, d in names.items():  # reclaim the invisible merge output
            shutil.rmtree(os.path.join(io.root, d), ignore_errors=True)
        raise
    for d in stale_dirs:  # post-commit gc; crash here leaves only orphans
        shutil.rmtree(d, ignore_errors=True)
    return {"merged_epochs": suffix, "into_epoch": j, "n_docs": n_tot,
            "n_new_merged": n_new_merged, "avg_dl": avgdl_tot,
            "bound_avgdl": bound_new, "wall_sec": time.time() - t0}
