"""Index-build pipeline driver (SURVEY.md §3.2 lifecycle 1) with resume.

Stage graph (each stage a committed table + manifest snapshot + lineage):

  S1 tokenized  pages → E1 extract → E2 analyze → per-doc tf
                bucket-partitioned by hash(url); committed in N_COMMIT
                groups → PARTITION-LEVEL resume (the expensive stage:
                HTML parsing; a restart skips every committed bucket).
  S2 docs+tf    deterministic doc ids (E3 two-pass) → docs, term_freqs
  S3 terms      vocabulary + dense term ids (E5)
  S4 postings   salt → sort → encode blocks (E7–E9) → postings (bucketed
                by term_id % 32 for query-time pruning) + stats

Stage-level resume: a stage whose manifest entry is 'done' for the same
input fingerprint chain is skipped entirely. This mirrors Iceberg-snapshot
checkpointing through the TableIO interface (sources/tableio.py).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_eslib_spark import schemas
from elasticsearch_eslib_spark.functions.planutil import (
    local_frame, scan_partitions,
)
from elasticsearch_eslib_spark.operators.build import (
    assign_doc_ids, build_postings, build_terms,
    extract_analyze_tf, term_freqs, term_freqs_nodoc,
)
from elasticsearch_eslib_spark.operators.ids import unpersist_ids
from elasticsearch_eslib_spark.operators.query import N_POSTING_BUCKETS
from elasticsearch_eslib_spark.sources.tableio import (
    fingerprint_path, open_tableio,
)

N_INPUT_BUCKETS = 32

# Commit groups trade resume granularity (buckets per checkpoint commit)
# against per-job fixed overhead. The default is ADAPTIVE: one commit
# group per ~this many input bytes (clamped to [1, 8]) — a small corpus
# pays one commit, a big one checkpoints every ~512 MB of raw pages.
# Buckets, not groups, are the resume unit, so a resumed run with a
# different grouping still skips exactly the committed buckets.
COMMIT_GROUP_BYTES = 512 << 20


class BuildError(RuntimeError):
    pass


def stats_frame(spark: SparkSession, n_docs: int, avg_dl: float,
                bound_avgdl: float, snapshot: str) -> DataFrame:
    """The one-row stats table (schemas.STATS columns), stamped now."""
    import datetime as dt

    return local_frame(
        spark, [(n_docs, avg_dl, bound_avgdl,
                 dt.datetime.now(dt.timezone.utc), snapshot)],
        "n_docs long, avg_dl double, bound_avgdl double, "
        "built_at timestamp, snapshot string")


def _data_files(path: str) -> list[str]:
    """The parquet data files under `path`."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(root, f) for root, _dirs, files in os.walk(path)
            for f in files if not f.startswith(("_", "."))]


def build_index(spark: SparkSession, pages_path: str, index_dir: str,
                resume: bool = False,
                n_buckets: int = N_INPUT_BUCKETS,
                n_commit_groups: int | None = None,
                fail_after_group: int | None = None,
                fail_before_record: int | None = None) -> dict:
    """Build the full index; returns metrics. Failure injection (resume
    tests): `fail_after_group` raises after that S1 group's lineage record;
    `fail_before_record` raises after the group's parquet write but BEFORE
    its lineage record — the crash window that must not duplicate rows."""
    import shutil

    t_start = time.time()
    if not resume:
        shutil.rmtree(index_dir, ignore_errors=True)  # cold build
    io = open_tableio(spark, index_dir)

    fp_input = fingerprint_path(pages_path)
    metrics: dict = {"input_fingerprint": fp_input}

    # ------------------------------------------------------------- S1
    s1_fp = fp_input
    if not io.is_done("tokenized", s1_fp):
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # A few large input files would serialize the Arrow/Python stage.
        # Fix it at the SCAN, not with a shuffle: size
        # spark.sql.files.maxPartitionBytes so the parquet scan itself
        # yields ≥ n_part splits, and extraction runs directly on scan
        # tasks — the raw html bytes never cross a shuffle (the round-2
        # `repartition(n_part, "url")` moved the whole html column per
        # commit group). Scoped to S1: restored before S2 planning.
        mpb_key = "spark.sql.files.maxPartitionBytes"
        mpb_old = spark.conf.get(mpb_key)
        in_files = _data_files(pages_path)
        in_bytes = sum(map(os.path.getsize, in_files))
        if n_commit_groups is None:
            n_commit_groups = max(1, min(8, in_bytes // COMMIT_GROUP_BYTES))
        # split count must OVERSUBSCRIBE the slots (≥4×), not equal them:
        # `in_bytes // n_part` gave e.g. 9 × 128 MB splits at 8 slots —
        # every commit group then ran its extraction as 2 waves with a
        # single-task straggler wave (packing efficiency 9/16), which
        # showed up as S1 scaling only 2.5× from local[2]→local[8]
        # (round-5 stage walls). With ~4 tasks per slot the last wave
        # rounds off instead of dominating, at any executor count.
        # floor 2 MB (was 4 MB): the floor only binds for small corpora
        # (at scale in_bytes/(4·slots) ≫ it), exactly where finer splits
        # matter — the bench fixture's 94 MB at 4 MB yielded 24 tasks on
        # 32 slots (under-parallel by design intent); 2 MB gives ~2 row
        # groups per split at the fixture's ~1.2 MB row-group size, no
        # empty splits. Measured (3× alternating): 5.6 → 4.0 s for the
        # extract+write pass.
        target = max(2 << 20, min(128 << 20,
                                  in_bytes // max(16, 4 * n_part)))
        spark.conf.set(mpb_key, str(target))
        # bucket on the RAW url so each commit group filters BEFORE the
        # Python extraction (the expensive stage runs exactly once per doc)
        pages = spark.read.parquet(pages_path).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
        # last-resort spread for inputs too small to split at the 2 MB
        # floor yet big enough that one extraction task would drag (the
        # packed-row shuffle this causes is tiny at that size)
        # arithmetic split estimate (Spark's own split rule, see
        # scan_partitions) instead of
        # pages.rdd.getNumPartitions() — the RDD conversion costs ~0.1-0.2 s
        # of driver plan building for a number already derivable from
        # the file sizes and footers (see planutil.spread for the same
        # trade)
        need_spread = (in_bytes > (8 << 20)
                       and scan_partitions(spark, in_files) < n_part)
        done = io.done_partitions("tokenized", s1_fp) if resume else set()
        if not done:
            # nothing committed for THIS input fingerprint — start S1 clean
            # (stale data + lineage from a different input must not survive)
            io.reset_stage("tokenized", "tokenized")
        else:
            # reclaim disk from crash-window orphans (read() ignores them)
            io.gc_unregistered("tokenized", "tokenized")
        groups = [
            [b for b in range(n_buckets) if b % n_commit_groups == g]
            for g in range(n_commit_groups)
        ]
        t0 = time.time()
        try:
            for g, buckets in enumerate(groups):
                todo = [b for b in buckets if b not in done]
                if not todo:
                    continue
                slice_df = pages.where(F.col("bucket").isin(todo))
                if need_spread:
                    slice_df = slice_df.repartition(n_part, "url")
                part = extract_analyze_tf(slice_df).withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
                # coalesce the write to ONE file per bucket: extraction ran
                # on the (many) scan partitions above; without this shuffle
                # every extraction task writes into every bucket dir →
                # n_part × n_buckets tiny files per group, and the 3
                # downstream scans of tokenized pay per-file overhead that
                # stops scaling past ~8 cores (measured: S2/S3 stage walls
                # flat from local[8]→[32]). The shuffle itself moves only
                # the PACKED rows (~0.3 KB/doc). Hash-partitioned by bucket
                # (a bucket never spans two partitions) with no fixed
                # count: the stage starts at spark.sql.shuffle.partitions
                # and AQE merges small partitions (see encode_enriched).
                part = part.repartition("bucket")
                # the group append + its bucket lineage commit atomically
                # inside the TableIO impl (unique-dir + manifest replace,
                # or a single Iceberg snapshot); a crash anywhere leaves no
                # visible partial
                try:
                    io.commit_group(
                        "tokenized", "tokenized", part, todo, s1_fp,
                        partition_by=["bucket"],
                        crash_before_record=(
                            fail_before_record is not None
                            and g >= fail_before_record))
                except Exception as exc:
                    if "injected crash" in str(exc):
                        raise BuildError(str(exc)) from exc
                    raise
                if fail_after_group is not None and g >= fail_after_group:
                    raise BuildError(
                        f"injected failure after commit group {g}")
        finally:
            spark.conf.set(mpb_key, mpb_old)
        io.commit_stage("tokenized", "tokenized", None, s1_fp,
                        metrics={"wall_ms": int((time.time() - t0) * 1000)})
    metrics["s1_skipped"] = io.is_done("tokenized", s1_fp)

    tokenized = io.read("tokenized")

    # ------------------------------------------------------------- S2
    s2_fp = s1_fp + ":" + io.stage_snapshot("tokenized")
    if not io.is_done("docs_tf", s2_fp):
        t0 = time.time()
        docs = assign_doc_ids(tokenized)
        io.write_table("docs", docs)
        sums = docs._dense_ids_sums  # noqa: SLF001 — free from pass 1
        n_docs = int(sums["__ok"])   # indexable docs (rejects excluded)
        avg_dl = (sums["__dl_pos"] / n_docs) if n_docs else 0.0
        # max_doc_id (dense 1-based ids cover rejects too, so this is the
        # assignment total) rides the metrics so appends never re-derive it
        # from a docs-table scan (plans/append_index.py)
        max_doc_id = int(docs._dense_ids_total)  # noqa: SLF001
        unpersist_ids(docs)
        io.commit_stage("docs_tf", "docs", None, s2_fp,
                        metrics={"n_docs": n_docs, "avg_dl": avg_dl,
                                 "max_doc_id": max_doc_id,
                                 "wall_ms": int((time.time() - t0) * 1000)})
    docs = io.read("docs")

    # ------------------------------------------------------------- S3
    s3_fp = s2_fp + ":" + io.stage_snapshot("docs_tf")
    if not io.is_done("terms", s3_fp):
        t0 = time.time()
        # vocabulary aggregates per TERM — fed straight off tokenized's
        # packed rows, skipping the url-join with docs entirely (both
        # sides of that join are corpus-sized; the terms stage ignored
        # the doc ids it paid for)
        terms = build_terms(term_freqs_nodoc(tokenized))
        io.write_table("terms", terms)
        # vocab row count is free from the dense-id counting pass; S4
        # sizes the terms join with it (broadcast vs Zipf head/tail split)
        n_terms = int(terms._dense_ids_total)  # noqa: SLF001
        unpersist_ids(terms)
        io.commit_stage("terms", "terms", None, s3_fp,
                        metrics={"n_terms": n_terms,
                                 "wall_ms": int((time.time() - t0) * 1000)})
    terms = io.read("terms")

    # ------------------------------------------------------------- S4
    s4_fp = s3_fp + ":" + io.stage_snapshot("terms")
    if not io.is_done("postings", s4_fp):
        t0 = time.time()
        s2_metrics = io.stage_metrics("docs_tf")
        n_docs = int(s2_metrics["n_docs"])
        avg_dl = float(s2_metrics["avg_dl"])
        # term freqs stay a VIEW over (tokenized ⋈ docs) — materializing
        # the 100×-docs-sized tf stream as its own table doubled the
        # build's IO for no resume value (S4 is the only consumer and is
        # itself a checkpoint); dl rides the packed rows through the
        # explode, so S4 pays exactly ONE corpus-sized join (url → doc_id)
        tf = term_freqs(tokenized, docs)
        # n_terms missing only on manifests committed before it was
        # recorded — the join then broadcasts whole, the legacy behavior
        try:
            n_terms = io.stage_metrics("terms").get("n_terms")
        except KeyError:
            n_terms = None
        postings = build_postings(tf, terms, n_docs, avg_dl,
                                  n_terms=n_terms)
        # one file per p_bucket dir: build_postings emits the block rows
        # partitioned by p_bucket and sorted, so the write is a
        # pass-through (operators/build.py)
        io.write_table("postings", postings, partition_by=["p_bucket"])
        # stats carries the snapshot id it belongs to (schemas.STATS)
        import uuid as _uuid2

        snapshot = _uuid2.uuid4().hex[:26]
        io.write_table("stats",
                       stats_frame(spark, n_docs, avg_dl, avg_dl, snapshot))
        io.commit_stage("postings", "postings", None, s4_fp,
                        snapshot=snapshot,
                        metrics={"n_docs": n_docs, "avg_dl": avg_dl,
                                 "max_doc_id": int(
                                     io.stage_metrics("docs_tf")
                                     .get("max_doc_id", n_docs)),
                                 "wall_ms": int((time.time() - t0) * 1000)})

    # n_docs/avg_dl come from the manifest metrics (same values the stats
    # table holds) — the stats-table read here was one more ~0.3 s per-job
    # floor at the build tail; legacy manifests without the metrics fall
    # back to the table
    try:
        s2m = io.stage_metrics("docs_tf")
        metrics["n_docs"] = int(s2m["n_docs"])
        metrics["avg_dl"] = float(s2m["avg_dl"])
    except KeyError:
        stats = io.read("stats").collect()[0]
        metrics["n_docs"] = int(stats["n_docs"])
        metrics["avg_dl"] = float(stats["avg_dl"])
    metrics["wall_sec"] = time.time() - t_start
    metrics["docs_per_sec"] = metrics["n_docs"] / metrics["wall_sec"]
    return metrics


def read_postings(io, table: str) -> DataFrame:
    """A postings table as schemas.POSTINGS plus p_bucket. Files written
    before blocks were addressed by first_doc alone also hold a block_id
    column; projecting it away lets such epochs union with newer ones."""
    return io.read(table).select(
        [f.name for f in schemas.POSTINGS.fields] + ["p_bucket"])


class Index:
    """Loaded index handle for the query path.

    Incremental appends (plans/append_index.py) add per-epoch docs/postings
    tables and a rewritten terms/stats; the handle presents the UNION so
    the query path is epoch-oblivious."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from functools import reduce

        io = open_tableio(spark, index_dir)
        epochs = committed_epochs(io)
        suffixes = [""] + [f"_a{e}" for e in epochs]
        self.docs = reduce(DataFrame.unionByName,
                           [io.read(f"docs{s}") for s in suffixes])
        self.terms = io.read(f"terms_a{epochs[-1]}" if epochs else "terms")
        self.postings = reduce(DataFrame.unionByName,
                               [read_postings(io, f"postings{s}")
                                for s in suffixes])
        row = io.read(f"stats_a{epochs[-1]}" if epochs else "stats").collect()[0]
        self.n_docs = int(row["n_docs"])
        self.avg_dl = float(row["avg_dl"])
        # pre-append-era stats tables lack the column: a single-epoch index
        # has bound_avgdl == avg_dl by construction
        self.bound_avgdl = (float(row["bound_avgdl"])
                            if "bound_avgdl" in row.__fields__
                            else self.avg_dl)
        self.io = io


def _stage_done_any_fp(io, stage: str) -> bool:
    """Stage committed under ANY fingerprint (TableIO-impl agnostic)."""
    man = getattr(io, "manifest", None)
    if man is not None:
        return man["stages"].get(stage, {}).get("status") == "done"
    try:
        return bool(io.stage_snapshot(stage))
    except Exception:
        return False


def committed_epochs(io) -> list[int]:
    """Contiguous committed append epochs: epoch e counts only when its
    FINAL stage (stats_a{e}) is done — a crashed append leaves no visible
    epoch and is resumed or ignored."""
    out: list[int] = []
    e = 1
    while _stage_done_any_fp(io, f"stats_a{e}"):
        out.append(e)
        e += 1
    return out
