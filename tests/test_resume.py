"""C1–C3: kill mid-build → resume completes; lineage records skipped
buckets; output identical to a cold build (SURVEY.md §5.2)."""

import json
import os

import pytest

from elasticsearch_eslib_spark.fixtures import gen_queries
from elasticsearch_eslib_spark.plans.build_index import BuildError, build_index
from elasticsearch_eslib_spark.plans.run_queries import run_queries


def _results(spark, index_dir):
    qdf = spark.createDataFrame(gen_queries())
    rows = run_queries(spark, index_dir, qdf, path="exhaustive").collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                  for r in rows)


def test_resume_after_injected_failure(spark, pages_parquet, built_index,
                                       tmp_path):
    cold_dir, _ = built_index
    cold = _results(spark, cold_dir)

    resumed_dir = str(tmp_path / "idx_resume")
    with pytest.raises(BuildError):
        build_index(spark, pages_parquet, resumed_dir, n_commit_groups=4,
                    fail_after_group=1)

    # lineage shows partial completion before the failure
    with open(os.path.join(resumed_dir, "_manifest.json")) as fh:
        manifest = json.load(fh)
    done_before = {r["partition_id"] for r in manifest["lineage"]
                   if r["stage"] == "tokenized" and r["status"] == "done"}
    assert 0 < len(done_before) < 32
    assert "tokenized" not in manifest["stages"]  # stage not committed

    metrics = build_index(spark, pages_parquet, resumed_dir, resume=True)
    assert metrics["n_docs"] == 1000

    # resumed lineage covers all buckets exactly once
    with open(os.path.join(resumed_dir, "_manifest.json")) as fh:
        manifest = json.load(fh)
    done_after = [r["partition_id"] for r in manifest["lineage"]
                  if r["stage"] == "tokenized" and r["status"] == "done"]
    assert sorted(done_after) == list(range(32))
    assert manifest["stages"]["tokenized"]["status"] == "done"

    assert _results(spark, resumed_dir) == cold


def test_resume_after_crash_between_write_and_record(spark, pages_parquet,
                                                     built_index, tmp_path):
    """The atomicity window ADVICE flagged: crash AFTER a commit group's
    parquet write but BEFORE its lineage record. The written files must be
    invisible to read(), and the resumed build must produce output
    identical to a cold build — in particular no duplicated urls."""
    from pyspark.sql import functions as F

    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    cold_dir, _ = built_index
    cold = _results(spark, cold_dir)

    d = str(tmp_path / "idx_crash_window")
    with pytest.raises(BuildError):
        build_index(spark, pages_parquet, d, n_commit_groups=4,
                    fail_before_record=1)

    # group 0 recorded; group 1's files exist on disk but are unregistered
    io = open_tableio(spark, d)
    n_visible = io.read("tokenized").count()
    with open(os.path.join(d, "_manifest.json")) as fh:
        manifest = json.load(fh)
    done = {r["partition_id"] for r in manifest["lineage"]
            if r["stage"] == "tokenized" and r["status"] == "done"}
    assert 0 < len(done) < 32
    on_disk = set(os.listdir(os.path.join(d, "tokenized")))
    registered = {r["data_dir"] for r in manifest["lineage"]
                  if r["stage"] == "tokenized"}
    assert on_disk - registered, "orphan dir from the crash must exist"

    metrics = build_index(spark, pages_parquet, d, resume=True)
    assert metrics["n_docs"] == 1000

    io = open_tableio(spark, d)
    tokenized = io.read("tokenized")
    assert tokenized.count() == 1000
    dup = (tokenized.groupBy("url").count()
           .where(F.col("count") > 1).count())
    assert dup == 0, "resume after crash window duplicated rows"
    assert n_visible < 1000  # pre-resume view really excluded the orphan
    assert _results(spark, d) == cold


def test_lineage_df_matches_declared_schema(spark, built_index):
    from elasticsearch_eslib_spark import schemas
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    ldf = open_tableio(spark, index_dir).lineage_df()
    assert ldf.schema == schemas.LINEAGE
    assert ldf.count() > 0
    # the corpus stats live in the postings stage's metrics, no table
    stats = open_tableio(spark, index_dir).stage_metrics("postings")
    assert {"n_docs", "avg_dl", "bound_avgdl", "max_doc_id", "n_new",
            "batch_fingerprint"} <= set(stats)
    assert stats["bound_avgdl"] == stats["avg_dl"]


def test_resume_noop_when_complete(spark, pages_parquet, built_index):
    """Re-running with resume=True on a finished index skips every stage."""
    index_dir, _ = built_index
    with open(os.path.join(index_dir, "_manifest.json")) as fh:
        before = json.load(fh)["stages"]
    metrics = build_index(spark, pages_parquet, index_dir, resume=True)
    with open(os.path.join(index_dir, "_manifest.json")) as fh:
        after = json.load(fh)["stages"]
    # snapshots unchanged → nothing recomputed
    assert {k: v["snapshot"] for k, v in before.items()} == \
           {k: v["snapshot"] for k, v in after.items()}
    assert metrics["s1_skipped"]
