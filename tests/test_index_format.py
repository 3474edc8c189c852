"""One on-disk index format: every `_manifest.json` ManifestTableIO writes
carries `format_version`, and every entry point refuses a directory whose
manifest has no stamp or another one — before it writes anything to the
source or the destination (INDEX_FORMAT.md)."""

from __future__ import annotations

import json
import os

import pytest

from elasticsearch_eslib_spark.fixtures import gen_pages_range
from elasticsearch_eslib_spark.plans.append_index import append_index
from elasticsearch_eslib_spark.plans.build_index import Index, build_index
from elasticsearch_eslib_spark.plans.compact_index import (
    compact_epochs, compact_index,
)
from elasticsearch_eslib_spark.sources.tableio import (
    FORMAT_VERSION, IndexFormatError, ManifestTableIO,
)


def _snapshot(root: str) -> dict:
    """Every file under `root` with its bytes."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _foreign_index(root: str, manifest: dict) -> str:
    """A directory holding `manifest` and one data file a resumed build
    would otherwise reset."""
    os.makedirs(os.path.join(root, "tokenized"))
    with open(os.path.join(root, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    with open(os.path.join(root, "tokenized", "part-0.parquet"), "wb") as fh:
        fh.write(b"not read")
    return root


@pytest.mark.parametrize("stamp", [None, 2, 3],
                         ids=["unstamped", "v2", "v3"])
def test_other_format_refused_untouched(spark, tmp_path, built_index, stamp):
    """Every entry point raises IndexFormatError on a manifest with no
    stamp or another one, and leaves that directory (and a valid source)
    byte-identical; a manifest ManifestTableIO writes is stamped."""
    manifest = {"stages": {}, "lineage": []}
    if stamp is not None:
        manifest["format_version"] = stamp
    bad = _foreign_index(str(tmp_path / "bad"), manifest)
    pdf = gen_pages_range(0, 20)
    pages = str(tmp_path / "pages.parquet")
    pdf.to_parquet(pages, index=False)
    src, _ = built_index
    calls = {
        "Index": lambda: Index(spark, bad),
        "append_index": lambda: append_index(spark, pages, bad),
        "compact_index.src": lambda: compact_index(
            spark, bad, str(tmp_path / "dst")),
        "compact_index.dst": lambda: compact_index(spark, src, bad),
        "compact_epochs": lambda: compact_epochs(spark, bad, from_epoch=1),
        "build_index.resume": lambda: build_index(spark, pages, bad,
                                                  resume=True),
    }
    before = _snapshot(bad)
    src_before = _snapshot(src)
    for name, call in calls.items():
        with pytest.raises(IndexFormatError, match="rebuild"):
            call()
        assert _snapshot(bad) == before, name
    assert _snapshot(src) == src_before
    assert not os.path.exists(tmp_path / "dst")

    # a new manifest carries the stamp and reopens
    io = ManifestTableIO(spark, str(tmp_path / "fresh"))
    io.commit_stage("s", "s", None, "fp")
    with open(io.manifest_path) as fh:
        assert json.load(fh)["format_version"] == FORMAT_VERSION == 4
    assert ManifestTableIO(spark, io.root).stage_snapshot("s")


# the corpus stats an epoch's commit stage (`postings`, `stats_a{e}`) holds
HEAD = {"n_docs", "avg_dl", "bound_avgdl", "max_doc_id", "n_new",
        "batch_fingerprint"}
# the metric keys a build or an append records per stage (epoch digits
# dropped), besides wall_ms
RECORDED = {
    "tokenized": set(), "docs_tf": {"n_docs", "avg_dl", "max_doc_id"},
    "terms": {"n_terms"}, "postings": HEAD,
    "tokenized_a": set(), "docs_a": {"n_new", "dl_new", "base_id",
                                     "max_doc_id"},
    "terms_a": {"n_terms"}, "postings_a": set(), "stats_a": HEAD,
}
# what a compaction adds on top: where the merged content came from
PROVENANCE = {"wall_ms", "compacted_from", "merged_epochs",
              "merged_batch_fingerprints"}


@pytest.mark.parametrize("writer", ["build", "append", "compact_epochs",
                                    "compact_index"])
def test_stage_metrics_match_build_and_append(lifecycle_indexes, writer):
    """Every writer records, for each stage it commits, the metric keys a
    build or an append records for that stage; the corpus stats sit on
    each epoch's commit stage."""
    import re

    with open(os.path.join(lifecycle_indexes[writer],
                           "_manifest.json")) as fh:
        stages = json.load(fh)["stages"]
    heads = {"build": ["postings"], "append": ["stats_a1", "stats_a2"],
             "compact_epochs": ["stats_a1"],
             "compact_index": ["postings"]}[writer]
    assert [s for s in stages if s.startswith("stats_a")] == [
        h for h in heads if h != "postings"]
    for stage, meta in stages.items():
        keys = set(meta["metrics"]) - PROVENANCE
        assert keys == RECORDED[re.sub(r"\d+$", "", stage)], stage
    for head in heads:
        m = stages[head]["metrics"]
        assert m["bound_avgdl"] <= m["avg_dl"] and m["n_new"] > 0, head
