#!/usr/bin/env python
"""Query latency vs index size: the p95 that measures the INDEX, not the
scheduler (BENCH/BASELINE.md round-2 item).

For each corpus size, the full 12-query fixture set runs as ONE batched
Spark job (topk_wand / topk_exhaustive already take the whole query set),
repeated REPS times against a warm index; per-query latency = job wall /
n_queries. Reported: p50/p95 per path per size, and the WAND : exhaustive
ratio — the number that shows block-max skipping paying for itself as the
postings grow (at small indexes fixed per-job overhead dominates and the
two paths tie).

Index builds are cached under BENCH/.fixtures/index_<n>/ (manifest-complete
check) so re-runs only measure queries. Fixture corpora are generated in
parallel chunks (multiple parquet files — which is also what a real corpus
looks like to the scan).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SIZES = tuple(int(x) for x in
              os.environ.get("QUERY_BENCH_DOCS", "600000,6000000").split(","))
REPS = int(os.environ.get("QUERY_BENCH_REPS", "10"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ensure_corpus(n_docs: int) -> str:
    """Chunked, parallel fixture generation (multiprocessing over doc-id
    ranges; one parquet file per chunk, deterministic per chunk)."""
    out_dir = os.path.join(REPO, "BENCH", ".fixtures", f"pages_{n_docs}")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    # the 600k scaling fixture already exists as a single splittable file
    ci = os.path.join(REPO, "BENCH", ".fixtures", "pages_ci")
    if n_docs == 600_000 and os.path.exists(
            os.path.join(ci, f"_FIXTURE_{n_docs}")):
        return ci
    import multiprocessing as mp

    os.makedirs(out_dir, exist_ok=True)
    chunk = 100_000
    ranges = [(lo, min(lo + chunk, n_docs))
              for lo in range(0, n_docs, chunk)]
    todo = [(lo, hi, os.path.join(out_dir, f"part-{lo:09d}.parquet"))
            for lo, hi in ranges]
    todo = [t for t in todo if not os.path.exists(t[2])]
    with mp.Pool(min(CPUS, 16)) as pool:
        for i, _ in enumerate(pool.imap_unordered(_gen_chunk, todo)):
            print(f"fixture chunk {i + 1}/{len(todo)}", file=sys.stderr,
                  flush=True)
    with open(marker, "w") as fh:
        fh.write(str(n_docs))
    return out_dir


def _gen_chunk(args) -> None:
    lo, hi, path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.fixtures import gen_pages_range

    pdf = gen_pages_range(lo, hi)
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), False),
    ])
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=10_000)
    os.replace(tmp, path)


def ensure_index(spark, corpus: str, n_docs: int) -> str:
    from elasticsearch_eslib_spark.plans.build_index import build_index

    # v4 suffix: the manifest format_version (INDEX_FORMAT.md) — an index
    # cached under an older suffix has another format and is refused
    index_dir = os.path.join(REPO, "BENCH", ".fixtures", f"index_{n_docs}_v4")
    manifest = os.path.join(index_dir, "_manifest.json")
    done = False
    if os.path.exists(manifest):
        with open(manifest) as fh:
            done = "postings" in json.load(fh).get("stages", {})
    if not done:
        t0 = time.time()
        build_index(spark, corpus, index_dir, resume=True)
        print(f"built index_{n_docs} in {time.time() - t0:.0f}s",
              file=sys.stderr, flush=True)
    return index_dir


def measure(spark, index_dir: str, path: str) -> dict:
    """PERSISTENT-SERVE measurement: a serving deployment opens the index
    ONCE (Index handle + cached terms table) and answers query batches
    against it — per-rep work is resolve + scan + score only. Re-opening
    the index per batch (the round-2 methodology) measured manifest IO +
    stats collect + terms scans instead of the index."""
    from elasticsearch_eslib_spark.fixtures import gen_queries
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    idx = Index(spark, index_dir)
    idx.terms = idx.terms.persist()
    idx.terms.count()  # a serving system holds the term dictionary hot
    fn = topk_wand if path == "wand" else topk_exhaustive
    qdf = spark.createDataFrame(gen_queries())
    n_q = qdf.count()
    fn(qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl).count()  # warm
    lat = []
    for _ in range(REPS):
        t0 = time.time()
        fn(qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl).count()
        lat.append((time.time() - t0) * 1000 / n_q)
    idx.terms.unpersist()
    lat.sort()
    return {
        "p50_ms": round(statistics.median(lat), 1),
        "p95_ms": round(lat[max(0, int(len(lat) * 0.95) - 1)], 1),
        "reps": REPS,
        "queries_per_job": n_q,
    }


def main() -> None:
    from elasticsearch_eslib_spark.config import get_spark

    # merge into any existing results so sizes can be (re)measured one at a
    # time (QUERY_BENCH_DOCS=<n>) without clobbering the other rows
    results: dict = {}
    out_path = os.path.join(REPO, "BENCH", "query_latency.json")
    if os.path.exists(out_path):
        with open(out_path) as fh:
            results = json.load(fh).get("sizes", {})
    for n in SIZES:
        corpus = ensure_corpus(n)
        spark = get_spark(f"qlat-{n}", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
        index_dir = ensure_index(spark, corpus, n)
        results[str(n)] = {
            "wand": measure(spark, index_dir, "wand"),
            "exhaustive": measure(spark, index_dir, "exhaustive"),
        }
        r = results[str(n)]
        r["wand_vs_exhaustive_p50"] = round(
            r["exhaustive"]["p50_ms"] / r["wand"]["p50_ms"], 2)
        print(f"{n}: wand p50 {r['wand']['p50_ms']}ms "
              f"exhaustive p50 {r['exhaustive']['p50_ms']}ms "
              f"(ratio {r['wand_vs_exhaustive_p50']})",
              file=sys.stderr, flush=True)
        spark.stop()
    out = {"metric": "BM25 per-query latency (12-query batched job)",
           "cpus": CPUS, "sizes": results}
    print(json.dumps(out))
    # raw record only — BENCH/BASELINE.md is hand-curated from this JSON
    with open(os.path.join(REPO, "BENCH", "query_latency.json"), "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
