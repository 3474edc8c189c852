"""The benchmark's workloads. Each takes a `Run` (session, seed, inputs,
tracer, output checks) and returns its end-to-end metrics; traced runs
also fill `run.layers` with per-layer metrics.

  build  one cold build_index of a seeded corpus, the first build of the
         run's fresh session (~25 s, so it outlasts the run's seconds).
         Traced runs add the build operators one by one, then append two
         disjoint batches and compact (tiered, then full).
  serve  the index is built in set-up; a closed loop of one client sends
         single-query requests for a third of the seconds, batched jobs of
         the same stream fill the rest (a request costs ~2 s and ~6 core-s,
         steady from run to run; a 40-query batch ~3 s, less steady, so
         batches get the larger share).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench import inputs
from perfbench import trace as tr

N_DOCS = 4000          # corpus size (docs) of build
SERVE_DOCS = 2000      # corpus size (docs) of serve
BATCH_QUERIES = 40     # queries per batched serve job
K = 10


class Run:
    """State of one benchmark run."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 work: str, cache: str, n_docs: int | None, procs: int):
        self.spark = None
        self.tracer = None
        self.session: dict = {}
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cache = cache
        self.n_docs = n_docs  # None: the workload's own corpus size
        self.procs = procs
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.windows: dict[str, tuple[str, float, float]] = {}
        self.setup_end: float | None = None  # time set-up finished

    def start(self) -> None:
        """Start the pinned session (after input generation, so generator
        processes never overlap it) and print its settings."""
        from elasticsearch_eslib_spark.config import get_spark

        n = tr.nproc()
        self.spark = get_spark("perfbench", master=f"local[{n}]",
                               shuffle_partitions=n)
        self.tracer = tr.Tracer(self.spark, self.trace)
        self.session = {"master": self.spark.sparkContext.master,
                        "shuffle_partitions": int(self.spark.conf.get(
                            "spark.sql.shuffle.partitions")),
                        "driver_memory": tr.DRIVER_MEM,
                        "spark": self.spark.version}
        print("perfbench: session " + json.dumps(self.session), flush=True)

    def stop(self) -> None:
        if self.spark is not None:
            tr.stop_spark(self.spark)
            self.spark = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def corpus(self, lo: int, hi: int) -> inputs.Corpus:
        return inputs.corpus(self.cache, self.seed, lo, hi, self.procs)

    def window(self, span: str, group: str, lo: float, hi: float) -> None:
        """Jobs of `group` submitted in [lo, hi] count toward `span`;
        repeated calls widen the window."""
        if span in self.windows:
            _g, lo0, hi0 = self.windows[span]
            lo, hi = min(lo, lo0), max(hi, hi0)
        self.windows[span] = (group, lo, hi)


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
                files += 1
    return total, files


def _query_df(spark, qs: list[tuple[int, str]]):
    return spark.createDataFrame([(q, s, K) for q, s in qs],
                                 "query_id long, query string, k int")


def _wand(idx, qdf):
    from elasticsearch_eslib_spark.operators.query import topk_wand

    return topk_wand(qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl,
                     bound_avgdl=idx.bound_avgdl)


def _check_batch(run: Run, rows, qs, oracle: inputs.Oracle,
                 what: str) -> None:
    by_q: dict[int, list] = {q: [] for q, _ in qs}
    for r in rows:
        qid = int(r["query_id"])
        if qid in by_q:
            by_q[qid].append(r)
        else:
            run.check(False, f"{what}: answer for unknown query {qid}")
    for q, s in qs:
        run.check(inputs.same_topk(by_q[q], oracle.topk(s, K)),
                  f"{what} query {q} {s!r}")


def _fixture_queries() -> list[tuple[int, str]]:
    from elasticsearch_eslib_spark.fixtures import gen_queries

    pdf = gen_queries()
    return list(zip(pdf["query_id"].astype(int), pdf["query"]))


def _iso_epoch(s: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# in-process layers (functions.extract / analyze / codec)
# ---------------------------------------------------------------------------

def _per_item(fn, n_items: int, min_s: float = 0.2) -> float:
    """Median seconds per item over 3 timings of `fn`, each repeated
    until it has run for at least `min_s`."""
    out = []
    for _ in range(3):
        reps = 0
        t0 = time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out.append(dt / (reps * n_items))
    return statistics.median(out)


def function_layers(run: Run, c: inputs.Corpus) -> None:
    import numpy as np

    from elasticsearch_eslib_spark.functions.analyze import analyze_text
    from elasticsearch_eslib_spark.functions.codec import (
        decode_posting_block, encode_posting_blocks,
    )
    from elasticsearch_eslib_spark.functions.extract import extract_text

    n = min(200, len(c))
    html, langs = c.html[:n], c.langs[:n]
    texts = [extract_text(h) for h in html]
    run.layers["extract.us_per_doc"] = 1e6 * _per_item(
        lambda: [extract_text(h) for h in html], n)
    run.layers["analyze.us_per_doc"] = 1e6 * _per_item(
        lambda: [analyze_text(t, lg) for t, lg in zip(texts, langs)], n)

    postings: dict[str, list[tuple[int, int, int]]] = {}
    for doc, toks in enumerate(c.tokens[:500], start=1):
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for t, tf in counts.items():
            postings.setdefault(t, []).append((doc, tf, len(toks)))
    lists = [np.array(v, dtype=np.int64).T for v in postings.values()]
    n_post = sum(a.shape[1] for a in lists)
    blocks = [b for a in lists for b in encode_posting_blocks(a[0], a[1], a[2])]
    run.layers["codec.encode_ns_per_posting"] = 1e9 * _per_item(
        lambda: [encode_posting_blocks(a[0], a[1], a[2]) for a in lists],
        n_post)
    run.layers["codec.decode_ns_per_posting"] = 1e9 * _per_item(
        lambda: [decode_posting_block(b["first_doc"], b["doc_deltas"],
                                      b["tfs"], b["dls"]) for b in blocks],
        n_post)
    run.layers["codec.bytes_per_posting"] = sum(
        len(b["doc_deltas"]) + len(b["tfs"]) + len(b["dls"])
        for b in blocks) / n_post


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

_BUILD_STAGES = (("s1", "tokenized"), ("s2", "docs_tf"), ("s3", "terms"),
                 ("s4", "postings"))
_TABLES = ("tokenized", "docs", "terms", "postings", "block_offs", "stats")


def _build_stage_layers(run: Run, index_dir: str, t_call: float,
                        wall_s: float) -> None:
    """S1–S4 walls from stages.<s>.metrics.wall_ms (the top-level wall_ms
    is the commit-only time, reported as tableio.commit_ms), job windows
    for the stage spans, and table sizes."""
    import json

    with open(os.path.join(index_dir, "_manifest.json")) as fh:
        stages = json.load(fh)["stages"]
    lo = t_call
    stage_sum = 0.0
    commit_ms = 0.0
    for short, stage in _BUILD_STAGES:
        st = stages[stage]
        s = st["metrics"]["wall_ms"] / 1000.0
        stage_sum += s
        commit_ms += st["wall_ms"]
        run.layers[f"build.{short}_s"] = s
        hi = _iso_epoch(st["updated"])
        run.window(f"build.{short}", "build", lo, hi)
        lo = hi
    run.layers["build.other_s"] = wall_s - stage_sum
    run.layers["tableio.commit_ms"] = commit_ms
    for t in _TABLES:
        run.layers[f"tableio.{t}_bytes"] = float(
            _dir_bytes(os.path.join(index_dir, t))[0])
    run.layers["tableio.postings_files"] = float(
        _dir_bytes(os.path.join(index_dir, "postings"))[1])


def _build_op_layers(run: Run, c: inputs.Corpus, index_dir: str) -> None:
    """operators.build / ids: each public call on the committed stage
    inputs of `index_dir`, written to the noop sink."""
    from elasticsearch_eslib_spark.operators import build as ob
    from elasticsearch_eslib_spark.operators.ids import unpersist_ids
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    io = open_tableio(run.spark, index_dir)
    tokenized, docs, terms = (io.read(t) for t in ("tokenized", "docs",
                                                   "terms"))
    m = io.stage_metrics("docs_tf")
    calls = {
        "extract_analyze_tf": lambda: ob.extract_analyze_tf(
            run.spark.read.parquet(c.path)),
        "assign_doc_ids": lambda: ob.assign_doc_ids(tokenized),
        "build_terms": lambda: ob.build_terms(ob.term_freqs_nodoc(tokenized)),
        "build_postings": lambda: ob.build_postings(
            ob.term_freqs(tokenized, docs), terms, int(m["n_docs"]),
            float(m["avg_dl"]),
            n_terms=io.stage_metrics("terms").get("n_terms")),
    }
    for name, fn in calls.items():
        t0 = time.perf_counter()
        with run.tracer.span(f"build_ops.{name}"):
            df = fn()
            df.write.format("noop").mode("overwrite").save()
            unpersist_ids(df)
        run.layers[f"build_ops.{name}_s"] = time.perf_counter() - t0


def _ingest_layers(run: Run, base: inputs.Corpus,
                   batches: list[inputs.Corpus], oracle: inputs.Oracle,
                   index_dir: str) -> None:
    """plans.append_index / compact_index: two disjoint batches appended
    to the built index, then tiered and full compaction; answers checked
    against the oracle after each step (compaction keeps doc ids, so a
    cold build over the same docs would answer the same)."""
    from elasticsearch_eslib_spark.plans.append_index import append_index
    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.plans.compact_index import (
        compact_epochs, compact_index,
    )

    n = len(base)
    qs = inputs.query_stream(run.seed, BATCH_QUERIES)
    epoch_s, added = [], 0
    for b, batch in enumerate(batches):
        oracle.add(batch)
        t0 = time.time()
        with run.tracer.span("append"):
            append_index(run.spark, batch.path, index_dir)
        epoch_s.append(time.time() - t0)
        added += len(batch)
        run.window("append", "append", t0, time.time())
        _check_batch(run, _wand(Index(run.spark, index_dir),
                                _query_df(run.spark, qs)).collect(),
                     qs, oracle, f"after append {b}")
    run.layers["append.epoch_s"] = statistics.median(epoch_s)
    bytes_multi = _dir_bytes(index_dir)[0]
    run.layers["append.bytes_per_doc"] = bytes_multi / (n + added)

    t0 = time.time()
    with run.tracer.span("compact.tiered"):
        compact_epochs(run.spark, index_dir, from_epoch=1)
    run.layers["compact.tiered_s"] = time.time() - t0
    run.window("compact.tiered", "compact.tiered", t0, time.time())
    _check_batch(run, _wand(Index(run.spark, index_dir),
                            _query_df(run.spark, qs)).collect(),
                 qs, oracle, "after tiered compaction")

    full_dir = index_dir + "_full"
    t0 = time.time()
    with run.tracer.span("compact.full"):
        compact_index(run.spark, index_dir, full_dir)
    run.layers["compact.full_s"] = time.time() - t0
    run.window("compact.full", "compact.full", t0, time.time())
    run.layers["compact.bytes_after_per_doc"] = (
        _dir_bytes(full_dir)[0] / (n + added))
    _check_batch(run, _wand(Index(run.spark, full_dir),
                            _query_df(run.spark, qs)).collect(),
                 qs, oracle, "after full compaction")


def build(run: Run) -> dict:
    from elasticsearch_eslib_spark.plans.build_index import Index, build_index

    n = run.n_docs or N_DOCS
    c = run.corpus(0, n)
    oracle = inputs.Oracle()
    oracle.add(c)
    if run.trace:
        batches = [run.corpus(n * (2 + b), n * (2 + b) + n // 8)
                   for b in range(2)]
    run.start()
    index_dir = os.path.join(run.work, "index")
    run.setup_end = time.time()

    # One build, the first of the fresh session: what a build_index.py
    # call costs. Later builds in one session keep speeding up for 5+
    # builds (JIT, worker reuse), so a warm build has no steady value.
    t_build, cpu0 = time.time(), tr.cpu_busy_s()
    with run.tracer.span("build"):
        m = build_index(run.spark, c.path, index_dir)
    wall, cpu = time.time() - t_build, tr.cpu_busy_s() - cpu0
    run.check(m["n_docs"] == oracle.n_docs
              and abs(m["avg_dl"] - oracle.avg_dl)
              <= 1e-9 * oracle.avg_dl, "build n_docs/avg_dl")
    idx_bytes = _dir_bytes(index_dir)[0]

    qs = _fixture_queries()
    _check_batch(run, _wand(Index(run.spark, index_dir),
                            _query_df(run.spark, qs)).collect(),
                 qs, oracle, "fixture")
    if run.trace:
        _build_stage_layers(run, index_dir, t_build, wall)
        function_layers(run, c)
        _build_op_layers(run, c, index_dir)
        _ingest_layers(run, c, batches, oracle, index_dir)
    return {
        "op_p50_ms": 1000.0 * wall,
        "items_per_s": n / wall,
        "op_cpu_s": cpu,
        "items_per_cpu_s": n / cpu,
        "index_bytes_per_doc": idx_bytes / n,
    }


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def _query_layers(run: Run, idx, stream, oracle: inputs.Oracle) -> None:
    """operators.query, call by call, on a sample of the stream."""
    from elasticsearch_eslib_spark.functions.codec import decode_posting_block
    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, fetch_postings, resolve_query_terms,
        topk_exhaustive,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    t0 = time.perf_counter()
    with run.tracer.span("query.open"):
        opened = Index(run.spark, idx.io.root)
        opened.terms.persist().count()
    run.layers["query.open_ms"] = 1000.0 * (time.perf_counter() - t0)
    opened.terms.unpersist()

    sample = [q for q in stream if inputs.STOPWORD_QUERY not in q[1]][:6]
    resolve_ms, decode_ms, n_blocks, n_results = [], [], 0, 0
    for q in sample:
        qdf = _query_df(run.spark, [q])
        t0 = time.perf_counter()
        with run.tracer.span("query.resolve"):
            resolved = resolve_query_terms(analyze_queries(qdf), idx.terms,
                                           idx.n_docs)
        resolve_ms.append(1000.0 * (time.perf_counter() - t0))
        blocks = fetch_postings(idx.postings, resolved).select(
            "first_doc", "doc_deltas", "tfs", "dls").collect()
        t0 = time.perf_counter()
        for b in blocks:
            decode_posting_block(b["first_doc"], b["doc_deltas"], b["tfs"],
                                 b["dls"])
        decode_ms.append(1000.0 * (time.perf_counter() - t0))
        n_blocks += len(blocks)
        n_results += len(oracle.topk(q[1], K))
    run.layers["query.resolve_ms"] = statistics.median(resolve_ms)
    run.layers["query.decode_ms"] = statistics.median(decode_ms)
    run.layers["query.blocks_per_query"] = n_blocks / len(sample)
    run.layers["query.blocks_per_result"] = n_blocks / max(1, n_results)

    batch = stream[:BATCH_QUERIES]
    qdf = _query_df(run.spark, batch)
    t0 = time.perf_counter()
    with run.tracer.span("query.exhaustive"):
        rows = topk_exhaustive(qdf, idx.terms, idx.postings, idx.n_docs,
                               idx.avg_dl).collect()
    t_exh = time.perf_counter() - t0
    _check_batch(run, rows, batch, oracle, "exhaustive")
    t0 = time.perf_counter()
    with run.tracer.span("query.wand"):
        rows = _wand(idx, qdf).collect()
    run.layers["query.wand_vs_exhaustive"] = (
        (time.perf_counter() - t0) / t_exh)
    _check_batch(run, rows, batch, oracle, "wand")


def serve(run: Run) -> dict:
    from elasticsearch_eslib_spark.plans.build_index import Index, build_index

    n = run.n_docs or SERVE_DOCS
    c = run.corpus(0, n)
    oracle = inputs.Oracle()
    oracle.add(c)
    run.start()
    index_dir = os.path.join(run.work, "index")
    build_index(run.spark, c.path, index_dir)
    idx = Index(run.spark, index_dir)
    stream = inputs.query_stream(run.seed, 4000)
    warm = stream[-2 * BATCH_QUERIES:]
    for q in warm[:2]:
        _wand(idx, _query_df(run.spark, [q])).collect()
    _wand(idx, _query_df(run.spark, warm[:BATCH_QUERIES])).collect()
    run.setup_end = time.time()

    lat, cpu, construct, execute = [], [], [], []
    pos = 0
    t_end = time.time() + run.seconds / 3
    while not lat or time.time() < t_end:
        q = stream[pos]
        pos += 1
        t0, cpu0 = time.perf_counter(), tr.cpu_busy_s()
        with run.tracer.span("query.single"):
            res = _wand(idx, _query_df(run.spark, [q]))
            t1 = time.perf_counter()
            rows = res.collect()
        t2 = time.perf_counter()
        lat.append(t2 - t0)
        cpu.append(tr.cpu_busy_s() - cpu0)
        construct.append(t1 - t0)
        execute.append(t2 - t1)
        run.check(inputs.same_topk(rows, oracle.topk(q[1], K)),
                  f"single query {q}")

    batch_s, batch_cpu, batch_n = 0.0, 0.0, 0
    t_end = time.time() + run.seconds * 2 / 3
    while not batch_n or time.time() < t_end:
        qs = stream[pos:pos + BATCH_QUERIES]
        pos += BATCH_QUERIES
        t0, cpu0 = time.time(), tr.cpu_busy_s()
        with run.tracer.span("query.batch"):
            rows = _wand(idx, _query_df(run.spark, qs)).collect()
        batch_s += time.time() - t0
        batch_cpu += tr.cpu_busy_s() - cpu0
        batch_n += len(qs)
        run.window("query.batch", "query.batch", t0, time.time())
        _check_batch(run, rows, qs, oracle, "batch")

    if run.trace:
        run.layers["query.construct_ms"] = 1000.0 * statistics.median(
            construct)
        run.layers["query.execute_ms"] = 1000.0 * statistics.median(execute)
        function_layers(run, c)
        _query_layers(run, idx, stream[pos:], oracle)
    return {
        "op_p50_ms": 1000.0 * statistics.median(lat),
        "items_per_s": batch_n / batch_s,
        "op_cpu_s": statistics.median(cpu),
        "items_per_cpu_s": batch_n / batch_cpu,
        "index_bytes_per_doc": _dir_bytes(index_dir)[0] / n,
        "ops": len(lat) + batch_n,
    }


WORKLOADS = {"build": build, "serve": serve}

