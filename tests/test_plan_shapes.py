"""Physical-plan shape assertions — the scale properties the code comments
claim, checked against what Catalyst actually planned:

  * query-time postings scan is PRUNED (p_bucket partition filters +
    term_id pushed filters reach the parquet scan);
  * the query-path term lookup is a BROADCAST join (no shuffle of the
    postings stream to resolve a handful of terms);
  * the S4 encode shuffle carries ONLY the five narrow posting columns
    (term_id, doc_id, tf, dl, salt) — never text/html/arrays;
  * the encoded blocks pass one exchange (the p_bucket layout) and no
    window, and every postings file that build, append or compaction
    writes is sorted by (term_id, first_doc);
  * zero-shuffle dedup projections really are exchange-free (minhash
    signatures);
  * ANN brute force broadcasts the query side;
  * a query job reads the caller's query frame once and runs no Python
    besides the WAND / block-decode operator;
  * a query's term ids never become literals in generated code: the
    prune list stays an InSet (still pushed to parquet), and a query
    over new terms compiles no class;
  * a request's (query_id, k, idf) routes reach the postings rows as
    one folded map literal, with no broadcast job, at any batch size;
  * a WAND request resolves on the driver: two collects, no local
    relation, four jobs;
  * an append collects only its two dense-id offset passes;
  * opening an index runs three jobs (the docs, terms and postings
    schema reads) and no writer leaves a stats table;
  * build, append and compaction write one file per bucket dir, in
    write stages AQE sizes by the data;
  * bm25 df is a partial count per task before its exchange, never a
    term-partitioned window;
  * lang_id and quality_score count marker words with codegen'd array
    functions, no interpreted lambda;
  * the scan-partition estimate equals the number of the parquet scan's
    partitions that read rows;
  * the near-dup and LSH-verify joins keep their score filter out of the
    join condition (filter_once).

These catch silent plan regressions (a lost broadcast hint, a filter
that stopped pushing down) that row-level tests can't see.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest
from pyspark.sql import functions as F


def _fmt(df) -> str:
    # public API fallback: capture explain("formatted") text
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_postings_fetch_is_pruned(spark, built_index):
    from elasticsearch_eslib_spark.operators.query import fetch_postings
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    # two REAL vocabulary terms (nonexistent ones constant-fold the whole
    # scan away to an empty LocalTableScan)
    two = idx.terms.orderBy("term_id").limit(2).select("term_id")
    plan = _fmt(fetch_postings(idx.postings, two))
    assert re.search(r"PartitionFilters: \[.*p_bucket", plan), plan
    assert re.search(r"PushedFilters: \[.*[Ii]n\(term_id", plan), plan


@pytest.mark.parametrize("n_terms", [1, 3, 13])
def test_postings_fetch_prunes_without_id_literals(spark, built_index,
                                                   n_terms):
    """The term-id prune list stays an InSet for any number of ids, a
    single id included: pushed to parquet as In(term_id, ...), with the
    p_bucket partition pruning kept, and never folded into a
    `term_id = <n>` whose literal would land in generated code."""
    from elasticsearch_eslib_spark.operators.query import fetch_postings
    from elasticsearch_eslib_spark.plans.build_index import Index

    idx = Index(spark, built_index[0])
    ids = idx.terms.orderBy("term_id").limit(n_terms).select("term_id")
    plan = _fmt(fetch_postings(idx.postings, ids))
    assert re.search(r"PartitionFilters: \[.*p_bucket", plan), plan
    assert re.search(r"PushedFilters: \[.*In\(term_id", plan), plan
    assert re.search(r"term_id#\d+L INSET", plan), plan
    assert not re.search(r"term_id#\d+L = \d+|EqualTo\(term_id", plan), plan


def test_append_collects_only_dense_id_offsets(spark, built_index,
                                              tmp_path, monkeypatch):
    """An append onto the fixture index runs two driver collects, the
    dense-id offset passes of its doc ids and of its new term ids: the
    prior max term id is the prior terms stage's committed n_terms
    metric, never a scan of the vocabulary."""
    import shutil

    from elasticsearch_eslib_spark.fixtures import gen_pages_range
    from elasticsearch_eslib_spark.plans.append_index import append_index

    idx_dir = str(tmp_path / "idx")
    shutil.copytree(built_index[0], idx_dir)
    pages = str(tmp_path / "pages")
    spark.createDataFrame(gen_pages_range(1000, 1060)).write.parquet(pages)
    collects = []
    cls = type(spark.range(1))
    collect = cls.collect

    def counted(self):
        collects.append(self)
        return collect(self)

    monkeypatch.setattr(cls, "collect", counted)
    m = append_index(spark, pages, idx_dir)
    monkeypatch.undo()
    assert m["epoch"] == 1 and m["n_new"] == 60
    assert len(collects) == 2, collects


def test_terms_lookup_is_pruned(spark, built_index):
    """Q2's vocabulary lookup (`terms.where(term.isin(...))`) must reach
    the parquet scan as a pushed filter. The terms table is WRITTEN in
    term order (assign_dense_ids range-partitions and sorts by term), so
    the pushed predicate prunes row groups by min/max stats — at a 10^8-
    term vocabulary a query batch reads a handful of row groups, not the
    table. Verified here both ways: the plan shows the pushed filter, and
    the committed files are in fact term-ordered (disjoint, ascending
    min/max ranges), which is what makes the pushdown prune."""
    import os

    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    terms = [r["term"] for r in idx.terms.orderBy("term_id").limit(2)
             .select("term").collect()]
    plan = _fmt(idx.terms.where(F.col("term").isin(terms)))
    assert re.search(r"PushedFilters: \[.*term", plan), plan
    # physical order: every file's term column is internally sorted and a
    # file's min is ≥ the previous file's max (range partitioning by term)
    io_ = open_tableio(spark, index_dir)
    tdir = io_.table_path("terms")
    files = sorted(
        os.path.join(tdir, f) for f in os.listdir(tdir)
        if f.endswith(".parquet"))
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("term")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            if st is not None and st.has_min_max:
                ranges.append((st.min, st.max))
    assert ranges, "no term min/max stats in the committed files"
    for (lo, hi) in ranges:
        assert lo <= hi
    flat = [b for r in sorted(ranges) for b in r]
    assert flat == sorted(flat), "term ranges overlap — table not sorted"


def test_query_term_lookup_is_broadcast(spark, built_index):
    from elasticsearch_eslib_spark.fixtures import gen_queries
    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, resolve_query_terms,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    qdf = spark.createDataFrame(gen_queries())
    plan = _fmt(resolve_query_terms(analyze_queries(qdf), idx.terms,
                                    idx.n_docs))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_encode_shuffle_is_narrow(spark, built_index):
    """The one corpus-sized shuffle of S4 must carry exactly the three
    PACKED long columns (ts, doc_id, tfdl) — a regression that widens the
    payload back to unpacked fields (or drags text/arrays through it)
    multiplies shuffle bytes at 100 TB."""
    from elasticsearch_eslib_spark.operators.build import term_freqs
    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    io = open_tableio(spark, index_dir)
    tokenized = io.read("tokenized")
    from elasticsearch_eslib_spark.operators.build import build_postings

    posts = build_postings(term_freqs(tokenized, idx.docs), idx.terms,
                           idx.n_docs, idx.avg_dl)
    plan = _fmt(posts)
    # the encode repartition keys on the packed ts = term_id·256 + salt
    assert re.search(r"hashpartitioning\(ts#\d+L", plan), plan
    # its input projection is exactly the three packed longs — no unpacked
    # tf/dl/salt, no arrays (terms#/tfs# from tokenized), no text, no url
    narrow = [p for p in re.findall(r"Output \[3\]: \[([^\]]+)\]", plan)
              if "ts#" in p and "doc_id" in p and "tfdl#" in p]
    assert narrow, plan
    for p in narrow:
        assert "terms#" not in p and "url#" not in p, p
    # the terms dimension join on the way in is a broadcast, and dl rides
    # the packed rows: exactly ONE join in the whole encode plan (url →
    # doc_id) — a second docs join on doc_id would re-shuffle the exploded
    # stream at corpus scale
    assert plan.count("BroadcastExchange") >= 1, plan
    join_nodes = re.findall(r"\(\d+\) [A-Za-z]*Join[A-Za-z]*", plan)
    assert len(join_nodes) <= 2, \
        f"expected ≤2 join nodes (url map + terms), got {join_nodes}"
    # and none of them keys on doc_id (the removed second docs join)
    assert not re.search(r"keys \[1\]: \[doc_id", plan), plan


def test_block_layout_is_one_exchange_and_no_window(spark, built_index):
    """Above the Python encode, build_postings plans exactly one Exchange
    (the p_bucket repartition) and a sort; blocks carry no ordinal, so no
    Window is planned anywhere."""
    from elasticsearch_eslib_spark.operators.build import (
        build_postings, term_freqs,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    tokenized = open_tableio(spark, index_dir).read("tokenized")
    plan = _fmt(build_postings(term_freqs(tokenized, idx.docs), idx.terms,
                               idx.n_docs, idx.avg_dl))
    nodes = _nodes(plan)  # numbered bottom-up: ancestors come after
    assert not [n for n in nodes if "Window" in n], plan
    above = nodes[nodes.index("MapInPandas") + 1:]
    assert [n for n in above if "Exchange" in n] == ["Exchange"], plan


def _sorted_postings_files(table_dir: str) -> int:
    """Assert every parquet file under `table_dir` is sorted by (term_id,
    first_doc); return the number of files."""
    import os

    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, names in os.walk(table_dir):
        for f in names:
            if f.endswith(".parquet"):
                t = pq.ParquetFile(os.path.join(root, f)).read(
                    columns=["term_id", "first_doc"])
                keys = list(zip(t["term_id"].to_pylist(),
                                t["first_doc"].to_pylist()))
                assert keys == sorted(keys), os.path.join(root, f)
                n += 1
    return n


def test_postings_files_sorted_by_term_then_first_doc(spark,
                                                     lifecycle_indexes):
    """Build, append, compact_epochs and compact_index all write postings
    files sorted by (term_id, first_doc): a term's blocks are contiguous
    and in doc order, and each row group's term_id min/max prunes."""
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    def table(writer: str, name: str) -> str:
        return open_tableio(spark, lifecycle_indexes[writer]).table_path(name)

    assert _sorted_postings_files(table("build", "postings")) > 0
    for t in ("postings_a1", "postings_a2"):
        assert _sorted_postings_files(table("append", t)) > 0, t
    merged = table("compact_epochs", "postings_a1")
    assert not merged.endswith("/postings_a1")  # an alias to the merge
    assert _sorted_postings_files(merged) > 0
    assert _sorted_postings_files(table("compact_index", "postings")) > 0


def test_writes_sized_by_data_one_file_per_bucket(spark, tmp_path,
                                                  monkeypatch):
    """Build, append, compact_epochs and compact_index write every
    tokenized/postings bucket dir as exactly one data file (an append's
    tokenized table has no bucket dirs), and each of those writes runs
    its write stage in at most spark.sql.shuffle.partitions tasks: AQE
    sizes the stage by the data, not by the bucket count."""
    import itertools
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from elasticsearch_eslib_spark.fixtures import gen_pages_range
    from elasticsearch_eslib_spark.plans.append_index import append_index
    from elasticsearch_eslib_spark.plans.build_index import build_index
    from elasticsearch_eslib_spark.plans.compact_index import (
        compact_epochs, compact_index,
    )

    pages = {}
    for name, lo, hi in (("a", 0, 200), ("b", 200, 260), ("c", 260, 320)):
        pages[name] = str(tmp_path / name)
        spark.createDataFrame(gen_pages_range(lo, hi)).write.parquet(
            pages[name])
    sc = spark.sparkContext
    layout = re.compile(r"/(tokenized|postings)[^/]*(/g-[^/]+)?$")
    writes: list[tuple[str, str, dict]] = []  # (path, job group, files)
    parquet, seq = DataFrameWriter.parquet, itertools.count()

    def grouped_parquet(self, path, *args, **kwargs):
        group = f"layout-write-{next(seq)}"
        sc.setJobGroup(group, path)
        try:
            parquet(self, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if layout.search(path):  # data files per bucket dir, as written
            writes.append((path, group, {
                d: len([f for f in os.listdir(os.path.join(path, d))
                        if f.endswith(".parquet")])
                for d in os.listdir(path) if "bucket=" in d}))

    monkeypatch.setattr(DataFrameWriter, "parquet", grouped_parquet)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, pages["a"], idx_dir)
    append_index(spark, pages["b"], idx_dir)
    append_index(spark, pages["c"], idx_dir)
    compact_epochs(spark, idx_dir, from_epoch=1)
    compact_index(spark, idx_dir, str(tmp_path / "idx_full"))
    monkeypatch.undo()

    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tracker = sc.statusTracker()
    bucketed = [layout.search(p).group(1) for p, _, files in writes if files]
    assert bucketed.count("postings") == 5 and "tokenized" in bucketed, writes
    for path, group, files in writes:
        assert set(files.values()) <= {1}, (path, files)
        write_job = max(tracker.getJobIdsForGroup(group))
        stage = max(tracker.getJobInfo(write_job).stageIds)
        tasks = tracker.getStageInfo(stage).numTasks
        assert tasks <= n_part, (path, tasks)


def test_vocab_path_has_no_join(spark, built_index):
    """The terms stage (S3/A3) aggregates per term and must never pay the
    corpus-sized url-join with docs — its plan holds zero Join nodes and
    exactly one exchange (the final groupBy on term)."""
    from elasticsearch_eslib_spark.operators.build import (
        build_terms, term_freqs_nodoc,
    )
    from elasticsearch_eslib_spark.sources.tableio import open_tableio

    index_dir, _ = built_index
    tokenized = open_tableio(spark, index_dir).read("tokenized")
    vocab = term_freqs_nodoc(tokenized).groupBy("term").count()
    plan = _fmt(vocab)
    assert "Join" not in plan, plan
    # build_terms output is unchanged vs the joined path (doc ids never
    # mattered to df/cf): spot-check totals against the committed terms
    from elasticsearch_eslib_spark.operators.ids import unpersist_ids

    terms = build_terms(term_freqs_nodoc(tokenized))
    old = open_tableio(spark, index_dir).read("terms")
    got = terms.selectExpr("count(*) n", "sum(df) df", "sum(cf) cf").first()
    want = old.selectExpr("count(*) n", "sum(df) df", "sum(cf) cf").first()
    unpersist_ids(terms)
    assert (got.n, got.df, got.cf) == (want.n, want.df, want.cf)


def test_minhash_signatures_plan_has_no_exchange(spark, tmp_path):
    """Signatures are a narrow projection over the scan — zero shuffles."""
    import pandas as pd

    from elasticsearch_eslib_spark.operators.dedup import (
        doc_shingle_arrays, signatures_of,
    )

    pdf = pd.DataFrame({
        "doc_id": range(100),
        "text": [f"w{i} w{i+1} w{i+2} w{i+3} common words here"
                 for i in range(100)],
    })
    p = str(tmp_path / "docs.parquet")
    pdf.to_parquet(p)
    docs = spark.read.parquet(p)
    sigs = signatures_of(doc_shingle_arrays(docs, do_spread=False))
    plan = _fmt(sigs)
    assert "Exchange" not in plan
    # the md5 base-hash subtree must appear ONCE (its own projection), not
    # inlined 8× into the sig expressions (cold-compile blowup)
    assert plan.count("md5") <= 2


def test_ann_bruteforce_broadcasts_queries(spark):
    from elasticsearch_eslib_spark.operators.similarity import (
        ann_bruteforce_topk,
    )

    sf = "/root/testdata/sf0.001"
    import os

    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata absent")
    plan = _fmt(ann_bruteforce_topk(spark, sf))
    assert "BroadcastExchange" in plan, plan


def _nodes(plan: str) -> list[str]:
    """Operator names of a formatted plan, one per numbered node."""
    return re.findall(r"^\(\d+\) ([^\[\n]*?)\s*(?:\[codegen id : \d+\])?$",
                      plan, re.M)


def _python_nodes(plan: str) -> list[str]:
    return [n for n in _nodes(plan) if re.search(r"Pandas|Python|Arrow", n)]


@pytest.fixture(scope="module")
def list_queries(spark):
    """A query frame built from Python rows — backed by a parallelized
    Python RDD, the shape a caller most often hands in."""
    from elasticsearch_eslib_spark import schemas

    return spark.createDataFrame(
        [(0, "t000001 t002222", 10), (1, "t004321", 10)], schemas.QUERIES)


def test_query_job_reads_query_frame_once(spark, built_index, list_queries):
    """The query frame is collected by analyze_queries, so the query job
    never plans it (no `Scan ExistingRDD`), and the only Python operator
    left is the work itself: WAND's grouped map or the exhaustive path's
    block decode."""
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    wand = _fmt(topk_wand(list_queries, idx.terms, idx.postings,
                          idx.n_docs, idx.avg_dl))
    assert "Scan ExistingRDD" not in wand, wand
    assert _python_nodes(wand) == ["FlatMapGroupsInPandas"], wand
    exh = _fmt(topk_exhaustive(list_queries, idx.terms, idx.postings,
                               idx.n_docs, idx.avg_dl))
    assert "Scan ExistingRDD" not in exh, exh
    assert _python_nodes(exh) == ["MapInPandas"], exh


def test_query_routes_are_one_folded_literal(spark, built_index):
    """A request's (query_id, k, idf) routes reach its postings rows as
    one map literal, whatever the batch size: here 300 queries share one
    term, so the literal holds 300 routes. The JSON carrying it is parsed
    once, by the optimizer (no `from_json` left in the plan to run per
    row), and the query job plans no broadcast and no join. Every query
    gets the single query's answer."""
    from elasticsearch_eslib_spark import schemas
    from elasticsearch_eslib_spark.operators import query
    from elasticsearch_eslib_spark.plans.build_index import Index

    idx = Index(spark, built_index[0])
    one = spark.createDataFrame([(0, "t000001", 5)], schemas.QUERIES)
    many = spark.createDataFrame([(q, "t000001", 5) for q in range(300)],
                                 schemas.QUERIES)
    for topk in (query.topk_wand, query.topk_exhaustive):
        args = (idx.terms, idx.postings, idx.n_docs, idx.avg_dl)
        res = topk(many, *args)
        plan = _fmt(res)
        assert "Broadcast" not in plan and "Join" not in plan, plan
        assert "from_json" not in plan and "map(keys: [" in plan, plan
        want = [(r["rank"], r["doc_id"], r["score"])
                for r in topk(one, *args).collect()]
        got: dict[int, list] = {}
        for r in res.collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        assert want and len(got) == 300, topk.__name__
        assert all(sorted(v) == sorted(want) for v in got.values())


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM (driver and local tasks)."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_new_queries_compile_no_code(spark, built_index):
    """A query's term ids enter its plan as data, never as literals in
    generated code: once one query per shape (1, 2 and 3 resolved terms)
    has run on a path, queries over term sets no earlier query used reuse
    the compiled classes and the JVM compiles nothing."""
    from elasticsearch_eslib_spark import schemas
    from elasticsearch_eslib_spark.operators.query import (
        topk_exhaustive, topk_wand,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    idx = Index(spark, built_index[0])
    # the tail of the t-numbered vocabulary: terms no other test queries
    tail = (idx.terms.where(F.col("term").rlike("^t[0-9]+$"))
            .orderBy(F.col("term_id").desc()).limit(36))
    words = [r["term"] for r in tail.collect()]
    for topk in (topk_wand, topk_exhaustive):
        queries = []
        for n in [1, 2, 3] * 3:  # a warm-up round, then two of new queries
            queries.append(" ".join(words[:n]))
            words = words[n:]

        def run(q):
            qdf = spark.createDataFrame([(0, q, 10)], schemas.QUERIES)
            assert topk(qdf, idx.terms, idx.postings, idx.n_docs,
                        idx.avg_dl).collect(), (topk.__name__, q)

        for q in queries[:3]:
            run(q)
        before = _compiles(spark)
        for q in queries[3:]:
            run(q)
        assert _compiles(spark) == before, topk.__name__


def test_wand_request_resolves_on_the_driver(spark, built_index,
                                             list_queries, monkeypatch):
    """A single-range WAND request resolves its terms with exactly two
    driver collects (the query frame and the vocabulary lookup), builds no
    local relation, and then runs its WAND as the request's only other
    work: 4 Spark jobs in all."""
    from elasticsearch_eslib_spark.operators import query
    from elasticsearch_eslib_spark.plans.build_index import Index

    idx = Index(spark, built_index[0])
    calls = {"collect": 0, "local_frame": 0}
    cls = type(list_queries)
    collect, local_frame = cls.collect, query.local_frame

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapper

    sc = spark.sparkContext
    sc.setJobGroup("wand-request", "wand-request")
    try:
        monkeypatch.setattr(cls, "collect", counted("collect", collect))
        monkeypatch.setattr(query, "local_frame",
                            counted("local_frame", local_frame))
        res = query.topk_wand(list_queries, idx.terms, idx.postings,
                              idx.n_docs, idx.avg_dl)
        monkeypatch.undo()
        assert calls == {"collect": 2, "local_frame": 0}, calls
        assert res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(sc.statusTracker().getJobIdsForGroup("wand-request")) == 4


def test_index_open_runs_no_stats_job(spark, built_index,
                                      lifecycle_indexes):
    """Opening an index reads its corpus stats from the manifest: the
    only Spark jobs are the three schema reads of docs, terms and
    postings. No writer leaves a stats table behind."""
    import os

    from elasticsearch_eslib_spark.plans.build_index import Index

    sc = spark.sparkContext
    sc.setJobGroup("index-open", "index-open")
    try:
        idx = Index(spark, built_index[0])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(sc.statusTracker().getJobIdsForGroup("index-open")) == 3
    assert idx.n_docs == built_index[1]["n_docs"]
    assert idx.bound_avgdl == idx.avg_dl
    for writer, index_dir in [("built_index", built_index[0]),
                              *lifecycle_indexes.items()]:
        stats_dirs = [d for d in os.listdir(index_dir)
                      if d.startswith("stats")]
        assert stats_dirs == [], (writer, stats_dirs)


def test_resolved_query_terms_are_local(spark, built_index, list_queries):
    """Both sides of the term-resolution join are driver-side local
    relations: every leaf of its plan is a LocalTableScan."""
    from elasticsearch_eslib_spark.operators.query import (
        analyze_queries, resolve_query_terms,
    )
    from elasticsearch_eslib_spark.plans.build_index import Index

    index_dir, _ = built_index
    idx = Index(spark, index_dir)
    plan = _fmt(resolve_query_terms(analyze_queries(list_queries),
                                    idx.terms, idx.n_docs))
    scans = [n for n in _nodes(plan) if "Scan" in n]
    assert scans == ["LocalTableScan"] * 2, plan
    assert not _python_nodes(plan), plan


def test_driver_rows_enter_spark_only_through_local_frame():
    """Every `createDataFrame` call in the package sits inside
    `planutil.local_frame`, so no driver-row frame is backed by a Python
    RDD."""
    pkg = (pathlib.Path(__file__).resolve().parents[1]
           / "elasticsearch_eslib_spark")
    calls, helper = [], None
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                calls.append((path.name, node.lineno))
            if (isinstance(node, ast.FunctionDef)
                    and node.name == "local_frame"):
                helper = (path.name, node.lineno, node.end_lineno)
    assert helper is not None and helper[0] == "planutil.py"
    outside = [c for c in calls
               if c[0] != helper[0] or not helper[1] <= c[1] <= helper[2]]
    assert calls and not outside, outside


@pytest.mark.parametrize("n", [0, 2])
def test_local_frame_reads_rows_like_create_dataframe(spark, n):
    """Same rows and schema as `createDataFrame` (naive datetimes are
    local wall time, aware ones keep their instant), planned as a
    LocalTableScan even when empty."""
    import datetime as dt

    from elasticsearch_eslib_spark import schemas
    from elasticsearch_eslib_spark.functions.planutil import local_frame

    when = [dt.datetime(2021, 5, 5, 1, 2, 3, 456789),
            dt.datetime(2021, 5, 5, 1, 2, 3, tzinfo=dt.timezone(
                dt.timedelta(hours=2)))]
    rows = [("s", i, "fp", "done", 10 + i, -1, 1, when[i])
            for i in range(n)]
    got = local_frame(spark, rows, schemas.LINEAGE)
    want = spark.createDataFrame(rows, schemas.LINEAGE)
    assert got.schema == want.schema == schemas.LINEAGE
    assert got.collect() == want.collect()
    assert _nodes(_fmt(got)) == ["LocalTableScan"]

def test_bm25_df_is_partial_count_before_exchange(spark, tmp_path):
    """df per query term is aggregated map-side (partial_count) before a
    hash exchange on term, so a head term's posting stream never lands
    in one task; no window over term remains."""
    import pandas as pd

    from elasticsearch_eslib_spark.operators.fulltext import bm25_scores

    pd.DataFrame({"doc_id": [1, 2], "text": ["join the dup", "the a join"],
                  "lang": "en", "source": "web", "n_chars": [12, 10]}
                 ).to_parquet(tmp_path / "documents.parquet")
    plan = _fmt(bm25_scores(spark, str(tmp_path)))
    assert "Window" not in _nodes(plan), plan
    m = re.search(r"Keys \[1\]: \[(term#\d+)\]\n"
                  r"Functions \[1\]: \[partial_count\(1\)\]", plan)
    assert m, plan
    assert f"hashpartitioning({m.group(1)}," in plan, plan


def test_marker_counts_have_no_lambda(spark, tmp_path):
    """lang_id and quality_score plan no lambdafunction, and still count
    repeated marker words once per occurrence."""
    import pandas as pd

    from elasticsearch_eslib_spark.functions.textstats import (
        lang_id, quality_score,
    )

    pd.DataFrame({"doc_id": [1, 2],
                  "text": ["the the a  x and der", "la la la le x"],
                  "lang": "en", "source": "web", "n_chars": [20, 13]}
                 ).to_parquet(tmp_path / "documents.parquet")
    langs = lang_id(spark, str(tmp_path))
    quality = quality_score(spark, str(tmp_path))
    for df in (langs, quality):
        assert "lambdafunction" not in _fmt(df).lower(), _fmt(df)
    hits = {r["doc_id"]: (r["en_hits"], r["de_hits"], r["es_hits"],
                          r["fr_hits"]) for r in langs.collect()}
    assert hits == {1: (4, 1, 0, 0), 2: (0, 0, 3, 4)}
    assert {r["doc_id"]: r["stopword_ratio"]
            for r in quality.collect()} == {1: round(4 / 6, 6), 2: 0.0}


@pytest.mark.parametrize("n_files,file_kb,mpb_kb,ocb_kb,rg_rows", [
    (2, 3072, 8192, 1024, 16),   # few large files: split < maxPartitionBytes
    (3, 2560, 1024, 256, 16),    # files larger than maxPartitionBytes
    (12, 96, 2048, 512, 16),     # many small files: openCost bounds packing
    (1, 1728, 1024, 512, 1024),  # one row group cut into 4 splits
])
def test_scan_partitions_matches_the_scan(spark, tmp_path, n_files, file_kb,
                                          mpb_kb, ocb_kb, rg_rows):
    """The estimate equals the number of the parquet scan's partitions
    that read rows. In the first case dividing padded bytes by
    maxPartitionBytes alone undercounts the scan; in the last, Spark cuts
    a single-row-group file into 4 partitions of which only 1 reads rows,
    so counting partitions would overcount the scan's parallelism."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.functions.planutil import scan_partitions

    for i in range(n_files):
        blob = pa.array([os.urandom(1 << 14) for _ in range(file_kb // 16)])
        pq.write_table(pa.table({"b": blob}), tmp_path / f"part-{i}.parquet",
                       compression="none", row_group_size=rg_rows)
    paths = [str(p) for p in tmp_path.glob("*.parquet")]
    conf = {"spark.sql.files.maxPartitionBytes": f"{mpb_kb}k",
            "spark.sql.files.openCostInBytes": f"{ocb_kb}k"}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        scan = spark.read.parquet(str(tmp_path))
        n_scan = scan.rdd.getNumPartitions()
        n_busy = scan.select(F.spark_partition_id()).distinct().count()
        got = scan_partitions(spark, paths)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == n_busy
    sizes = [os.path.getsize(p) for p in paths]
    padded = sum(sizes) + n_files * (ocb_kb << 10)
    if n_files == 2:
        assert -(-padded // (mpb_kb << 10)) < n_scan == n_busy
    if n_files == 1:
        assert (n_busy, n_scan) == (1, 4)


def test_local_path_reads_only_host_local_file_uris():
    from elasticsearch_eslib_spark.functions.planutil import local_path

    assert local_path("file:/data/x.parquet") == "/data/x.parquet"
    assert local_path("file:///data/a%20b.parquet") == "/data/a b.parquet"
    for uri in ("file://host/data/x.parquet", "hdfs://nn/x", "/data/x"):
        with pytest.raises(ValueError):
            local_path(uri)


@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "embedding_near_dup"])
def test_filter_once_keeps_scores_out_of_join_conditions(spark, monkeypatch,
                                                         op):
    """The near-dup verify join and the LSH bucket join keep their score
    filter above the join (planutil.filter_once): no join condition holds
    the jaccard's array_intersect or the cosine's element_at products."""
    import os

    from elasticsearch_eslib_spark.functions import planutil
    from elasticsearch_eslib_spark.operators import dedup, similarity
    from test_pipeline_ops import SF

    if not os.path.exists(f"{SF}/embeddings.parquet"):
        pytest.skip("driver testdata absent")
    barriered = []
    real = planutil.filter_once

    def recording(df, pred):
        barriered.append(real(df, pred))
        return barriered[-1]

    monkeypatch.setattr(planutil, "filter_once", recording)
    run = getattr(dedup, op, None) or getattr(similarity, op)
    run(spark, SF)
    assert len(barriered) == 1
    plan = _fmt(barriered[0])
    conds = re.findall(r"^Join condition: (.*)$", plan, re.M)
    assert conds, plan
    for cond in conds:
        for expr in ("element_at", "array_intersect", "cosine", "jaccard"):
            assert expr not in cond, plan
    assert re.search(r"\((jaccard|cosine)#\d+ >= ", plan), plan
