"""Query path Q1–Q5 (SURVEY.md §2.4): BM25 top-k over the block index.

Two independent execution paths produce identical results (a built-in
self-check required by SURVEY.md Q5 and tested in test_bm25_topk.py):

  * `topk_exhaustive` — decode every candidate block, score in JVM
    expressions, rank with a window (the oracle-shaped plan);
  * `topk_wand` — document-at-a-time block-max WAND inside one
    applyInPandas group per query: term upper bounds pick the pivot,
    block-max metadata skips blocks, survivors are fully evaluated with
    contributions summed in term_id order (pinned float64 determinism).

Request invariant: a request is resolved on the driver, and only its
work is planned. `resolve_request` reads the caller's query frame once
(one collect), analyzes the text on the driver as the oracle does, looks
the terms up with one pushed-down vocabulary collect and computes idf
with the oracle's formula; the result is a small `Resolved` (routes
{term_id: [(query_id, k, idf)]}, the term ids, the max df). The query
job then plans only the pruned postings scan (p_bucket directory pruning
+ term_id row-group stats, one `where`), the route projection
(`route_to_queries`) and the work itself: the WAND `applyInPandas`
(`topk_wand`) or the block-decode `mapInPandas` (`topk_exhaustive`). No
local relation, join or second collect serves resolution; only the
multi-range WAND merge joins a (query_id, k) local relation. Scoring
needs no join against the docs table because doc_len is packed inside
each block (see build.py). `analyze_queries` and `resolve_query_terms`
are DataFrame views over the same analysis and lookup, for callers that
want the resolved terms as rows; the request path never builds them.

Compiled-code invariant: a query's values enter its plan as local
relations, broadcast rows, map literals or `InSet` references, never as
primitive literals in generated code. Spark writes a long or double
literal into the Java source it compiles, so a per-query literal makes
every new query compile fresh classes; a map literal or an `InSet` is
referenced by the source instead, so every query of a shape reuses the
classes the first one compiled. The term-id prune list is an `InSet`
(`get_spark` converts any literal list of 2+ values) and is still
pushed to parquet as `In(term_id, ...)`; `fetch_postings` pads a
single-id list so it is not folded into `term_id = <literal>`.
"""

from __future__ import annotations

import json
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from elasticsearch_eslib_spark import schemas
from elasticsearch_eslib_spark.config import BM25_B, BM25_K1
from elasticsearch_eslib_spark.functions.analyze import analyze_text
from elasticsearch_eslib_spark.functions.codec import decode_posting_block
from elasticsearch_eslib_spark.functions.planutil import local_frame
from elasticsearch_eslib_spark.oracle import idf

N_POSTING_BUCKETS = 32  # p_bucket = term_id % N_POSTING_BUCKETS (write + prune)
# dense term ids start at 1: this id matches no row and lies below every
# row group's term_id min, so it prunes nothing away and reads nothing
NO_TERM_ID = 0


class Resolved(NamedTuple):
    """A request's query terms matched against the vocabulary, on the
    driver: `routes` maps each matched term_id to the (query_id, k, idf)
    of every query holding it, `term_ids` is the postings prune list and
    `max_df` sizes the WAND fan-out (`wand_auto_ranges`)."""

    routes: dict[int, list[tuple[int, int, float]]]
    term_ids: list[int]
    max_df: int


def _query_terms(queries: DataFrame) -> list[tuple[int, int, str]]:
    """(query_id, k, term) rows of `queries`: one collect, analyzed on the
    driver with lang='en' (pinned, FIXTURES.md §2); duplicate query terms
    contribute once (pinned semantic, oracle.py)."""
    return [(r["query_id"], r["k"], term)
            for r in queries.select("query_id", "query", "k").collect()
            for term in sorted(set(analyze_text(r["query"], "en")))]


def _vocabulary(terms: DataFrame, words: set[str],
                n_docs: int) -> list[tuple[str, int, int, float]]:
    """(term, term_id, df, idf) of the vocabulary rows among `words`: one
    collect of a pushed-down `isin` scan (none for no words), idf by the
    oracle's formula."""
    if not words:
        return []
    return [(r["term"], r["term_id"], r["df"], idf(n_docs, r["df"]))
            for r in terms.where(F.col("term").isin(sorted(words)))
            .select("term", "term_id", "df").collect()]


def resolve_request(queries: DataFrame, terms: DataFrame,
                    n_docs: int) -> Resolved:
    """Q1 + Q2 on the driver: analyze the queries, look their terms up in
    the vocabulary and route each matched term to its queries. Two
    collects (the query frame, the matched vocabulary rows); unknown terms
    drop out."""
    qrows = _query_terms(queries)
    vocab = {v[0]: v for v in
             _vocabulary(terms, {t for _, _, t in qrows}, n_docs)}
    routes: dict[int, list[tuple[int, int, float]]] = {}
    for qid, k, term in qrows:
        if term in vocab:
            _, tid, _, term_idf = vocab[term]
            routes.setdefault(tid, []).append((qid, k, term_idf))
    return Resolved(routes, sorted(routes),
                    max((v[2] for v in vocab.values()), default=0))


def analyze_queries(queries: DataFrame) -> DataFrame:
    """Q1 as a DataFrame: (query_id, query, k) → (query_id, k, term)
    distinct terms, a local relation over `resolve_request`'s analysis
    (`queries` is read once, by its collect)."""
    return local_frame(queries.sparkSession, _query_terms(queries),
                       "query_id long, k int, term string")


def resolve_query_terms(qterms: DataFrame, terms: DataFrame,
                        n_docs: int) -> DataFrame:
    """Q2 as a DataFrame: `qterms` + term_id/df/idf, unknown terms dropped
    (inner join).

    A view for callers that want the resolved terms as rows; the request
    path (`topk_wand`, `topk_exhaustive`) does not build it, it resolves
    with `resolve_request` and keeps the result on the driver. The view
    runs the same vocabulary lookup: the matched rows come back as a
    local relation, broadcast into the join with `qterms`."""
    words = {r["term"] for r in qterms.select("term").collect()}
    matched = local_frame(qterms.sparkSession,
                          _vocabulary(terms, words, n_docs),
                          "term string, term_id long, df long, idf double")
    return qterms.join(F.broadcast(matched), "term")


_ROUTES_TYPE = ("array<struct<key:bigint,"
                "value:array<struct<query_id:bigint,k:int,idf:double>>>>")


def route_to_queries(df: DataFrame, resolved: Resolved) -> DataFrame:
    """`df` (rows carrying a term_id) + query_id, k and idf: one row per
    query that holds the row's term.

    The routes travel as one JSON string literal, which the optimizer
    parses once on the driver and folds into a map literal keyed by
    term_id: generated code references the map rather than spelling it
    out, no broadcast job runs, and the plan holds one literal however
    many queries the batch carries."""
    entries = [{"key": tid, "value": [
        {"query_id": q, "k": k, "idf": term_idf} for q, k, term_idf in qs]}
        for tid, qs in resolved.routes.items()]
    routes = F.map_from_entries(
        F.from_json(F.lit(json.dumps(entries)), _ROUTES_TYPE))
    return df.select("*", F.inline(F.element_at(routes, F.col("term_id"))))


def fetch_postings(postings: DataFrame,
                   resolved: Resolved | DataFrame) -> DataFrame:
    """Q3: pruned postings scan for the resolved term ids, one `where`
    over p_bucket (directory pruning) and term_id (row-group pruning).

    `resolved` is a `Resolved` or a frame with a term_id column, whose ids
    are collected. A single id is padded with NO_TERM_ID so the list stays
    an `InSet` instead of folding into a compiled `term_id = <literal>`."""
    if isinstance(resolved, Resolved):
        tids = resolved.term_ids
    else:
        tids = [r["term_id"] for r in
                resolved.select("term_id").distinct().collect()]
    cond = F.col("term_id").isin(tids if len(tids) != 1
                                 else [NO_TERM_ID, *tids])
    if "p_bucket" in postings.columns:
        buckets = sorted({t % N_POSTING_BUCKETS for t in tids})
        cond = F.col("p_bucket").isin(buckets) & cond
    return postings.where(cond)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Unpack block rows → (term_id, doc_id, tf, dl) posting rows."""
    import numpy as np

    def _decode(iterator):
        for pdf in iterator:
            outs = []
            for term_id, first_doc, deltas, tfs, dls in zip(
                    pdf["term_id"], pdf["first_doc"], pdf["doc_deltas"],
                    pdf["tfs"], pdf["dls"]):
                d, t, l = decode_posting_block(first_doc, deltas, tfs, dls)
                outs.append(pd.DataFrame({
                    "term_id": np.full(len(d), term_id, dtype=np.int64),
                    "doc_id": d, "tf": t, "dl": l}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return blocks.select("term_id", "first_doc", "doc_deltas", "tfs", "dls") \
        .mapInPandas(_decode, schema="term_id long, doc_id long, tf long, dl long")


def _score_col(avg_dl: float):
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    return (F.col("idf") * tf * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / float(avg_dl))))


def topk_exhaustive(queries: DataFrame, terms: DataFrame, postings: DataFrame,
                    n_docs: int, avg_dl: float) -> DataFrame:
    """Q5: exhaustive scoring + window rank (the self-check path)."""
    resolved = resolve_request(queries, terms, n_docs)
    decoded = decode_blocks(fetch_postings(postings, resolved))
    scored = (route_to_queries(decoded, resolved)
              .withColumn("part_score", _score_col(avg_dl))
              .groupBy("query_id", "k", "doc_id")
              .agg(F.sum("part_score").alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("k"))
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "score"))


# ---------------------------------------------------------------------------
# Q4 — block-max WAND
# ---------------------------------------------------------------------------

_INF = float("inf")
_END = 2**62

# range-partitioned WAND sizing, keyed on the resolved query terms' MAX
# df — the postings volume the slowest task would sequentially chew — not
# on corpus size. BENCH/wand_stress.json pins the crossover: at df=500k a
# 32-range fan-out measured 0.73× (37% SLOWER) than single-task because
# the fan-out's fixed cost (block explode+shuffle, per-group applyInPandas
# setup, merge window ≈ 1.2 s on this box) exceeds the ~0.5 s of
# sequential WAND work it parallelizes; at df=5.4M with ~59k postings/task
# the same fan-out measured 2.11× FASTER. So: below SPLIT_MIN_DF run one
# task per query; above it, one range per ~TARGET_POSTINGS_PER_TASK of the
# max-df term (the measured sweet spot), capped at MAX_RANGES. At 10^12
# docs a df≈N/10 head term hits the cap → ~10^8 postings/task; raise
# n_ranges explicitly for hotter heads.
WAND_TARGET_POSTINGS_PER_TASK = 65_536
WAND_SPLIT_MIN_DF = 2_000_000
WAND_MAX_RANGES = 1024


def wand_auto_ranges(max_df: int) -> int:
    """The auto fan-out rule (see the constants block above): single task
    below the measured work/overhead crossover, else sized so the heaviest
    term's postings split into ~TARGET-sized chunks."""
    if max_df < WAND_SPLIT_MIN_DF:
        return 1
    return max(2, min(WAND_MAX_RANGES,
                      max_df // WAND_TARGET_POSTINGS_PER_TASK))


def ranged_blocks(blocks: DataFrame, width: int) -> DataFrame:
    """One row per (block, doc-id range) the block's [first_doc, last_doc]
    span overlaps — the shipping rule of range-partitioned WAND. Split out
    of topk_wand so tests can pin the per-task posting ceiling directly:
    no (query, range) group may ever hold a head term's full posting list
    (the single-task memory blow-up the partitioning exists to prevent)."""
    return blocks.withColumn(
        "range_id", F.explode(F.sequence(
            (F.col("first_doc") / width).cast("int"),
            (F.col("last_doc") / width).cast("int"))))


class _TermCursor:
    """Cursor over one query term's blocks, lazily decoded.

    Optional [lo, hi) doc-id bounds implement range-partitioned WAND: the
    cursor exposes only in-range postings (boundary blocks are masked at
    decode; blocks that fall entirely outside were never shipped to this
    range's task by the plan). `bound_scale` turns a block's idf-free
    `block_max_raw` into its WAND skipping bound (see topk_wand)."""

    __slots__ = ("term_id", "idf", "first", "last", "bmax", "deltas", "tfs",
                 "dls", "bi", "pi", "docs", "tf", "dl", "ub", "avg_dl",
                 "lo", "hi")

    def __init__(self, term_id, idf, block_pdf, avg_dl, bound_scale,
                 lo=0, hi=_END):
        order = block_pdf["first_doc"].to_numpy().argsort(kind="stable")
        self.term_id = term_id
        self.idf = idf
        self.avg_dl = avg_dl
        self.lo = lo
        self.hi = hi
        self.first = block_pdf["first_doc"].to_numpy()[order]
        self.last = block_pdf["last_doc"].to_numpy()[order]
        self.bmax = (block_pdf["block_max_raw"].to_numpy()[order] * idf
                     * bound_scale)
        self.deltas = block_pdf["doc_deltas"].to_numpy()[order]
        self.tfs = block_pdf["tfs"].to_numpy()[order]
        self.dls = block_pdf["dls"].to_numpy()[order]
        self.ub = float(self.bmax.max())
        self.bi = 0
        self.pi = 0
        self.docs = None
        self._load()

    def _load(self):
        while self.bi < len(self.first):
            docs, tf, dl = decode_posting_block(
                int(self.first[self.bi]), self.deltas[self.bi],
                self.tfs[self.bi], self.dls[self.bi])
            if self.lo > 0 or self.hi < _END:
                m = (docs >= self.lo) & (docs < self.hi)
                if not m.any():
                    self.bi += 1
                    continue
                docs, tf, dl = docs[m], tf[m], dl[m]
            self.docs, self.tf, self.dl = docs, tf, dl
            return
        self.docs = None

    def cur_doc(self) -> int:
        return _END if self.docs is None else int(self.docs[self.pi])

    def block_max(self) -> float:
        return 0.0 if self.docs is None else float(self.bmax[self.bi])

    def block_last(self) -> int:
        return _END if self.docs is None else int(self.last[self.bi])

    def advance(self) -> None:
        self.pi += 1
        if self.docs is not None and self.pi >= len(self.docs):
            self.bi += 1
            self.pi = 0
            self._load()

    def seek(self, target: int) -> None:
        """Advance to first doc >= target; block skip without decoding."""
        if self.docs is None:
            return
        if self.last[self.bi] < target:
            self.bi += int(np.searchsorted(self.last[self.bi:], target))
            self.pi = 0
            self._load()
            if self.docs is None:
                return
        self.pi += int(np.searchsorted(self.docs[self.pi:], target))
        if self.pi >= len(self.docs):
            self.bi += 1
            self.pi = 0
            self._load()

    def score(self) -> float:
        tf = float(self.tf[self.pi])
        dl = float(self.dl[self.pi])
        return (self.idf * tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / self.avg_dl)))


def _wand_one_query(cursors: list[_TermCursor], k: int) -> list[tuple[int, float]]:
    """Block-max WAND: returns [(doc_id, score)] top-k, (score desc, doc asc)."""
    import heapq

    # heap of (score, -doc_id): min element is the weakest (lowest score,
    # then largest doc_id) — matches the (score desc, doc_id asc) final order.
    heap: list[tuple[float, int]] = []

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else -1.0

    while True:
        live = [c for c in cursors if c.cur_doc() < _END]
        if not live:
            break
        live.sort(key=lambda c: c.cur_doc())
        theta = threshold()
        # pivot: first prefix whose UB sum exceeds θ
        acc = 0.0
        pivot_i = -1
        for i, c in enumerate(live):
            acc += c.ub
            if acc > theta:
                pivot_i = i
                break
        if pivot_i < 0:
            break  # even all UBs together can't beat θ
        pivot_doc = live[pivot_i].cur_doc()
        # the pivot is a DOCUMENT: every cursor already positioned at it
        # participates (otherwise the skip target can collapse onto the
        # pivot itself — livelock — and its contribution would be lost)
        while pivot_i + 1 < len(live) and live[pivot_i + 1].cur_doc() == pivot_doc:
            pivot_i += 1
        if live[0].cur_doc() == pivot_doc:
            # all cursors ≤ pivot are positioned at pivot-capable blocks:
            # block-max check before full evaluation
            # live[0..pivot_i] all sit exactly at pivot_doc (sorted + equal
            # to live[0]), so each current block contains pivot_doc and its
            # block_max is a valid upper bound for the pivot's total score.
            bm_sum = 0.0
            for c in live[:pivot_i + 1]:
                bm_sum += c.block_max()
            if bm_sum <= theta:
                # skip: jump past the nearest block boundary among pivots
                boundary = min(c.block_last() for c in live[:pivot_i + 1])
                target = boundary + 1
                nxt = live[pivot_i + 1].cur_doc() if pivot_i + 1 < len(live) else _END
                target = min(target, nxt) if nxt < _END else target
                for c in live[:pivot_i + 1]:
                    if c.cur_doc() < target:
                        c.seek(target)
                continue
            # full evaluation — contributions in term_id order (pinned)
            matching = sorted((c for c in live if c.cur_doc() == pivot_doc),
                              key=lambda c: c.term_id)
            s = 0.0
            for c in matching:
                s += c.score()
            entry = (s, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            for c in matching:
                c.advance()
        else:
            # advance the largest-UB cursor that is STRICTLY before the
            # pivot doc (cursors tied at the pivot must stay put — seeking
            # them is a no-op and would livelock)
            adv = max((c for c in live[:pivot_i] if c.cur_doc() < pivot_doc),
                      key=lambda c: c.ub)
            adv.seek(pivot_doc)

    out = sorted(((-d, s) for s, d in heap), key=lambda t: (-t[1], t[0]))
    return [(doc, score) for doc, score in out]


def topk_wand(queries: DataFrame, terms: DataFrame, postings: DataFrame,
              n_docs: int, avg_dl: float,
              n_ranges: int | None = None,
              bound_avgdl: float | None = None) -> DataFrame:
    """Q4: block-max WAND, range-partitioned.

    A single WAND task per query would hold EVERY posting block of every
    query term — fatal for a head term at 10^12 docs. Instead the doc-id
    space is cut into `n_ranges` ranges (default: keyed on the resolved
    terms' max df — 1 below WAND_SPLIT_MIN_DF, else one range per
    ~WAND_TARGET_POSTINGS_PER_TASK postings of the heaviest term, capped
    at WAND_MAX_RANGES; constants measured in BENCH/wand_stress.json).
    Each block row is shipped to the range(s) its [first_doc,
    last_doc] span overlaps (blocks are ~BLOCK_SIZE docs, so boundary
    duplication is negligible), partial WAND runs per (query_id, range_id)
    with [lo, hi) cursor bounds, and a final window merges the per-range
    top-k — every doc is fully scored in exactly one range (its own), so
    scores are bit-identical to the single-task path."""
    resolved = resolve_request(queries, terms, n_docs)
    blocks = fetch_postings(postings, resolved)
    # WAND skipping bound, derived from per-block metadata in the WAND task:
    #   block_max_raw · idf(N_now, df_now) · drift · (1 + 1e-12)
    # where drift = max(1, avgdl_now / bound_avgdl) compensates avgdl
    # movement since the block was encoded (raw grows monotonically as
    # avgdl grows — the ratio bounds it; see schemas.POSTINGS). The 1e-12
    # absorbs last-ulp rounding between the bound's product order and the
    # score's (both use the one idf `resolve_request` computed). For a
    # single-epoch index bound_avgdl == avg_dl and this reduces to the
    # exact per-block max.
    avg_dl_f = float(avg_dl)
    bound_scale = (max(1.0, avg_dl_f / float(bound_avgdl or avg_dl))
                   * (1.0 + 1e-12))
    grouped = route_to_queries(blocks, resolved)
    if n_ranges is None:
        n_ranges = wand_auto_ranges(resolved.max_df)
    # doc ids are dense 1..n_docs (E3); width covers the full id space
    width = max(1, (n_docs + n_ranges) // n_ranges)

    def _mk_rows(qid, top):
        return pd.DataFrame({
            "query_id": [qid] * len(top),
            "rank": list(range(1, len(top) + 1)),
            "doc_id": [d for d, _ in top],
            "score": [s for _, s in top],
        })

    if n_ranges <= 1:
        def _wand(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame(
                    columns=["query_id", "rank", "doc_id", "score"])
            qid = int(pdf["query_id"].iloc[0])
            k = int(pdf["k"].iloc[0])
            cursors = [
                _TermCursor(int(tid), float(g["idf"].iloc[0]), g, avg_dl_f,
                            bound_scale)
                for tid, g in pdf.groupby("term_id", sort=True)
            ]
            return _mk_rows(qid, _wand_one_query(cursors, k))

        return grouped.groupBy("query_id").applyInPandas(
            _wand, schema=schemas.TOPK_RESULT)

    ranged = ranged_blocks(grouped, width)

    def _wand_range(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])
        qid = int(pdf["query_id"].iloc[0])
        k = int(pdf["k"].iloc[0])
        rid = int(pdf["range_id"].iloc[0])
        lo, hi = rid * width, (rid + 1) * width
        cursors = [
            _TermCursor(int(tid), float(g["idf"].iloc[0]), g, avg_dl_f,
                        bound_scale, lo=lo, hi=hi)
            for tid, g in pdf.groupby("term_id", sort=True)
        ]
        cursors = [c for c in cursors if c.docs is not None]
        if not cursors:
            return pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])
        return _mk_rows(qid, _wand_one_query(cursors, k))

    partial = ranged.groupBy("query_id", "range_id").applyInPandas(
        _wand_range, schema=schemas.TOPK_RESULT)
    # merge: per-range candidates are ≤ k rows each — the window input is
    # tiny (≤ k · n_ranges per query), nothing like the postings volume
    k_by_q = local_frame(
        postings.sparkSession,
        sorted({(q, k) for qs in resolved.routes.values() for q, k, _ in qs}),
        "query_id long, k int")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (partial.drop("rank")
            .join(F.broadcast(k_by_q), "query_id")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("k"))
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "score"))

