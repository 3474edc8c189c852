"""Index build path E1–E10 (SURVEY.md §2.3) as composable DataFrame stages.

Reference parity: eslib pipelines wired HtmlRemover → (cleanup processors) →
ElasticsearchWriter and let Elasticsearch build the index (SURVEY.md §2.1).
Here the index build itself is the engine, expressed Spark-first:

  pages ──E1 extract──E2 analyze──E3 doc_ids──┬── docs table
                                              └──E4 term_freqs──E5 terms
  term_freqs ⋈ terms ⋈ docs ──E7 salt+sort──E8/E9 encode blocks──E10 write

Scale notes (the design decisions that matter at 10^12 docs):
  * extract+analyze run in ONE mapInPandas pass over pages — a single
    JVM↔Python Arrow crossing, html column pruned immediately after.
  * term frequencies: explode + groupBy(doc_id, term) — all tokens of a doc
    live in one row/partition, so Spark's partial aggregation collapses to
    per-doc tf maps BEFORE the shuffle; the shuffle then moves exactly the
    (doc, term, tf) tuples the index needs anyway.
  * Zipfian head terms (df > HEAD_DF_THRESHOLD) are salted by DOC-ID RANGE,
    not randomly (SURVEY.md §4.3): per-salt runs are doc-disjoint and
    ordered, so the "external merge" of a head term's runs is pure
    concatenation — no single-task k-way merge anywhere. Block ids are then
    a window over the (128×-smaller) block rows ordered by first_doc.
  * doc_len is bit-packed into each block (`dls`) like Lucene norms, so
    query-time scoring and WAND are block-local — no join against a
    10^12-row docs table per query.
  * S4 shuffle width (measured profile note): the big shuffle carries dl
    per POSTING (it repeats per doc df times) because the encoder needs it
    block-locally. The alternative — shuffling (term_id, doc_id, tf) and
    rejoining dl per range at encode time — saves bytes per posting but
    adds a second shuffle of the postings stream, so the single-shuffle
    layout wins. The payload is PACKED pre-exchange into 3 longs
    (ts = term_id·256+salt, doc_id, tfdl = tf·2³²+dl): 32 B/posting
    UnsafeRows instead of 48 — see encode_enriched.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from elasticsearch_eslib_spark import schemas
from elasticsearch_eslib_spark.config import (
    BM25_B, BM25_K1, HEAD_DF_THRESHOLD, N_SALTS,
)
from elasticsearch_eslib_spark.functions.analyze import analyze_text
from elasticsearch_eslib_spark.functions.codec import encode_posting_blocks
from elasticsearch_eslib_spark.functions.extract import extract_text
from elasticsearch_eslib_spark.operators.ids import assign_dense_ids

TOKENIZED_SCHEMA = ("url string, lang string, doc_len int, "
                    "terms array<string>, tfs array<int>")

# S4 encode-shuffle sizing: one task per this many tokens encoded (see
# encode_enriched). ~8M tokens ≈ 5-6M tf rows ≈ 150-200 MB in-sort — fits
# executor memory with headroom; measured on this box: per-doc build cost
# rose 26% when tasks grew past ~13M rows (spill), flat below.
TOKENS_PER_ENCODE_TASK = 8_000_000


def extract_analyze_tf(pages: DataFrame) -> DataFrame:
    """E1+E2+E4(map side): pages → (url, lang, doc_len, terms[], tfs[]).

    One Arrow pass does extract → analyze → per-doc term counting. The tf
    map leaves Python PACKED as parallel arrays — one output row per
    document, ~100× fewer rows than an exploded layout, so the committed
    tokenized table (and every downstream scan/join of it) moves ~100×
    fewer rows; downstream stages explode in-flight where they need the
    flat view (term_freqs). Quarantined rows (extraction failure) get
    doc_len=-1 and empty arrays.
    """

    def _process(iterator):
        from collections import Counter

        for pdf in iterator:
            out = {"url": [], "lang": [], "doc_len": [], "terms": [],
                   "tfs": []}
            for url, lang, html in zip(pdf["url"], pdf["lang"], pdf["html"]):
                text = extract_text(html)
                if text is None:
                    dl, terms, tfs = -1, [], []
                else:
                    tokens = analyze_text(text, lang)
                    counts = Counter(tokens)
                    dl = len(tokens)
                    terms = list(counts.keys())
                    tfs = list(counts.values())
                out["url"].append(url)
                out["lang"].append(lang)
                out["doc_len"].append(dl)
                out["terms"].append(terms)
                out["tfs"].append(tfs)
            yield pd.DataFrame(out)

    return pages.select("url", "lang", "html").mapInPandas(
        _process, schema=TOKENIZED_SCHEMA)


def assign_doc_ids(tokenized: DataFrame) -> DataFrame:
    """E3: dense deterministic doc ids ordered by url →
    docs = (doc_id, url, lang, doc_len). Empty/rejected docs stay in
    `docs` (doc_len ≤ 0 → no postings) so doc numbering is stable.
    """
    doc_meta = tokenized.select(
        "url", "lang", "doc_len",
        # piggy-backed stats: Σ indexable doc_len + indexable-doc count
        # (rejects carry doc_len=-1 → excluded from both) — the corpus stats
        # come free with the id-counting pass, no extra job
        F.greatest(F.col("doc_len"), F.lit(0)).alias("__dl_pos"),
        F.when(F.col("doc_len") >= 0, 1).otherwise(0).alias("__ok"))
    # persist_input=False: doc_meta is a trivial projection of the
    # committed tokenized table — re-scanning the parquet for the range
    # sampler is cheaper than materializing a cache of it (measured
    # ~0.2-0.4 s at bench scale; ids identical either way)
    with_ids = assign_dense_ids(doc_meta, "url", "doc_id",
                                sum_cols=["__dl_pos", "__ok"],
                                persist_input=False)
    docs = with_ids.select(
        "doc_id", "url", "lang", F.col("doc_len").cast("int").alias("doc_len"))
    # propagate the unpersist handle and the free count/sums
    docs._dense_ids_cache = with_ids._dense_ids_cache  # noqa: SLF001
    docs._dense_ids_total = with_ids._dense_ids_total  # noqa: SLF001
    docs._dense_ids_sums = with_ids._dense_ids_sums  # noqa: SLF001
    return docs


def term_freqs(tokenized: DataFrame, docs: DataFrame) -> DataFrame:
    """E4: (doc_id, term, tf, dl) — doc ids attached to the PACKED rows (a
    doc-count-sized join), then exploded in-flight; the ~100×-larger flat
    tf stream never exists on disk or in a join build side.

    `dl` rides along from the packed row (one int per DOC pre-explode), so
    the postings stage never re-joins the corpus-sized docs table on
    doc_id just to recover doc lengths — at 10^12 docs that second join
    was a full extra shuffle of the exploded stream."""
    packed = (tokenized.where(F.col("doc_len") > 0)
              .join(docs.select("url", "doc_id"), "url")
              .select("doc_id", F.col("doc_len").cast("int").alias("dl"),
                      F.arrays_zip("terms", "tfs").alias("tt")))
    return (packed.select("doc_id", "dl", F.explode("tt").alias("e"))
            .select("doc_id", F.col("e.terms").alias("term"),
                    F.col("e.tfs").cast("int").alias("tf"), "dl"))


def term_freqs_nodoc(tokenized: DataFrame) -> DataFrame:
    """(term, tf) pairs straight off the packed rows — the vocabulary
    stage aggregates per TERM and never looks at doc ids, so it must not
    pay term_freqs' corpus-sized url-join with the docs table (both sides
    shuffle on url; at 10^12 docs that join dominated the terms stage for
    data the aggregation ignored)."""
    return (tokenized.where(F.col("doc_len") > 0)
            .select(F.arrays_zip("terms", "tfs").alias("tt"))
            .select(F.explode("tt").alias("e"))
            .select(F.col("e.terms").alias("term"),
                    F.col("e.tfs").cast("int").alias("tf")))


def build_terms(tf: DataFrame) -> DataFrame:
    """E5: vocabulary with document/collection frequencies + dense term
    ids. Accepts any frame with (term, tf) — one row per (doc, term) —
    typically `term_freqs_nodoc` (no docs join on the vocab path)."""
    vocab = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"))
    with_ids = assign_dense_ids(vocab, "term", "term_id")
    terms = with_ids.select("term_id", "term", "df", "cf")
    # propagate the unpersist handle + the free vocab count (S4 sizes the
    # terms join with it — broadcast whole vs Zipf head/tail split)
    terms._dense_ids_cache = with_ids._dense_ids_cache  # noqa: SLF001
    terms._dense_ids_total = with_ids._dense_ids_total  # noqa: SLF001
    return terms


# terms-dimension rows the encode join may BROADCAST (~32 B/row packed →
# ~64 MB, the session's autoBroadcastJoinThreshold). Below this the whole
# vocabulary broadcasts; above it the join splits Zipf-style (see
# _enrich_with_terms) — at webtext scale the vocabulary is 10^8-10^9 terms
# and a silent fallback to a sort-merge join would shuffle EVERY posting
# on its term string before the encode exchange shuffles them again.
BROADCAST_VOCAB_TERMS = 2_000_000


def _enrich_with_terms(tf: DataFrame, terms: DataFrame,
                       n_terms: int | None,
                       broadcast_vocab_limit: int) -> DataFrame:
    """tf ⋈ terms on `term`, sized for a Zipfian vocabulary.

    Small vocab: one explicit broadcast-hash join — the hint, not the
    session's auto threshold, decides, so the plan never silently flips
    to a corpus-sized sort-merge shuffle as the vocabulary grows across
    appends. Unknown size (n_terms=None) is COUNTED first, never assumed
    small.

    Large vocab: split at the df quantile that bounds the head to the
    broadcast budget. Head terms (highest df — by Zipf the overwhelming
    majority of POSTINGS) broadcast-join; only the tail posting stream
    (most of the VOCAB, few of the postings) pays a sort-merge shuffle,
    and its fact side is that minority stream, never the full corpus.
    The quantile probe is one job over the vocab-sized table — O(vocab),
    nothing corpus-sized.
    """
    dim = terms.select("term", "term_id", "df")
    if n_terms is None:
        # unknown vocabulary size (direct calls only; the plans pass the
        # committed n_terms metric): COUNT it — one O(vocab) job, trivial
        # next to the encode — rather than force-broadcasting a dimension
        # that might be 10^8 rows (the old fallback OOMed the driver on a
        # genuinely large vocab; an unhinted join would silently flip to a
        # corpus-sized sort-merge instead)
        n_terms = dim.count()
    if n_terms <= broadcast_vocab_limit:
        return tf.join(F.broadcast(dim), "term")
    frac = min(1.0, broadcast_vocab_limit / float(n_terms))
    # relative error frac/2 keeps the returned rank within half the head
    # budget of the target — a coarser error can return max(df) at this
    # extreme quantile and collapse the head to nothing; GK sketch memory
    # is O(1/err), i.e. O(n_terms / budget): trivial for any real budget
    err = max(frac / 2.0, 1e-6)
    cut = terms.approxQuantile("df", [1.0 - frac], err)[0]
    dim_head = dim.where(F.col("df") > cut)   # strictly above the quantile
    dim_tail = dim.where(F.col("df") <= cut)  # → head stays within budget
    tf_head = tf.join(F.broadcast(dim_head), "term")
    tf_tail = (tf.join(F.broadcast(dim_head.select("term")), "term",
                       "left_anti")
               .join(dim_tail, "term"))
    return tf_head.unionByName(tf_tail)


def build_postings(tf: DataFrame, terms: DataFrame,
                   n_docs: int, avg_dl: float,
                   n_tokens: int | None = None,
                   head_df_threshold: int = HEAD_DF_THRESHOLD,
                   n_salts: int = N_SALTS,
                   n_terms: int | None = None,
                   broadcast_vocab_limit: int | None = None
                   ) -> DataFrame:
    """E7+E8+E9: salted sorted runs → packed block rows with block-max.

    Output matches schemas.POSTINGS. Head terms are range-salted on doc_id
    so no task ever holds more than ~df_max/n_salts postings. A term's
    blocks are identified and ordered by `first_doc`.

    `tf` must carry `dl` (term_freqs emits it off the packed rows) — doc
    lengths never arrive via a second corpus-sized join on doc_id.

    `n_terms` (vocabulary row count — free from S3's dense-id pass, riding
    the stage metrics) sizes the terms join: within `broadcast_vocab_limit`
    the dimension broadcasts whole; above it the join splits at a df
    quantile so the Zipf head broadcasts and only tail postings shuffle
    (_enrich_with_terms).
    """
    if broadcast_vocab_limit is None:  # resolved at call time so tests
        broadcast_vocab_limit = BROADCAST_VOCAB_TERMS  # can pin the module constant
    # enforce the ts-packing bound on the n_salts ACTUALLY used (callers
    # pass custom values; the old module-constant assert in
    # encode_enriched checked N_SALTS regardless)
    if not 0 < n_salts <= SALT_PACK:
        raise ValueError(f"n_salts={n_salts} must be in 1..{SALT_PACK}")
    salt_width = max(1, (n_docs + n_salts - 1) // n_salts)

    # the enriched stream carries only (term_id, doc_id, tf, dl, salt) —
    # idf is never needed (raw bounds), and df exists here only transiently
    # to derive the salt; encode_enriched packs these into 3 longs before
    # the exchange
    enriched = (
        _enrich_with_terms(tf, terms, n_terms, broadcast_vocab_limit)
          .select(
              "term_id", "doc_id",
              F.col("tf").cast("int").alias("tf"),
              F.col("dl").cast("int").alias("dl"),
              F.when(F.col("df") > head_df_threshold,
                     # clamp: doc_id == n_docs truncates to salt == n_salts
                     # when n_docs % n_salts == 0, which would collide into
                     # the next term's packed ts key space
                     F.least((F.col("doc_id") / salt_width).cast("int"),
                             F.lit(n_salts - 1)))
               .otherwise(F.lit(0)).alias("salt"))
    )
    return encode_enriched(enriched, n_docs, avg_dl, n_tokens)


SALT_PACK = 256  # (term_id, salt) pack width; requires salt < 256


def encode_enriched(enriched: DataFrame, n_docs: int, avg_dl: float,
                    n_tokens: int | None = None) -> DataFrame:
    """E8+E9 over pre-enriched (term_id, doc_id, tf, dl, salt) rows —
    shared by the build path and compaction (plans/compact_index.py),
    which re-encodes decoded postings without a terms/docs join.

    `n_tokens` is the token volume being encoded (default n_docs · avg_dl,
    the whole corpus); an append or a tiered compaction encodes only its
    delta under whole-corpus stats and passes that delta's volume."""
    spark = enriched.sparkSession
    # size the encode shuffle by DATA VOLUME, not core count: the token
    # count upper-bounds the tf rows; one task per ~TOKENS_PER_ENCODE_TASK
    # keeps every sortWithinPartitions in memory (no spill) and the Python
    # encode batches bounded — at any corpus size or executor count. The
    # core count is only a floor so small inputs still use the machine.
    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_tokens is None:
        n_tokens = int(n_docs * avg_dl)
    data_tasks = -(-max(1, n_tokens) // TOKENS_PER_ENCODE_TASK)
    # round UP to a multiple of the slot count: a task count like 25 on 8
    # slots runs as 3 full waves + a ONE-task straggler wave (packing
    # 25/32 — measured as S4 scaling only 3.06× at 2v8); splitting the
    # same data across 32 smaller tasks costs nothing (sorts stay in
    # memory) and packs every wave. At cluster scale data_tasks ≫ slots
    # and the rounding is negligible.
    n_part = -(-data_tasks // n_conf) * n_conf
    # PACK the shuffle payload before the exchange: 5 columns → 3 longs.
    #   ts   = term_id·256 + salt   (salt < 256: N_SALTS is 16)
    #   tfdl = tf·2³² + dl
    # (term_id, salt, doc_id) lexicographic order == (ts, doc_id) order, so
    # the sort and the hash distribution are unchanged. An UnsafeRow is
    # 8-byte-aligned per field, so 5 fields = 48 B/posting and 3 = 32 B —
    # a 33% cut of the bytes every posting pushes through shuffle write,
    # shuffle read, AND the sorter, on the engine's one data-sized
    # exchange. The Arrow crossing into the Python encoder shrinks the
    # same way (3 int64 buffers vs 5). Round-4 measurement motivating
    # this: the 2v8 scaling gap is a ~20% bytes-bound fraction against a
    # 0.32 streaming-memory envelope (BENCH/membw_envelope.json) — bytes
    # per posting is the lever, not parallel structure.
    # salt-range validity (salt < SALT_PACK) is enforced where salt is
    # computed: build_postings bounds+clamps n_salts, and the compaction
    # paths clamp with least(salt, N_SALTS-1)
    packed = enriched.select(
        (F.col("term_id") * F.lit(SALT_PACK)
         + F.col("salt").cast("long")).alias("ts"),
        "doc_id",
        (F.col("tf").cast("long") * F.lit(1 << 32)
         + F.col("dl").cast("long")).alias("tfdl"))
    arranged = (packed
                .repartition(n_part, "ts")
                .sortWithinPartitions("ts", "doc_id"))

    import math as _math
    k1, b = BM25_K1, BM25_B

    block_schema = ("term_id long, first_doc long, last_doc long, "
                    "n_docs int, block_max_tf int, block_max_raw double, "
                    "doc_deltas binary, tfs binary, dls binary")

    from elasticsearch_eslib_spark.config import BLOCK_SIZE as _BS

    def _encode_groups(iterator):
        """Vectorized group carving: numpy change-point slicing per Arrow
        batch; a group open at a batch boundary is buffered and concatenated
        (bounded by the per-salt run size — that is what the salting caps)."""
        import numpy as np

        out: list[dict] = []

        def flush(term_id, docs_a, tfs_a, dls_a):
            # idf-FREE raw bound (schemas.POSTINGS block_max_raw): the
            # query path applies the CURRENT idf and the avgdl-drift
            # factor — keeps df out of the big shuffle entirely, and lets
            # incremental appends leave existing blocks untouched
            scores = (tfs_a * (k1 + 1.0)) / (
                tfs_a + k1 * (1.0 - b + b * dls_a / avg_dl))
            for blk_i, blk in enumerate(
                    encode_posting_blocks(docs_a, tfs_a, dls_a)):
                lo = blk_i * _BS
                blk["block_max_raw"] = float(scores[lo:lo + blk["n_docs"]].max())
                blk["term_id"] = term_id
                out.append(blk)

        cur = None  # (ts key, [doc chunks], [tf chunks], [dl chunks])
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            ts = pdf["ts"].to_numpy(dtype=np.int64)
            d = pdf["doc_id"].to_numpy(dtype=np.int64)
            tfdl = pdf["tfdl"].to_numpy(dtype=np.int64)
            tf_a = tfdl >> 32
            dl_a = tfdl & 0xFFFFFFFF
            change = np.nonzero(ts[1:] != ts[:-1])[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(ts)]))
            for st, en in zip(starts, ends):
                key = int(ts[st])
                if cur is not None and cur[0] == key:
                    cur[1].append(d[st:en])
                    cur[2].append(tf_a[st:en])
                    cur[3].append(dl_a[st:en])
                else:
                    if cur is not None:
                        flush(cur[0] // SALT_PACK, np.concatenate(cur[1]),
                              np.concatenate(cur[2]), np.concatenate(cur[3]))
                    cur = (key, [d[st:en]], [tf_a[st:en]], [dl_a[st:en]])
            if len(out) > 2000:
                yield pd.DataFrame(out)
                out = []
        if cur is not None:
            flush(cur[0] // SALT_PACK, np.concatenate(cur[1]),
                  np.concatenate(cur[2]), np.concatenate(cur[3]))
        if out:
            yield pd.DataFrame(out)

    blocks = arranged.mapInPandas(_encode_groups, schema=block_schema)
    # block_max_raw is idf-free: the query path applies the current idf,
    # so no terms join touches the block stream and appends never rewrite
    # a committed block.
    #
    # Output layout, shared by every writer (build, append, compaction):
    # hash-partitioned by p_bucket = term_id % N_POSTING_BUCKETS, so each
    # bucket directory gets one file and every block of a term lands in
    # one partition; sorted within it by (term_id, first_doc), so a term's
    # blocks are contiguous and in doc order (the order the query path
    # reads them in) and each file's term_id min/max stats prune row
    # groups. The partitionBy(p_bucket) write is then a pass-through: no
    # further exchange and no sort. No partition count is given: the
    # stage starts at spark.sql.shuffle.partitions (the core count, see
    # config.get_spark) and AQE merges small partitions, so a small build
    # writes in one task instead of one per bucket. Several buckets share
    # a partition when there are fewer partitions than buckets (local[4],
    # 100k docs: 4 write tasks, the largest 1.25x the mean, stage wall no
    # longer than the 32-task layout's).
    from elasticsearch_eslib_spark.operators.query import N_POSTING_BUCKETS

    return (blocks
            .withColumn("p_bucket",
                        F.pmod(F.col("term_id"), F.lit(N_POSTING_BUCKETS))
                        .cast("int"))
            .repartition("p_bucket")
            .sortWithinPartitions("p_bucket", "term_id", "first_doc")
            .select([f.name for f in schemas.POSTINGS.fields] + ["p_bucket"]))
