"""Deduplication operators over the `documents` table — the training-data
pipeline suite (exact, MinHash+LSH, SimHash, n-gram Jaccard).

The reference has no dedup (it shipped raw docs to Elasticsearch); these
are the operators a 100 TB web-corpus pipeline needs in-engine. All are
expressed as DataFrame plans; every hash is the cross-engine md5_long
(functions/hashing.py) so the DuckDB oracle can value-check signatures,
not just row counts.

Scale notes:
  * exact dedup — one hash-shuffle on a 60-bit content hash; at 10^12 docs
    the groupBy key is uniform (no skew), and the map-side partial agg
    collapses singletons before the shuffle.
  * minhash — per-row universal-hash signatures (ONE md5 base hash per
    shingle reduced mod 2³¹−1, then 8 pinned Carter–Wegman affine
    permutations sig_j = min(a_j·h + b_j mod P)) straight off the
    shingling projection: NO shuffle, nothing corpus-sized cached (only the
    72-B/doc signature table, memoized per session); LSH banding turns
    all-pairs O(n²) into a groupBy on (band, band_hash) buckets — buckets
    above the cap degrade to star links (never dropped, never quadratic);
    verification is a JVM-side array_intersect per candidate pair over
    re-shingled CANDIDATE docs only — cost O(#candidates · doc_size),
    never a shingle self-join.
  * simhash — 64-bit, computed as 64 conditional sums in one groupBy (no
    row explosion); near-dup pairs via the pigeonhole band trick (4 × 16-bit
    bands find every hamming ≤ 3 pair exactly); band buckets above the cap
    recurse onto 12-bit sub-bands of the remaining 48 bits (multi-index
    hashing) so no join side ever goes quadratic while exactness holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_eslib_spark.functions.hashing import md5_long, md5_long_seeded
from elasticsearch_eslib_spark.functions.planutil import local_frame
from elasticsearch_eslib_spark.operators.fulltext import load_documents

N_MINHASH = 8          # minhash fns (universal-hash affine permutations)
MINHASH_P = 2_147_483_647  # Mersenne prime 2^31−1: (P−1)² < 2^62 —
                           # products stay exact longs in Spark AND DuckDB
# pinned multipliers/offsets (drawn once from seeded randomness, frozen as
# literals so the oracle SQL embeds the identical constants)
MINHASH_A = [1203744680, 669501527, 2011973296, 341673582,
             775122319, 1864325013, 1123581321, 435910289]
MINHASH_B = [746171130, 1206121537, 312490937, 1764991439,
             83964666, 1589603955, 654321123, 1987654321]
LSH_BANDS = 4          # 4 bands × 2 rows
LSH_ROWS = 2
SHINGLE_K = 3          # 3-gram word shingles
SIMHASH_BITS = 64      # two 32-bit halves (simhash_hi / simhash_lo) — both
                       # BIGINT-safe in Spark and DuckDB (no 1<<63 overflow)
SIMHASH_SEED_LO = 101  # seeded md5 supplying bits 0..31
SIMHASH_SEED_HI = 202  # seeded md5 supplying bits 32..63
HAMMING_RADIUS = 3     # simhash_pairs: exact near-dup pairs at hamming ≤ 3
MAX_LSH_BUCKET = 1000  # LSH buckets larger than this degrade to STAR
                       # linking (each member paired with the bucket's min
                       # doc_id): pair generation stays O(buckets · cap² +
                       # oversized · m) instead of O(n²), and a >cap cluster
                       # of near-identical docs is still LINKED (never
                       # silently dropped — a templated-page cluster with
                       # jaccard ~0.9 must not vanish from the result)
MAX_SIMHASH_BUCKET = 1000  # simhash_pairs: 16-bit-band buckets larger than
                           # this recurse onto 12-bit sub-bands of the
                           # remaining 48 bits (multi-index hashing) —
                           # bounds the within-bucket self-join WITHOUT
                           # losing exactness (see simhash_pairs_of)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: (text_hash, keep_doc_id, n_copies); keeper = min doc_id."""
    docs = load_documents(spark, sf_dir)
    return (docs.select("doc_id", md5_long(F.col("text")).alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies")))


# spread() moved to functions/planutil.py (round 6: the similarity
# operators need it too); re-exported here for existing importers.
from elasticsearch_eslib_spark.functions.planutil import spread  # noqa: E402,F401


def doc_shingle_arrays(docs: DataFrame, do_spread: bool = True) -> DataFrame:
    """(doc_id, shs array<string>): each doc's DISTINCT k-word shingles as
    one packed array — computed entirely per-row (array_distinct inside the
    projection), so shingling involves NO shuffle at any corpus size.

    The token array is materialized as a column BEFORE the transform —
    inlining it would re-evaluate filter(split(text)) inside every
    element_at, turning shingling O(len²) per doc (measured 16s → 3s on
    5000 docs)."""
    if do_spread:
        docs = spread(docs)
    # array_remove == filter(x != "") but codegen'd (lambda higher-order
    # functions are interpreted per element)
    toks_col = F.array_remove(F.split("text", " "), "")
    base = (docs.select("doc_id", toks_col.alias("toks"))
            .where(F.size("toks") >= SHINGLE_K))
    t = F.col("toks")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - (SHINGLE_K - 1)),
        lambda i: F.concat_ws(" ", F.element_at(t, i),
                              F.element_at(t, i + 1),
                              F.element_at(t, i + 2)))
    return base.select("doc_id", F.array_distinct(sh).alias("shs"))


def shingles_of(docs: DataFrame, do_spread: bool = True) -> DataFrame:
    """(doc_id, shingle): distinct k-word shingles, one row per shingle.
    Distinctness is per-doc (array_distinct) — identical result to a global
    (doc_id, shingle) distinct but with NO shuffle."""
    return (doc_shingle_arrays(docs, do_spread)
            .select("doc_id", F.explode("shs").alias("shingle")))


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(load_documents(spark, sf_dir))


def signatures_of(arrs: DataFrame) -> DataFrame:
    """(doc_id, shs) → (doc_id, sig_0..sig_7): universal-hash minhash.

    ONE md5 base hash per shingle reduced mod the Mersenne prime 2^31−1,
    then sig_j = min over shingles of (a_j·h + b_j mod P) — the classic
    min-wise universal family (Carter–Wegman affine permutations; what
    production minhash libraries use instead of k independent
    cryptographic hashes). vs. the round-3 layout of 8 independent seeded
    md5 passes this is 8× less hash CPU per shingle and ~8× smaller
    md5→conv expression trees (which dominated the cold-query compile
    time). Each a_j reshuffles the order of h values, so the 8 minima land
    on genuinely different shingles — a Kirsch–Mitzenmacher (h1 + j·h2)
    variant was measured to correlate the per-band minima and inflate LSH
    candidates 16×. Exact in both engines: (P−1)² + b < 2^62, no
    overflow anywhere, and the DuckDB oracle computes identical longs.

    Built as TWO stacked projections (the hashed array, then the 8 mins):
    the md5 transform is non-cheap and referenced 8×, so Catalyst's
    CollapseProject keeps the boundary — the md5 subtree exists once in
    the compiled plan. Still a narrow per-row pipeline over the scan: NO
    shuffle at any corpus size."""
    def perm(j: int):
        a, b = MINHASH_A[j], MINHASH_B[j]
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    base = arrs.select(
        "doc_id",
        F.transform("shs",
                    lambda x: md5_long(x) % F.lit(MINHASH_P)).alias("h"))
    return base.select("doc_id", *[
        F.array_min(F.transform("h", perm(j))).alias(f"sig_{j}")
        for j in range(N_MINHASH)])


# per-session corpus signature memo: {(app_id, sf_dir) → [fingerprint,
# sigs DF, persisted?]}. Signatures are 8 longs + id per doc (~72 B/doc —
# bounded, nothing like the corpus), and the driver/bench surface computes
# them twice back-to-back (minhash_signatures, then minhash_lsh_pairs), so
# the second query reuses the first's COMPILED plan instead of re-running
# the shingle+hash expression build. Persistence is LAZY — materialize on
# second use: the first caller (q5, a single count) pays only its own
# plan, and only a repeat consumer (the LSH pair pipeline, which scans the
# signatures several times) flips the persist on. The fingerprint check
# invalidates the memo when the documents table changes (same pattern as
# the pinned-planes sidecar). The production analog is committing the
# signature table once at ingest and reading it everywhere.
_SIG_CACHE: dict = {}


def corpus_minhash_signatures(spark: SparkSession, sf_dir: str,
                              persist: bool = False) -> DataFrame:
    from elasticsearch_eslib_spark.sources.tableio import fingerprint_path

    key = (spark.sparkContext.applicationId, sf_dir)
    fp = fingerprint_path(f"{sf_dir}/documents.parquet")
    hit = _SIG_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        if not hit[2]:
            # a memo hit IS the second use: persist now so this and every
            # later consumer share one materialization
            hit[1].persist()
            hit[2] = True
        return hit[1]
    if hit is not None:  # table changed: release the stale cache
        hit[1].unpersist()
    sigs = signatures_of(doc_shingle_arrays(load_documents(spark, sf_dir)))
    if persist:
        sigs = sigs.persist()
    _SIG_CACHE[key] = [fp, sigs, persist]
    return sigs


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_0..sig_7): universal-hash (Carter–Wegman) minhash
    (signatures_of)."""
    return corpus_minhash_signatures(spark, sf_dir)


def _lsh_banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket): one row per doc per band — a single explode
    pass (a 4-way union would recompute the signature aggregation per
    branch)."""
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"sig_{b * LSH_ROWS + r}")
                              for r in range(LSH_ROWS)]).alias("bucket"))
        for b in range(LSH_BANDS)])
    return (sigs.select("doc_id", F.explode(band_structs).alias("bb"))
            .select("doc_id", F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def lsh_oversized_buckets(sigs: DataFrame,
                          max_bucket: int = MAX_LSH_BUCKET) -> DataFrame:
    """Observability for the degradation path: (band, bucket, n, min_doc)
    for every band bucket above `max_bucket` — the buckets whose pairing is
    star-linked instead of all-pairs. A pipeline monitors this (count > 0
    means near-dup clusters bigger than the cap exist; their members stay
    linked but intra-cluster pairs beyond the star are not enumerated)."""
    return (_lsh_banded(sigs).groupBy("band", "bucket")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
            .where(F.col("n") > max_bucket))


# the oversized-bucket set is driver metadata (like query term lists): its
# size is bounded by corpus/max_bucket; collecting it lets the common
# no-skew case skip the degradation branches entirely. Above this many
# oversized buckets the plan stays fully distributed instead.
_MAX_OVER_DRIVER = 10_000


def lsh_candidate_pairs(sigs: DataFrame,
                        max_bucket: int = MAX_LSH_BUCKET) -> DataFrame:
    """(doc_a, doc_b) distinct LSH candidates from a minhash signature df.

    Banding: N_MINHASH sigs → LSH_BANDS bands of LSH_ROWS; docs sharing any
    band bucket become candidates (grouped join — never all-pairs). Buckets
    with more than `max_bucket` members DEGRADE to star linking — every
    member is paired with the bucket's min doc_id, so a >cap cluster of
    templated near-identical pages is still connected at O(m) pairs instead
    of being silently dropped (the round-2 behavior) or costing O(m²).

    The oversized set is detected with one groupBy partial-agg count; when
    it is EMPTY (the common case) the plan short-circuits to the plain
    within-bucket join — no anti-join/star stages are even planned. When
    small it ships as a broadcast local relation; only a pathological
    bucket-count falls back to the fully distributed two-branch plan.

    Contract: the probe is an EAGER .collect() at construction time — it
    executes the signature pipeline once, and the branch choice is frozen
    against the data as read then. Callers MUST pass a persisted (or
    otherwise stable/committed) `sigs`: on an unpersisted input the
    pipeline would run twice (probe + returned plan) and a concurrent
    table change could desynchronize the branch choice from the data the
    returned plan reads. Both in-repo callers persist first.

    Round-5 note: folding the probe into the returned plan as a broadcast
    subquery (one action instead of two) was tried and MEASURED WORSE —
    q6 at sf0.1 went 3.0 → 5.5 s — because the eager probe doubles as the
    persisted-sigs cache materializer: without it, the plan's 3-4 branches
    race a cold cache inside one job and each recomputes the signature
    pipeline (a cost that grows with corpus size, while the probe action
    it saves is a fixed ~0.3-0.5 s). The probe stays.
    """
    banded = _lsh_banded(sigs)
    # EXISTENCE probe first (count-only partial agg, no min): the common
    # no-skew case pays one boolean answer, not a per-bucket min over the
    # whole banded stream. The probe still materializes the persisted sigs
    # cache before the main plan runs (the round-5 contract). min_doc is
    # computed only on the star-link branch below, when actually taken.
    over_exists = (banded.groupBy("band", "bucket")
                   .agg(F.count("*").alias("n"))
                   .where(F.col("n") > max_bucket))
    if not over_exists.limit(1).collect():
        return (banded.alias("a").join(banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"))
                .distinct())
    # skew confirmed: NOW compute the (band, bucket, min_doc) star anchors
    over_plan = (banded.groupBy("band", "bucket")
                 .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
                 .where(F.col("n") > max_bucket)
                 .select("band", "bucket", "min_doc"))
    over_rows = over_plan.limit(_MAX_OVER_DRIVER + 1).collect()
    if len(over_rows) <= _MAX_OVER_DRIVER:
        over = local_frame(sigs.sparkSession, over_rows,
                           "band int, bucket long, min_doc long")
    else:  # pathological: keep the detection distributed
        over = over_plan
    small = banded.join(F.broadcast(over.select("band", "bucket")),
                        ["band", "bucket"], "left_anti")
    full = (small.alias("a").join(small.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")))
    star = (banded.join(F.broadcast(over), ["band", "bucket"])
            .where(F.col("doc_id") > F.col("min_doc"))
            .select(F.col("min_doc").alias("doc_a"),
                    F.col("doc_id").alias("doc_b")))
    return full.unionByName(star).distinct()


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str,
                      jaccard_threshold: float = 0.5) -> DataFrame:
    """LSH candidate pairs verified by exact shingle Jaccard.

    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard ≥ threshold.

    Verification never self-joins the shingle table: the candidate doc set
    (LSH-bounded, ≪ corpus) is semi-joined down first, each candidate doc's
    distinct shingles are packed into ONE array row, and the exact
    intersection is a JVM-side array_intersect per candidate pair. Cost is
    O(#candidates · doc_size) — a boilerplate shingle shared by m docs can
    no longer produce m² intermediate rows (it inflates nothing here; it
    only ever lives inside per-doc arrays).
    """
    # ONE pass over the corpus, NO shuffle, NOTHING corpus-sized cached:
    # signatures come straight off the per-row shingling projection and
    # only the 8-longs-per-doc signature table is persisted (it feeds the
    # banding several times). Round 3 also persisted the packed shingle
    # ARRAYS for the whole corpus so verification could reuse them — but
    # materializing that corpus-sized cache (tens of bytes per token, both
    # serialization directions) cost more than the verification saves:
    # candidates are ≪ corpus, so re-shingling JUST the candidate docs from
    # the raw table is a near-free second pass over a tiny semi-joined
    # slice (measured at sf0.1: 4.3 s → ~2 s for the whole operator). At
    # cluster scale the same argument holds even harder — a corpus-sized
    # executor-storage footprint vs an O(candidates) recompute.
    docs = load_documents(spark, sf_dir)
    # persist=True: the banding feeds three branches of the candidate plan
    # (lsh_candidate_pairs contract) — force the memo materialized even
    # when this is the session's first signature consumer
    sigs = corpus_minhash_signatures(spark, sf_dir, persist=True)
    cand = lsh_candidate_pairs(sigs).persist()
    # candidate docs ≪ corpus: semi-join the raw docs down, then shingle
    # only those (deterministic per-row projection — identical arrays)
    cand_docs = (cand.select(F.col("doc_a").alias("doc_id"))
                 .union(cand.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    # persisted: the pa and pb sides below are two separate broadcast
    # builds over this frame — unpersisted, the semi-join + re-shingling
    # of the candidate docs ran TWICE (once per side)
    packed_cand = (doc_shingle_arrays(
                       docs.join(cand_docs, "doc_id", "left_semi"),
                       do_spread=False)
                   .select("doc_id", "shs", F.size("shs").alias("n_sh"))
                   .persist())
    pa = packed_cand.select(F.col("doc_id").alias("doc_a"),
                            F.col("shs").alias("shs_a"),
                            F.col("n_sh").alias("n_a"))
    pb = packed_cand.select(F.col("doc_id").alias("doc_b"),
                            F.col("shs").alias("shs_b"),
                            F.col("n_sh").alias("n_b"))
    from elasticsearch_eslib_spark.functions.planutil import filter_once

    scored = (cand.join(pa, "doc_a").join(pb, "doc_b")
              .withColumn("n_inter",
                          F.size(F.array_intersect("shs_a", "shs_b"))
                          .cast("long"))
              .withColumn("jaccard", F.round(
                  F.col("n_inter")
                  / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6)))
    # filter_once: an unbarriered threshold filter folds into the pb join
    # condition, re-running the array_intersect per candidate outside the
    # stage codegen and again in the projection (see planutil)
    out = (filter_once(scored, F.col("jaccard") >= jaccard_threshold)
           .select("doc_a", "doc_b", "jaccard"))
    # materialize the (small) result so the candidate cache can be
    # released NOW — round 2 leaked cached blocks for the session lifetime
    # (each bench rep re-accumulated executor storage). `sigs` is NOT
    # unpersisted: it belongs to the bounded per-session signature memo
    # (corpus_minhash_signatures), which owns its lifecycle.
    out = out.localCheckpoint(eager=True)
    cand.unpersist()
    packed_cand.unpersist()
    return out


def simhash_of(tf: DataFrame) -> DataFrame:
    """(doc_id, simhash_hi, simhash_lo): 64-bit tf-weighted simhash as two
    32-bit halves (bit j set iff the tf-weighted ±1 sum over term-hash bit
    j is > 0).

    No row explosion: the 64 per-bit sums are 64 conditional-sum aggregate
    expressions over the (doc_id, term, tf) rows — ONE groupBy shuffle of
    the tf stream (with map-side partial agg), versus the 16×-amplified
    explode layout this replaces. Two seeded md5 hashes supply 32
    independent bits each (md5_long is only 60 bits wide)."""
    h = (tf.withColumn("h0", md5_long_seeded(F.col("term"), SIMHASH_SEED_LO))
         .withColumn("h1", md5_long_seeded(F.col("term"), SIMHASH_SEED_HI)))
    # each agg/pack expression is ONE expr() parse, not a Column-API loop:
    # the 128 conditional sums + 64-term bit packs cost ~1.9 s of pure
    # py4j round-trips per fresh plan when built through pyspark Columns
    # (the same finding as similarity._dot); the parsed trees are
    # identical — `CASE WHEN (shiftright & 1) = 1 THEN tf ELSE -tf END`
    # is exactly the old F.when/otherwise form
    aggs = [F.expr(f"sum(CASE WHEN (shiftright(h0, {j}) & 1) = 1 "
                   f"THEN tf ELSE -tf END) AS s_{j}")
            for j in range(32)]
    aggs += [F.expr(f"sum(CASE WHEN (shiftright(h1, {j}) & 1) = 1 "
                    f"THEN tf ELSE -tf END) AS s_{32 + j}")
             for j in range(32)]
    sums = h.groupBy("doc_id").agg(*aggs)

    def pack(base: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN s_{base + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(32))
        return f"CAST(CAST(0 AS BIGINT) + {terms} AS BIGINT)"

    return sums.select("doc_id",
                       F.expr(pack(32)).alias("simhash_hi"),
                       F.expr(pack(0)).alias("simhash_lo"))


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the 64 map-side partial sums are the CPU cost — they must not
    # serialize on a 1-task local scan (no-op on a many-file corpus)
    from elasticsearch_eslib_spark.operators.fulltext import tokenize_tf_of
    return simhash_of(tokenize_tf_of(spread(load_documents(spark, sf_dir))))


# the four disjoint 16-bit bands of the (hi, lo) 64-bit simhash
_SIMHASH_BAND_EXPRS = (
    "simhash_lo & 65535",
    "shiftright(simhash_lo, 16) & 65535",
    "simhash_hi & 65535",
    "shiftright(simhash_hi, 16) & 65535",
)


def _simhash_rem48(band_col):
    """The 48 bits OUTSIDE band `band_col`, packed into one long: the other
    three 16-bit band values concatenated in band order."""
    b = [F.expr(e).cast("long") for e in _SIMHASH_BAND_EXPRS]
    k16, k32 = F.lit(1 << 16), F.lit(1 << 32)
    return (F.when(band_col == 0, b[1] + b[2] * k16 + b[3] * k32)
            .when(band_col == 1, b[0] + b[2] * k16 + b[3] * k32)
            .when(band_col == 2, b[0] + b[1] * k16 + b[3] * k32)
            .otherwise(b[0] + b[1] * k16 + b[2] * k32))


def simhash_oversized_buckets(sig: DataFrame,
                              max_bucket: int = MAX_SIMHASH_BUCKET
                              ) -> DataFrame:
    """(band, v, n) for 16-bit-band buckets above the cap — the buckets the
    pair operator recurses on (observability + tests)."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"), F.expr(e).alias("v"))
        for b, e in enumerate(_SIMHASH_BAND_EXPRS)])
    banded = (sig.select(F.explode(bands).alias("bb"))
              .select(F.col("bb.band").alias("band"), F.col("bb.v").alias("v")))
    return (banded.groupBy("band", "v").agg(F.count("*").alias("n"))
            .where(F.col("n") > max_bucket))


def simhash_pairs_of(sig: DataFrame,
                     radius: int = HAMMING_RADIUS,
                     max_bucket: int = MAX_SIMHASH_BUCKET) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ radius) near-dup pairs — EXACT result via
    the pigeonhole band trick: split the 64-bit simhash into radius+1
    disjoint 16-bit bands; any pair at hamming ≤ radius must agree on at
    least one whole band (pigeonhole), so grouping by band value finds
    every such pair without an all-pairs join. Candidates are then filtered
    by the exact popcount hamming distance — deterministic, so this has a
    full SQL oracle (DuckDB brute-forces all pairs at test scale and must
    produce the identical set, proving the banding loses nothing).

    Scale bound (multi-index recursion): a 16-bit band has only 65,536
    values, so at 10^12 docs a popular band value holds ~10^7 docs and the
    within-bucket join goes quadratic. Buckets above `max_bucket` therefore
    RECURSE instead of self-joining: within an oversized (band, v) bucket
    every qualifying pair differs in ≤ radius of the REMAINING 48 bits, so
    by pigeonhole again it agrees on ≥ 1 of 4 disjoint 12-bit sub-bands of
    those 48 bits — grouping oversized-bucket members by (band, v,
    sub_band, sub_value) still finds every pair, with 4096× more bucket
    values per level. Exactness is preserved (same oracle). Residual worst
    case: a sub-bucket can itself exceed the cap only when >cap docs share
    28+ signature bits — and if >cap docs share the FULL 64 bits the output
    itself is quadratic (every pair qualifies at hamming 0), which no
    candidate scheme can avoid; recursion depth 1 is the practical bound.
    """
    assert radius + 1 == 4, "banding below is laid out for 4 × 16-bit bands"
    # sig is consumed several times (band sides + two signature lookups);
    # its lineage is the 64-agg pass over the whole corpus — persist it
    sig = sig.persist()
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"), F.expr(e).alias("v"))
        for b, e in enumerate(_SIMHASH_BAND_EXPRS)])
    # banded rows carry hi/lo so the oversized path can re-derive sub-bands
    banded = (sig.select("doc_id", "simhash_hi", "simhash_lo",
                         F.explode(bands).alias("bb"))
              .select("doc_id", "simhash_hi", "simhash_lo",
                      F.col("bb.band").alias("band"), F.col("bb.v").alias("v")))
    over_plan = (banded.groupBy("band", "v").agg(F.count("*").alias("n"))
                 .where(F.col("n") > max_bucket).select("band", "v"))
    # driver metadata probe (≤ 4·65536 rows by construction — each band has
    # only 2^16 values): when no bucket is oversized (common case) the plan
    # short-circuits to the plain band join with zero extra stages. The
    # probe also MATERIALIZES the persisted sig cache before the main plan
    # runs — folding it into the plan as a broadcast subquery was measured
    # 58% slower (q8 4.3 → 6.9 s at sf0.1): the plan's branches then race
    # a cold cache and each recomputes the corpus-sized 64-agg pipeline.
    # hamming is computed DIRECTLY on the banded join output (the banded
    # rows carry hi/lo), and the ≤ radius filter runs BEFORE the distinct:
    # the old shape distinct-ed every bucket pair (hamming > radius ones
    # included, ×4 band duplicates) and then joined the signature table
    # back TWICE just to recover hi/lo — two joins gone and the distinct
    # input shrinks to the qualifying pairs only. Identical result: hamming
    # is a pure function of the pair, so distinct-then-score and
    # score-filter-then-distinct produce the same (doc_a, doc_b, hamming).
    def _pairs(lhs, rhs, *keys):
        ham = (F.bit_count(F.expr("a.simhash_hi ^ b.simhash_hi"))
               + F.bit_count(F.expr("a.simhash_lo ^ b.simhash_lo"))
               ).cast("int")
        cond = (F.col("a.doc_id") < F.col("b.doc_id"))
        for k in keys:
            cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
        return (lhs.alias("a").join(rhs.alias("b"), cond)
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                        ham.alias("hamming"))
                .where(F.col("hamming") <= radius))

    over_rows = over_plan.limit(_MAX_OVER_DRIVER + 1).collect()
    if not over_rows:
        cand = _pairs(banded, banded, "band", "v").distinct()
    else:
        over = (local_frame(sig.sparkSession, over_rows, "band int, v long")
                if len(over_rows) <= _MAX_OVER_DRIVER else over_plan)
        # small buckets: plain within-bucket pairing (bounded by the cap)
        small = (banded.join(F.broadcast(over), ["band", "v"], "left_anti")
                 .select("doc_id", "simhash_hi", "simhash_lo", "band", "v"))
        cand_small = _pairs(small, small, "band", "v")
        # oversized buckets: recurse on 4 × 12-bit sub-bands of the other
        # 48 bits
        sub_structs = F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.shiftright(_simhash_rem48(F.col("band")), 12 * s)
                     .bitwiseAND(F.lit(4095)).alias("sv"))
            for s in range(4)])
        big = (banded.join(F.broadcast(over), ["band", "v"])
               .select("doc_id", "simhash_hi", "simhash_lo", "band", "v",
                       F.explode(sub_structs).alias("ss"))
               .select("doc_id", "simhash_hi", "simhash_lo", "band", "v",
                       F.col("ss.s").alias("s"), F.col("ss.sv").alias("sv")))
        cand_big = _pairs(big, big, "band", "v", "s", "sv")
        cand = cand_small.unionByName(cand_big).distinct()
    out = cand
    # materialize (small result) then release the corpus-sized cache —
    # round 2 leaked it for the session lifetime
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    return out


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs_of(simhash(spark, sf_dir))


def jaccard_vs_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard of every doc against the seed doc (min doc_id):
    (doc_id, jaccard) — the linear-cost brute-force baseline.

    Fully narrow SINGLE-JOB plan: per-doc packed shingle arrays (no
    explode, no shuffle) cross-joined with the ONE-ROW broadcast seed
    subtree; the intersection is a JVM-side array_intersect per doc.

    The seed is found INSIDE the plan (TakeOrdered limit(1) over the
    same ≥K-token filter doc_shingle_arrays applies, then shingle just
    that row) instead of the old persist → min-collect → checkpoint →
    unpersist sequence: one driver action and a corpus-sized cache gone
    for a tokenize-only pass that runs inside the job. Seed identity is
    unchanged — doc_id is unique, so orderBy(doc_id).limit(1) over the
    identical filter selects exactly the min-doc_id row the collect
    found."""
    docs = load_documents(spark, sf_dir)
    arrs = doc_shingle_arrays(docs)
    # same token filter as doc_shingle_arrays, applied BEFORE limit(1)
    toks_col = F.array_remove(F.split("text", " "), "")
    seed_doc = (docs.where(F.size(toks_col) >= SHINGLE_K)
                .orderBy("doc_id").limit(1))
    seed = (doc_shingle_arrays(seed_doc, do_spread=False)
            .select(F.col("shs").alias("seed_shs"),
                    F.size("shs").alias("n_seed")))
    return (arrs.crossJoin(F.broadcast(seed))
            .withColumn("n_sh", F.size("shs"))
            .withColumn("n_inter", F.size(F.array_intersect("shs", "seed_shs")))
            .withColumn("jaccard", F.round(
                F.col("n_inter")
                / (F.col("n_sh") + F.col("n_seed") - F.col("n_inter")), 6))
            .select("doc_id", "jaccard"))
