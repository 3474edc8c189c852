"""Engine-wide pinned constants and SparkSession construction.

Everything that must agree between the Spark paths, the pure-Python oracle,
and the DuckDB oracle SQL is pinned HERE, once.
"""

from __future__ import annotations

import os

# ---------------------------------------------------------------------------
# BM25 (FIXTURES.md §3; Lucene-style idf)
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75

# ---------------------------------------------------------------------------
# Postings block codec (SURVEY.md §2.5)
# ---------------------------------------------------------------------------
BLOCK_SIZE = 128          # docs per postings block
EXCEPTION_FRACTION = 0.10  # top-10% of deltas may overflow the packed width

# ---------------------------------------------------------------------------
# Analyzer (SURVEY.md E2)
# ---------------------------------------------------------------------------
MAX_TOKEN_LEN = 40        # tokens longer than this are dropped

# ---------------------------------------------------------------------------
# Skew handling (SURVEY.md E7, §4.3)
# ---------------------------------------------------------------------------
HEAD_DF_THRESHOLD = 100_000   # df above this → term is "head", gets salted
N_SALTS = 16                  # doc-range buckets per head term

# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "eslib-spark", master: str | None = None,
              shuffle_partitions: int | None = None, ui: bool = False):
    """Build the engine's SparkSession.

    local[N] in this sandbox; on a real cluster the same config ships via
    ``spark-submit --py-files dist/elasticsearch_eslib_spark.zip`` (see
    Makefile) and ``master`` comes from the submit command line.
    """
    from pyspark.sql import SparkSession

    # Executor Python workers unpickle our pandas UDFs by module reference —
    # the package root must be importable in THEIR interpreter too. On a
    # cluster this ships via --py-files (Makefile dist target); locally we
    # export it before the JVM (and its worker daemons) launch.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))

    n = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{n}]")
    shuffle_partitions = shuffle_partitions or n
    builder = SparkSession.builder
    if master.startswith("local"):
        # workers see the package only where the exported PYTHONPATH
        # reaches them; the daemon keeps each task from re-reading
        # pyspark.zip (see pydaemon)
        builder = builder.config("spark.python.daemon.module",
                                 "elasticsearch_eslib_spark.pydaemon")
    builder = (
        builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bounded driver-metadata probes (oversized LSH/simhash buckets,
        # query term lists) end in limit(N).collect(); the default
        # CollectLimit strategy scans 1 partition, then 4, 16, ... — a
        # CHAIN of sequential mini-jobs when the filter output is small or
        # empty (measured: 1.7 s per probe at sf0.1). The probes' inputs
        # are already aggregated/filtered to near-nothing, so scanning all
        # partitions in ONE job is strictly better at any scale.
        .config("spark.sql.limit.initialNumPartitions", "10000")
        # bytes are the scarce resource, not CPU: the round-4 scaling
        # decomposition (BENCH/membw_envelope.json) measured the engine
        # ~20% bytes-bound against a 0.32 streaming-memory envelope on a
        # single socket, while ALU-bound work scaled at 0.96. zstd
        # compresses the shuffle/spill stream ~1.5-2× tighter than the
        # lz4 default at a CPU cost that parallelizes perfectly — the
        # right trade on any bandwidth-constrained node, and strictly
        # fewer bytes over the network fabric on a real cluster.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"))
        # same trade for the inter-stage tables (tokenized is written once
        # and scanned by S2/S3/S4): zstd parquet over default snappy
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        # local corpora arrive as a handful of big parquet files; the
        # default 128MB split gives a 2-3-task scan that serializes the
        # Arrow/Python extract stage. 8MB splits keep the scan as parallel
        # as the executor count (a real cluster's many-file input makes
        # this moot — splits are per file anyway)
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # NOTE (measured, round 6): lowering files.openCostInBytes to split
        # the single-file local tables finer does NOT parallelize them —
        # the testdata parquet files hold ONE row group, so only the split
        # containing the row-group midpoint reads any rows and the stage
        # degrades to 1-wide (near-dup pair stage 23 → 61 s). Under-
        # parallel scans feeding CPU-heavy stages are fixed with an
        # explicit conditional repartition instead (planutil.spread — a
        # no-op on any real many-file corpus).
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
