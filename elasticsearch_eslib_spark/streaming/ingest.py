"""Structured-Streaming analogs of the reference's unbounded sources.

eslib's Monitor processors (TwitterMonitor, RabbitmqMonitor, HttpMonitor,
Timer — SURVEY.md §2.1 rows 11–17) push documents endlessly with no
event-time semantics. The Spark-first re-expression upgrades them to
Structured Streaming with watermarks + windows:

  * `timer_stream`         — Timer analog: rate source ticks.
  * `stream_events_hourly` — windowed count/sum with a watermark (late
    data handled — capability the reference never had).
  * `stream_pages_ingest`  — file-source ingest of pages parquet into the
    corpus table via an EPOCH-IDEMPOTENT foreachBatch sink.
  * `kafka_shaped_stream` / `stream_kafka_pages_ingest` — the Kafka-wire
    ingest analog (RabbitmqMonitor's modern replacement): records arrive
    with the Kafka record shape (key/value/topic/partition/offset/
    timestamp), values carry JSON-encoded pages (html base64), and land
    through the same idempotent sink. The sandbox has no Kafka broker or
    spark-sql-kafka jar, so the stream is driven by a file source with the
    IDENTICAL schema — swapping in `readStream.format("kafka")` changes
    only the source line.
  * `socket_pages_stream` / `stream_socket_pages_ingest` — the HttpMonitor
    analog: a push LISTENER (line-oriented socket source, one JSON page
    per line, same payload schema as the Kafka value) into the same
    idempotent sink; exercised end-to-end over a real localhost socket in
    tests.

Exactly-once semantics: foreachBatch gives at-least-once delivery of each
epoch, so the SINK must be idempotent — each epoch (over)writes its own
`epoch=<id>` directory. A retried epoch replaces its previous partial
output instead of appending a second copy (a plain parquet append here
would silently duplicate rows after a mid-epoch failure). Deduplication
within an epoch is on url; cross-epoch url dedup is a read-time concern
(dedup_exact) because an idempotent sink must not read its own table.

Batch twins (DuckDB-checkable) live in operators/events.py; tests drive
these with the memory sink + processAllAvailable (synchronous, hermetic).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

KAFKA_WIRE_SCHEMA = ("key binary, value binary, topic string, "
                     "partition int, offset long, timestamp timestamp")


def timer_stream(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Timer/heartbeat analog (eslib Timer → readStream rate source)."""
    return (spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second).load()
            .select(F.col("timestamp").alias("tick_ts"),
                    F.col("value").alias("tick")))


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.events.events_hourly with a 2h watermark."""
    import tempfile

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file-stream source wants a DIRECTORY; the testdata table is a
    # single parquet file → stage a symlink dir (canonical deployments
    # stream from an ingest directory anyway)
    stage = os.path.join(tempfile.gettempdir(),
                         f"eslib_stream_events_{abs(hash(sf_dir))}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    ev = (spark.readStream.schema(batch_schema).parquet(stage)
          # parquet carries TIMESTAMP_NTZ; watermarks need TIMESTAMP
          .withColumn("ts", F.col("ts").cast("timestamp")))
    return (ev.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").getField("start")
                     .alias("window_start"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("total_cents")))


def epoch_idempotent_sink(out_dir: str):
    """foreachBatch sink writing each epoch to its own epoch=<id> directory
    with overwrite — a retried epoch replaces its own output, so the table
    never holds two copies of one epoch no matter how often the epoch is
    re-delivered. The epoch directory name is partition-style, so a plain
    `spark.read.parquet(out_dir)` reads the table (with an `epoch`
    partition column)."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        (batch_df.dropDuplicates(["url"])
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"epoch={epoch_id}")))

    return _sink


def stream_pages_ingest(spark: SparkSession, pages_glob: str,
                        out_dir: str, checkpoint_dir: str):
    """File-stream pages → epoch-idempotent corpus-table ingest."""
    from elasticsearch_eslib_spark import schemas

    pages = (spark.readStream.schema(schemas.PAGES).parquet(pages_glob))
    return (pages.writeStream.foreachBatch(epoch_idempotent_sink(out_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def pages_to_kafka_records(pages: DataFrame, topic: str = "pages") -> DataFrame:
    """Encode pages rows in the Kafka record wire shape (the producer side
    of the analog; used to stage test/demo record streams)."""
    from pyspark.sql import Window

    w = Window.partitionBy("topic_part").orderBy("key")  # key = url bytes
    return (pages.select(
        F.encode("url", "utf-8").alias("key"),
        F.encode(F.to_json(F.struct(
            "url", "warc_ts",
            F.base64("html").alias("html_b64"),
            "text", "lang")), "utf-8").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("topic_part"),
        F.col("warc_ts").alias("timestamp"))
        .withColumn("offset", F.row_number().over(w).cast("long"))
        .select("key", "value", "topic",
                F.col("topic_part").alias("partition"), "offset", "timestamp"))


def kafka_shaped_stream(spark: SparkSession, records_dir: str) -> DataFrame:
    """Unbounded stream of Kafka-wire records. File-source driven here (no
    broker in the sandbox); in a Kafka deployment replace with
    `spark.readStream.format("kafka").option("subscribe", topic).load()` —
    the downstream schema is identical by construction."""
    return spark.readStream.schema(KAFKA_WIRE_SCHEMA).parquet(records_dir)


_PAGES_JSON_SCHEMA = ("url string, warc_ts timestamp, html_b64 string, "
                      "text string, lang string")


def _json_payload_to_pages(df: DataFrame, json_col) -> DataFrame:
    """JSON page payloads (string column) → pages rows (schemas.PAGES)."""
    payload = F.from_json(json_col, _PAGES_JSON_SCHEMA)
    return (df.select(payload.alias("p"))
            .select(F.col("p.url").alias("url"),
                    F.col("p.warc_ts").alias("warc_ts"),
                    F.unbase64(F.col("p.html_b64")).alias("html"),
                    F.col("p.text").alias("text"),
                    F.col("p.lang").alias("lang")))


def parse_pages_records(records: DataFrame) -> DataFrame:
    """Kafka-wire records → pages rows (schemas.PAGES shape)."""
    return _json_payload_to_pages(records, F.decode("value", "utf-8"))


def stream_kafka_pages_ingest(spark: SparkSession, records_dir: str,
                              out_dir: str, checkpoint_dir: str):
    """Kafka-shaped records → parse → the same epoch-idempotent sink."""
    pages = parse_pages_records(kafka_shaped_stream(spark, records_dir))
    return (pages.writeStream.foreachBatch(epoch_idempotent_sink(out_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def pages_to_json_lines(pages: DataFrame) -> DataFrame:
    """(value string): one JSON line per page — the line-oriented wire shape
    a push-listener ingest receives (producer side; stages test streams)."""
    return pages.select(F.to_json(F.struct(
        "url", "warc_ts",
        F.base64("html").alias("html_b64"),
        "text", "lang")).alias("value"))


def socket_pages_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """HttpMonitor analog (reference §2.1 row 15): a LISTENER that external
    producers push documents to, re-expressed as Structured Streaming's
    line-oriented socket source — one JSON page per line, the same payload
    schema as the Kafka-wire value. The socket source is at-most-once on
    its own (no replay); the epoch-idempotent sink still guarantees a
    retried epoch never lands twice. For at-least-once delivery a real
    deployment fronts the listener with a replayable log (the Kafka path
    above) — this analog covers the push-ingest SHAPE."""
    lines = (spark.readStream.format("socket")
             .option("host", host).option("port", port).load())
    return _json_payload_to_pages(lines, F.col("value"))


def stream_socket_pages_ingest(spark: SparkSession, host: str, port: int,
                               out_dir: str, checkpoint_dir: str):
    """Socket-listener pages → the same epoch-idempotent sink. No
    availableNow trigger: a listener is genuinely unbounded — tests drive
    it with processAllAvailable + stop."""
    pages = socket_pages_stream(spark, host, port)
    return (pages.writeStream.foreachBatch(epoch_idempotent_sink(out_dir))
            .option("checkpointLocation", checkpoint_dir))


def batch_content_fingerprint(df: DataFrame) -> str:
    """Order-independent CONTENT fingerprint of a pages batch
    (``c<n>-<hash>``): row count + bit_xor of per-row
    xxhash64(url, html, lang). Identical content → identical fingerprint
    no matter how the rows are laid out in files — which a file-name/size
    fingerprint (tableio.fingerprint_path) cannot give, because every
    parquet rewrite mints fresh job-UUID part names.

    `lang` is part of the hash because tokenization (analyzer/stopword
    chain) depends on it: a batch with identical (url, html) but a
    different lang produces DIFFERENT postings and must not be skipped as
    an already-committed duplicate."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(url, html, lang))"),
                   F.lit(0)).alias("h")).collect()[0]
    return f"c{int(row['n'])}-{int(row['h']) & (1 << 64) - 1:016x}"


def index_append_sink(index_dir: str, stage_root: str):
    """foreachBatch sink maintaining a LIVE index: each epoch's pages are
    staged to an epoch=<id> dir (overwrite — idempotent under epoch
    redelivery) and appended to the index as one committed epoch
    (plans/append_index.py). Exactly-once end-to-end with a replayable
    source: the append is keyed by the batch's CONTENT fingerprint (a
    redelivered epoch rewrites the staged files under NEW part names, so a
    file-name fingerprint would differ and double-append — the round-3
    bug), and append_index no-ops any batch already committed as ANY
    epoch. Epochs run sequentially in the stream thread — append is
    single-writer by construction. Empty epochs are skipped."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        from elasticsearch_eslib_spark.plans.append_index import append_index

        staged = batch_df.dropDuplicates(["url"])
        if staged.isEmpty():
            return
        fp = batch_content_fingerprint(staged)
        stage = os.path.join(stage_root, f"epoch={epoch_id}")
        staged.write.mode("overwrite").parquet(stage)
        append_index(batch_df.sparkSession, stage, index_dir,
                     batch_fingerprint=fp)

    return _sink


def stream_index_append(spark: SparkSession, pages_glob: str,
                        index_dir: str, stage_root: str,
                        checkpoint_dir: str, max_files_per_trigger: int = 1):
    """The reference's FLAGSHIP shape end-to-end: an unbounded document
    stream maintains a live, queryable index (eslib: Monitor → HtmlRemover
    → ElasticsearchWriter; here: file/Kafka/socket stream → E1/E2 → epochal
    index append). Every epoch leaves the index in a committed, queryable
    state — readers never see a partial epoch."""
    from elasticsearch_eslib_spark import schemas

    pages = (spark.readStream.schema(schemas.PAGES)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .parquet(pages_glob))
    return (pages.writeStream
            .foreachBatch(index_append_sink(index_dir, stage_root))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))
