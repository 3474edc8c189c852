"""Structured-Streaming analogs (SURVEY.md §2.1 rows 11–17): streaming
windowed agg == batch twin; file-stream pages ingest lands in the corpus
table exactly once."""

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_events_hourly_equals_batch(spark):
    from elasticsearch_eslib_spark.operators.events import events_hourly
    from elasticsearch_eslib_spark.streaming.ingest import stream_events_hourly

    agg = stream_events_hourly(spark, SF)
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("ev_hourly").start())
    try:
        q.processAllAvailable()
        got = {(r["window_start"], r["event_type"]): (r["n"], r["total_cents"])
               for r in spark.sql("SELECT * FROM ev_hourly").collect()}
    finally:
        q.stop()
    want = {(r["window_start"], r["event_type"]): (r["n"], r["total_cents"])
            for r in events_hourly(spark, SF).collect()}
    assert got == want


def test_stream_pages_ingest_exactly_once(spark, pages_parquet, tmp_path):
    from elasticsearch_eslib_spark.streaming.ingest import stream_pages_ingest

    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    writer = stream_pages_ingest(
        spark, os.path.dirname(pages_parquet), out_dir, ckpt)
    q = writer.start()
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == 1000
    assert got.select("url").distinct().count() == 1000
    # restart with the same checkpoint: no new data → no duplicates
    q2 = stream_pages_ingest(
        spark, os.path.dirname(pages_parquet), out_dir, ckpt).start()
    q2.awaitTermination()
    assert spark.read.parquet(out_dir).count() == 1000


def test_timer_stream_shape(spark):
    from elasticsearch_eslib_spark.streaming.ingest import timer_stream

    df = timer_stream(spark)
    assert df.isStreaming
    assert set(df.columns) == {"tick_ts", "tick"}


def test_epoch_sink_idempotent_on_retry(spark, pages_parquet, tmp_path):
    """Re-delivering the SAME epoch (foreachBatch's at-least-once contract
    after a mid-epoch failure) must not duplicate rows — the flaw in a
    plain parquet append sink."""
    from elasticsearch_eslib_spark.streaming.ingest import (
        epoch_idempotent_sink,
    )

    out = str(tmp_path / "retry_out")
    batch = spark.read.parquet(pages_parquet).limit(200)
    sink = epoch_idempotent_sink(out)
    sink(batch, 0)
    sink(batch, 0)          # the retry
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.select("url").distinct().count() == 200
    sink(batch.limit(50), 1)  # a later epoch still appends normally
    assert spark.read.parquet(out).count() == 250


def test_socket_pages_ingest_stream_equals_batch(spark, pages_parquet,
                                                 tmp_path):
    """HttpMonitor analog end-to-end through a REAL localhost socket: a
    producer pushes JSON page lines to the listener, the stream parses and
    lands them via the epoch-idempotent sink, and the corpus table equals
    the batch pages byte-for-byte (url/text/lang/html)."""
    import socket
    import threading

    from elasticsearch_eslib_spark.streaming.ingest import (
        pages_to_json_lines, stream_socket_pages_ingest,
    )

    pages = spark.read.parquet(pages_parquet).limit(50)
    payload = ("\n".join(
        r["value"] for r in pages_to_json_lines(pages).collect()) + "\n")

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    conns = []

    def serve():
        conn, _ = srv.accept()
        conns.append(conn)           # keep open until the stream stops
        conn.sendall(payload.encode("utf-8"))

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    out = str(tmp_path / "sock_out")
    ckpt = str(tmp_path / "sock_ckpt")
    q = stream_socket_pages_ingest(
        spark, "127.0.0.1", port, out, ckpt).start()
    try:
        t.join(timeout=30)
        q.processAllAvailable()
    finally:
        q.stop()
        for c in conns:
            c.close()
        srv.close()
    got = spark.read.parquet(out)
    orig = {(r["url"], r["text"], r["lang"], bytes(r["html"]))
            for r in pages.collect()}
    back = {(r["url"], r["text"], r["lang"], bytes(r["html"]))
            for r in got.collect()}
    assert back == orig


def test_kafka_shaped_ingest_roundtrip(spark, pages_parquet, tmp_path):
    """pages → Kafka-wire records → streaming ingest → corpus table equals
    the original pages byte-for-byte (url/text/lang/html)."""
    from elasticsearch_eslib_spark.streaming.ingest import (
        pages_to_kafka_records, stream_kafka_pages_ingest,
    )

    pages = spark.read.parquet(pages_parquet)
    records_dir = str(tmp_path / "records")
    pages_to_kafka_records(pages).write.parquet(records_dir)
    # wire sanity: offsets dense per partition, key == url bytes
    rec = spark.read.parquet(records_dir)
    assert rec.count() == 1000
    per_part = rec.groupBy("partition", "offset").count()
    assert per_part.where(F.col("count") > 1).count() == 0

    out = str(tmp_path / "kafka_out")
    ckpt = str(tmp_path / "kafka_ckpt")
    q = stream_kafka_pages_ingest(spark, records_dir, out, ckpt).start()
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 1000
    orig = {(r["url"], r["text"], r["lang"], bytes(r["html"]))
            for r in pages.collect()}
    back = {(r["url"], r["text"], r["lang"], bytes(r["html"]))
            for r in got.collect()}
    assert back == orig
    # restart on the same checkpoint: no new records → no change
    q2 = stream_kafka_pages_ingest(spark, records_dir, out, ckpt).start()
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == 1000


def test_stream_index_append_builds_live_index(spark, tmp_path):
    """Flagship end-to-end: a pages stream (2 epochs) maintains a LIVE
    index whose answers equal a cold batch build over everything, and a
    checkpoint restart appends nothing twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_eslib_spark.fixtures import gen_pages_range, gen_queries
    from elasticsearch_eslib_spark.plans.build_index import (
        Index, build_index, epochs,
    )
    from elasticsearch_eslib_spark.plans.run_queries import run_queries
    from elasticsearch_eslib_spark.sources.tableio import open_tableio
    from elasticsearch_eslib_spark.streaming.ingest import stream_index_append

    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), False),
    ])

    def write(path, lo, hi):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(
            gen_pages_range(lo, hi), schema=schema, preserve_index=False),
            path, row_group_size=2_000)

    base = str(tmp_path / "base" / "pages.parquet")
    write(base, 0, 300)
    stream_dir = str(tmp_path / "stream")
    write(os.path.join(stream_dir, "b1.parquet"), 300, 420)
    write(os.path.join(stream_dir, "b2.parquet"), 420, 520)
    full = str(tmp_path / "full" / "pages.parquet")
    write(full, 0, 520)

    live = str(tmp_path / "live_idx")
    build_index(spark, base, live)
    q = stream_index_append(spark, stream_dir, live,
                            str(tmp_path / "stage"),
                            str(tmp_path / "ckpt")).start()
    q.awaitTermination()

    idx = Index(spark, live)
    assert idx.n_docs == 520
    assert epochs(open_tableio(spark, live).stages()).numbers == [1, 2]

    cold = str(tmp_path / "cold_idx")
    build_index(spark, full, cold)

    def url_scores(d):
        res = run_queries(spark, d, spark.createDataFrame(gen_queries()),
                          path="wand")
        docs = Index(spark, d).docs.select("doc_id", "url")
        return {(r["query_id"], r["url"], round(r["score"], 6))
                for r in res.join(docs, "doc_id").collect()}

    assert url_scores(live) == url_scores(cold)

    # restart on the same checkpoint: nothing new → no third epoch
    q2 = stream_index_append(spark, stream_dir, live,
                             str(tmp_path / "stage"),
                             str(tmp_path / "ckpt")).start()
    q2.awaitTermination()
    assert epochs(open_tableio(spark, live).stages()).numbers == [1, 2]
    assert Index(spark, live).n_docs == 520


def test_index_append_sink_redelivery_no_duplicates(spark, tmp_path):
    """foreachBatch redelivery of a committed epoch (crash after the index
    append but before the stream checkpoint commit) must be a no-op. The
    staged rewrite mints NEW parquet part names, so the round-3 file-name
    fingerprint saw a 'different' batch and appended it again (duplicate
    docs, inflated n_docs); the sink now keys the append by batch CONTENT
    fingerprint."""
    from elasticsearch_eslib_spark.fixtures import gen_pages_range
    from elasticsearch_eslib_spark.plans.build_index import (
        Index, build_index, epochs,
    )
    from elasticsearch_eslib_spark.sources.tableio import open_tableio
    from elasticsearch_eslib_spark.streaming.ingest import index_append_sink

    import pandas as pd

    base = str(tmp_path / "base" / "pages.parquet")
    os.makedirs(os.path.dirname(base))
    spark.createDataFrame(gen_pages_range(0, 200)).write.parquet(base)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, base, idx_dir)

    delta = spark.createDataFrame(gen_pages_range(200, 320))
    sink = index_append_sink(idx_dir, str(tmp_path / "stage"))
    sink(delta, 0)
    io = open_tableio(spark, idx_dir)
    assert epochs(io.stages()).numbers == [1]
    assert Index(spark, idx_dir).n_docs == 320

    sink(delta, 0)  # redelivered epoch: same content, re-staged files
    io2 = open_tableio(spark, idx_dir)
    assert epochs(io2.stages()).numbers == [1]
    assert Index(spark, idx_dir).n_docs == 320
