"""TableIO interface contract — run against ManifestTableIO always, and
against IcebergTableIO when an Iceberg runtime jar + catalog exist (this
sandbox has neither, so the Iceberg end-to-end case SKIPS; the routing,
helper, and failure-mode paths still run)."""

import os

import pytest

from elasticsearch_eslib_spark.sources.tableio import (
    IcebergTableIO, IcebergUnavailable, ManifestTableIO,
    iceberg_available, open_tableio,
)

FP = "fp-contract-1"


def _contract(io, spark, make_df):
    """The behavior every TableIO implementation must satisfy."""
    # group commits accumulate and read() sees exactly the committed rows
    io.commit_group("tokenized", "tokenized", make_df([(1, 0), (2, 0)]),
                    [0], FP, partition_by=["bucket"])
    io.commit_group("tokenized", "tokenized", make_df([(3, 1)]),
                    [1], FP, partition_by=["bucket"])
    assert io.done_partitions("tokenized", FP) == {0, 1}
    assert io.done_partitions("tokenized", "other-fp") == set()
    got = sorted(r["doc_id"] for r in io.read("tokenized").collect())
    assert got == [1, 2, 3]

    # stage-level commit + accessors
    assert not io.is_done("tokenized", FP)
    snap = io.commit_stage("tokenized", "tokenized", None, FP,
                           metrics={"n": 3})
    assert io.is_done("tokenized", FP)
    assert not io.is_done("tokenized", "other-fp")
    assert io.stage_snapshot("tokenized") == snap
    assert io.stage_metrics("tokenized")["n"] == 3
    meta = io.stages()["tokenized"]
    assert (meta["status"], meta["table"], meta["snapshot"],
            meta["metrics"]) == ("done", "tokenized", snap, {"n": 3})

    # whole-table overwrite write + read
    io.write_table("docs", make_df([(7, 0)]))
    assert [r["doc_id"] for r in io.read("docs").collect()] == [7]
    io.write_table("docs", make_df([(8, 0)]))
    assert [r["doc_id"] for r in io.read("docs").collect()] == [8]

    # lineage_df matches the declared schema
    from elasticsearch_eslib_spark import schemas

    ldf = io.lineage_df()
    assert ldf.schema == schemas.LINEAGE
    pids = {r["partition_id"] for r in ldf.collect()
            if r["stage"] == "tokenized"}
    assert pids == {0, 1}

    # reset drops data + lineage + stage status
    io.reset_stage("tokenized", "tokenized")
    assert io.done_partitions("tokenized", FP) == set()
    assert not io.is_done("tokenized", FP)


def _mk(spark):
    def make_df(rows):
        return spark.createDataFrame(rows, "doc_id long, bucket int")
    return make_df


def test_manifest_tableio_contract(spark, tmp_path):
    io = ManifestTableIO(spark, str(tmp_path / "man"))
    _contract(io, spark, _mk(spark))


def test_iceberg_tableio_contract(tmp_path):
    """Real Iceberg catalog end-to-end — needs the runtime jar."""
    from elasticsearch_eslib_spark.config import get_spark

    probe = get_spark("iceberg-probe", master="local[2]",
                      shuffle_partitions=2)
    try:
        probe._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("iceberg-spark-runtime jar not on the classpath")
    # configure a hadoop-catalog over a temp warehouse and run the contract
    probe.stop()
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .appName("iceberg-contract")
             .config("spark.sql.catalog.ice",
                     "org.apache.iceberg.spark.SparkCatalog")
             .config("spark.sql.catalog.ice.type", "hadoop")
             .config("spark.sql.catalog.ice.warehouse",
                     str(tmp_path / "warehouse"))
             .getOrCreate())
    try:
        io = IcebergTableIO(spark, "iceberg://ice.contract_ns")
        _contract(io, spark, _mk(spark))
    finally:
        spark.stop()


def test_open_tableio_routing(spark, tmp_path):
    io = open_tableio(spark, str(tmp_path / "plain"))
    assert isinstance(io, ManifestTableIO)
    if not iceberg_available(spark, "nosuchcatalog"):
        with pytest.raises(IcebergUnavailable):
            open_tableio(spark, "iceberg://nosuchcatalog.ns")


def test_iceberg_bucket_codec_roundtrip():
    enc = IcebergTableIO._encode_buckets([3, 1, 2])
    assert enc == "1,2,3"
    assert IcebergTableIO._decode_buckets(enc) == {1, 2, 3}
    assert IcebergTableIO._decode_buckets("") == set()


def test_iceberg_summary_decode_roundtrip_jarfree():
    """The resume contract's snapshot-summary decode, driven by RECORDED
    `.snapshots` rows (shaped like real Iceberg summaries, incl. the engine
    properties next to Iceberg's own keys) — covers done_partitions and
    lineage_df logic without the runtime jar."""
    import datetime as dt

    t1 = dt.datetime(2026, 8, 16, 12, 0, 0, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2026, 8, 16, 12, 5, 0, tzinfo=dt.timezone.utc)
    summaries = [
        # group 1: buckets 0,2 under fp-A
        {"operation": "append", "added-data-files": "2",
         "added-files-size": "2048", "added-records": "100",
         "eslib.stage": "tokenized", "eslib.fp": "fp-A",
         "eslib.buckets": "0,2"},
        # group 2: bucket 1 under fp-A
        {"operation": "append", "added-data-files": "1",
         "added-files-size": "1024", "added-records": "50",
         "eslib.stage": "tokenized", "eslib.fp": "fp-A",
         "eslib.buckets": "1"},
        # a different stage's snapshot on the same table must not count
        {"operation": "append", "eslib.stage": "other",
         "eslib.fp": "fp-A", "eslib.buckets": "9"},
        # same stage, STALE fingerprint must not count
        {"operation": "append", "eslib.stage": "tokenized",
         "eslib.fp": "fp-OLD", "eslib.buckets": "7"},
        # an Iceberg maintenance snapshot with no engine properties
        {"operation": "replace"},
        None,  # a null summary row must not crash the decode
    ]
    got = IcebergTableIO.buckets_from_summaries(summaries, "tokenized", "fp-A")
    assert got == {0, 1, 2}
    assert IcebergTableIO.buckets_from_summaries(
        summaries, "tokenized", "fp-OLD") == {7}
    assert IcebergTableIO.buckets_from_summaries(
        summaries, "nosuch", "fp-A") == set()

    rows = IcebergTableIO.lineage_from_snapshots(
        "tokenized", list(zip([t1, t1, t1, t2, t2, t2], summaries)))
    assert {(r[1], r[2]) for r in rows} == {
        (0, "fp-A"), (2, "fp-A"), (1, "fp-A"), (7, "fp-OLD")}
    by_pid = {r[1]: r for r in rows if r[2] == "fp-A"}
    assert by_pid[0][4] == 2048 and by_pid[1][4] == 1024  # added-files-size
    assert all(r[3] == "done" for r in rows)


def test_iceberg_identifier_validation(spark, tmp_path):
    """Stage/table names are interpolated into SQL — anything that is not a
    plain identifier is rejected at the TableIO boundary."""
    from elasticsearch_eslib_spark.sources.tableio import _check_ident

    assert _check_ident("tokenized") == "tokenized"
    assert _check_ident("ice.ns_1", dots=True) == "ice.ns_1"
    for bad in ("a'; DROP TABLE x; --", "a b", "", "a.b", "1abc", "a-b"):
        with pytest.raises(ValueError):
            _check_ident(bad)
    with pytest.raises(ValueError):
        _check_ident("ice..ns", dots=True)


def test_parse_iso_tz_aware():
    """Lineage timestamps parse as AWARE UTC; unparseable strings fall
    back to the aware epoch (never a naive datetime that a non-UTC session
    would shift)."""
    import datetime as dt

    from elasticsearch_eslib_spark.sources.tableio import (
        _parse_iso, _utcnow_iso,
    )

    micro = _parse_iso("2026-08-16T12:00:00.654321Z")
    assert micro.tzinfo == dt.timezone.utc and micro.microsecond == 654321
    assert _parse_iso("garbage").tzinfo == dt.timezone.utc
    # round-trip of the current writer format
    now = _utcnow_iso()
    assert _parse_iso(now).strftime("%Y-%m-%dT%H:%M:%S.%fZ") == now


def test_manifest_crash_window_invisible(spark, tmp_path):
    """commit_group's crash injection leaves data on disk that read()
    must NOT see, and gc_unregistered reclaims it."""
    io = ManifestTableIO(spark, str(tmp_path / "crash"))
    make_df = _mk(spark)
    io.commit_group("tokenized", "tokenized", make_df([(1, 0)]), [0], FP,
                    partition_by=["bucket"])
    with pytest.raises(Exception, match="injected crash"):
        io.commit_group("tokenized", "tokenized", make_df([(2, 1)]), [1], FP,
                        partition_by=["bucket"], crash_before_record=True)
    assert io.done_partitions("tokenized", FP) == {0}
    assert [r["doc_id"] for r in io.read("tokenized").collect()] == [1]
    on_disk = set(os.listdir(io.table_path("tokenized")))
    assert len(on_disk - io.registered_dirs("tokenized")) == 1
    io.gc_unregistered("tokenized", "tokenized")
    on_disk = set(os.listdir(io.table_path("tokenized")))
    assert on_disk == io.registered_dirs("tokenized")


# ---------------------------------------------------------------------------
# Jar-free IcebergTableIO contract: a recorded/simulated catalog session
# ---------------------------------------------------------------------------


class _FakeWriterV2:
    """Stands in for DataFrameWriterV2: materializes the plan and commits
    rows + a `.snapshots` entry (summary shaped like a real Iceberg
    snapshot summary, engine properties included) into the fake catalog."""

    def __init__(self, df, ident, cat):
        self._df, self._ident, self._cat = df, ident, cat
        self._props = {}

    def using(self, fmt):
        assert fmt == "iceberg"
        return self

    def option(self, k, v):
        if k.startswith("snapshot-property."):
            self._props[k[len("snapshot-property."):]] = str(v)
        return self

    def partitionedBy(self, *cols):
        return self

    def _snap(self, rows, op):
        import datetime as dt

        t = self._cat.setdefault("_clock", [0])
        t[0] += 1
        return {
            "snapshot_id": str(9_000_000_000 + t[0]),
            "committed_at": dt.datetime(2026, 8, 17, 0, 0, t[0] % 60,
                                        tzinfo=dt.timezone.utc),
            "summary": {
                "operation": op,
                "added-records": str(len(rows)),
                "added-files-size": str(len(rows) * 100),
                **self._props,
            },
        }

    def create(self):
        tables = self._cat["tables"]
        if self._ident in tables:
            raise RuntimeError(f"table exists: {self._ident}")
        rows = self._df.collect()
        tables[self._ident] = {"rows": list(rows),
                               "schema": self._df.schema,
                               "snapshots": [self._snap(rows, "append")]}

    def createOrReplace(self):
        rows = self._df.collect()
        self._cat["tables"][self._ident] = {
            "rows": list(rows), "schema": self._df.schema,
            "snapshots": [self._snap(rows, "replace")]}

    def append(self):
        t = self._cat["tables"][self._ident]
        rows = self._df.collect()
        t["rows"].extend(rows)
        t["snapshots"].append(self._snap(rows, "append"))


class _FakeJvmClass:
    @staticmethod
    def forName(name):
        assert name == "org.apache.iceberg.spark.SparkCatalog"


class _FakeIcebergSession:
    """The slice of SparkSession surface IcebergTableIO touches, backed by
    an in-memory catalog; everything else (createDataFrame, real DataFrame
    ops over the stored rows) delegates to the REAL session, so the class
    under test runs its own logic verbatim — only the Iceberg runtime is
    simulated."""

    def __init__(self, real):
        self._real = real
        self.cat = {"tables": {}, "namespaces": set()}

        class _Jvm:
            class java:
                class lang:
                    Class = _FakeJvmClass

        self._jvm = _Jvm()

        real_conf = real.conf

        class _Conf:
            @staticmethod
            def get(key, default=None):
                if key.startswith("spark.sql.catalog.ice"):
                    return "org.apache.iceberg.spark.SparkCatalog"
                return real_conf.get(key, default)

        self.conf = _Conf()
        fake = self

        class _Catalog:
            @staticmethod
            def tableExists(ident):
                return ident in fake.cat["tables"]

        self.catalog = _Catalog()

    def __getattr__(self, name):
        return getattr(self._real, name)

    def _snap_df(self, ident, cols):
        snaps = self.cat["tables"][ident]["snapshots"]
        data = [tuple(s[c] for c in cols) for s in snaps]
        types = {"snapshot_id": "string",
                 "committed_at": "timestamp",
                 "summary": "map<string,string>"}
        schema = ", ".join(f"{c} {types[c]}" for c in cols)
        return self._real.createDataFrame(data, schema)

    def sql(self, q):
        import re

        q = q.strip()
        m = re.fullmatch(r"CREATE NAMESPACE IF NOT EXISTS ([\w.]+)", q)
        if m:
            self.cat["namespaces"].add(m.group(1))
            return None
        m = re.fullmatch(r"SELECT summary FROM ([\w.]+)\.snapshots", q)
        if m:
            return self._snap_df(m.group(1), ["summary"])
        m = re.fullmatch(
            r"SELECT snapshot_id FROM ([\w.]+)\.snapshots "
            r"ORDER BY committed_at DESC LIMIT 1", q)
        if m:
            return (self._snap_df(m.group(1),
                                  ["snapshot_id", "committed_at"])
                    .orderBy("committed_at", ascending=False)
                    .select("snapshot_id").limit(1))
        m = re.fullmatch(
            r"SELECT committed_at, summary FROM ([\w.]+)\.snapshots", q)
        if m:
            return self._snap_df(m.group(1), ["committed_at", "summary"])
        m = re.fullmatch(r"DROP TABLE IF EXISTS ([\w.]+)", q)
        if m:
            self.cat["tables"].pop(m.group(1), None)
            return None
        m = re.fullmatch(r"DELETE FROM ([\w.]+) WHERE stage = '(\w+)'", q)
        if m:
            t = self.cat["tables"].get(m.group(1))
            if t is not None:
                t["rows"] = [r for r in t["rows"]
                             if r["stage"] != m.group(2)]
            return None
        raise AssertionError(f"unexpected SQL in IcebergTableIO: {q!r}")

    def table(self, ident):
        t = self.cat["tables"][ident]
        return self._real.createDataFrame(t["rows"], t["schema"])


def test_iceberg_tableio_contract_jarfree(spark, monkeypatch):
    """The FULL TableIO contract against the real IcebergTableIO class,
    with the Iceberg runtime simulated by an in-memory catalog: every
    line of the class's own logic (stage-row latest-wins ordering,
    snapshot-summary bucket decode, metrics JSON round-trip, reset SQL,
    lineage assembly) executes without the jar. The true end-to-end case
    (test_iceberg_tableio_contract) still needs the jar and skips."""
    fake = _FakeIcebergSession(spark)
    # patch the CONCRETE DataFrame class (Spark 4 classic subclass
    # overrides writeTo; patching the base would not take)
    monkeypatch.setattr(
        type(spark.range(1)), "writeTo",
        lambda self, ident: _FakeWriterV2(self, ident, fake.cat),
        raising=True)
    io = IcebergTableIO(fake, "iceberg://ice.contract_ns")
    _contract(io, fake, _mk(fake))
    assert "ice.contract_ns" in fake.cat["namespaces"]


def test_iceberg_commit_group_crash_parity_jarfree(spark, monkeypatch):
    """commit_group's Iceberg shape: data + lineage land in ONE snapshot
    (no crash window) — the injected crash fires only after the atomic
    commit, and the committed buckets remain visible."""
    fake = _FakeIcebergSession(spark)
    monkeypatch.setattr(
        type(spark.range(1)), "writeTo",
        lambda self, ident: _FakeWriterV2(self, ident, fake.cat),
        raising=True)
    io = IcebergTableIO(fake, "iceberg://ice.crash_ns")
    make_df = _mk(fake)
    with pytest.raises(Exception, match="injected crash"):
        io.commit_group("tokenized", "tokenized", make_df([(1, 0)]), [0],
                        FP, crash_before_record=True)
    # unlike the manifest impl, the data IS committed: same snapshot
    assert io.done_partitions("tokenized", FP) == {0}
    assert [r["doc_id"] for r in io.read("tokenized").collect()] == [1]
