"""Table IO: committed stage tables with snapshots, lineage and resume (C1–C4).

BASELINE.json requires "resumable from Iceberg-snapshot checkpoints with
per-partition lineage and metrics". IO goes through ONE interface
(read / write_table / commit_group / commit_stage / stages / is_done /
done_partitions / lineage_df / reset_stage) with two implementations:

  * IcebergTableIO — root "iceberg://catalog.namespace"; stage tables are
    Iceberg tables, a bucket commit group is ONE `writeTo().append()` whose
    snapshot summary carries the bucket list + input fingerprint (data and
    lineage land in the SAME atomic Iceberg commit — no crash window at
    all); resume reads the bucket sets back from the table's `.snapshots`
    metadata. Requires the iceberg-spark-runtime jar and a configured
    catalog (verified at construction; this sandbox has neither, so the
    class is exercised by the interface contract tests and skipped
    end-to-end — see tests/test_tableio_iceberg.py).
  * ManifestTableIO — Parquet directories + a `_manifest.json` recording
    {stage → snapshot_id, input_fingerprint, metrics} and per-(stage,
    partition) lineage rows. A commit group writes to a uniquely-named
    subdirectory and becomes visible only when its lineage rows land in the
    manifest. Every manifest write is one `atomic_update`, a locked
    re-read that raises IndexChanged if another writer committed since
    this handle last read, then an fsynced os.replace (the atomic commit
    point); only this module builds or edits manifest entries. The
    manifest carries `format_version`; opening one with another version
    (or none) raises IndexFormatError.

Resume contract (C3): a stage re-runs only if its recorded input
fingerprint differs or its status is not 'done'; bucket-level stages
(see plans/build_index.py) additionally skip buckets whose lineage rows
are 'done' — an anti-join in the driver logic.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_eslib_spark.functions.planutil import local_frame


def _utcnow_iso() -> str:
    """Microsecond-precision UTC timestamp. Sub-second precision makes the
    string ordering of 'updated' deterministic for same-second commits
    (IcebergTableIO's latest-row-per-stage rule orders on it)."""
    import datetime as dt

    return dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_iso(s: str):
    """Parse a `_utcnow_iso` timestamp as an AWARE UTC datetime — naive
    datetimes would be reinterpreted in the Spark session timezone,
    skewing lineage 'updated' values on non-UTC sessions."""
    import datetime as dt

    try:
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc)
    except ValueError:
        return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _check_ident(name: str, dots: bool = False) -> str:
    """Validate a stage/table/namespace name as a plain SQL identifier
    (letters, digits, underscore; dot-separated segments when `dots`).
    Names cross into interpolated SQL in IcebergTableIO — reject anything
    else at the boundary instead of trusting callers."""
    import re

    pat = r"[A-Za-z_][A-Za-z0-9_]*"
    if dots:
        pat = rf"{pat}(\.{pat})*"
    if not re.fullmatch(pat, name):
        raise ValueError(f"invalid table/stage identifier: {name!r}")
    return name


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def fingerprint_path(path: str) -> str:
    """Cheap deterministic input fingerprint: file names + sizes hashed."""
    import hashlib

    entries = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for name in sorted(files):
                if name.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, name)
                entries.append(f"{os.path.relpath(fp, path)}:{os.path.getsize(fp)}")
    elif os.path.exists(path):
        entries.append(f"{os.path.basename(path)}:{os.path.getsize(path)}")
    digest = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()
    return digest[:16]


# The on-disk format every manifest is stamped with (INDEX_FORMAT.md).
# A manifest with no stamp or another one is refused, never read.
FORMAT_VERSION = 4


class IndexFormatError(RuntimeError):
    """An existing `_manifest.json` was written in another index format."""


class IndexChanged(RuntimeError):
    """Another writer committed to the index after this handle last read
    or wrote its manifest; nothing was committed — reopen and rerun."""


class _StageAccessors:
    """Stage status read off `stages()`: {stage: {status, table, snapshot,
    input_fingerprint, metrics, updated}}, one entry per committed stage."""

    def is_done(self, stage: str, input_fingerprint: str) -> bool:
        meta = self.stages().get(stage)
        return bool(meta and meta["status"] == "done"
                    and meta["input_fingerprint"] == input_fingerprint)

    def stage_snapshot(self, stage: str) -> str:
        return self.stages()[stage]["snapshot"]

    def stage_metrics(self, stage: str) -> dict:
        return self.stages()[stage]["metrics"]


def _stage_entry(table: str, input_fingerprint: str,
                 metrics: dict | None = None, wall_ms: int = 0) -> dict:
    """A done manifest stage entry under a fresh snapshot id."""
    return {"status": "done", "table": table,
            "snapshot": uuid.uuid4().hex[:26],
            "input_fingerprint": input_fingerprint, "wall_ms": wall_ms,
            "metrics": metrics or {}, "updated": _utcnow_iso()}


def _lineage_row(row: dict, stage: str, input_fingerprint: str) -> dict:
    return {"stage": stage, "input_fingerprint": input_fingerprint,
            "status": "done", "updated": _utcnow_iso(), **row}


class ManifestTableIO(_StageAccessors):
    """Snapshot/lineage semantics over plain Parquet (Iceberg fallback).

    `manifest` is the manifest as this handle last read or wrote it;
    every write goes through `atomic_update`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "_manifest.json")
        self.manifest = self._load()

    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"format_version": FORMAT_VERSION,
                    "stages": {}, "lineage": []}
        with open(self.manifest_path) as fh:
            manifest = json.load(fh)
        found = manifest.get("format_version")
        if found != FORMAT_VERSION:
            raise IndexFormatError(
                f"{self.root}: index format {found} is not {FORMAT_VERSION}"
                "; rebuild this index with build_index")
        return manifest

    def atomic_update(self, mutate) -> None:
        """The one manifest write. Under an exclusive lock on
        `_manifest.lock`, re-read `_manifest.json`: if another writer
        replaced it since this handle last read or wrote it, raise
        IndexChanged. Otherwise apply `mutate` to a copy, fsync it to a
        temp file and os.replace it in (the atomic commit point), and
        adopt it as this handle's manifest."""
        import copy
        import fcntl

        with open(os.path.join(self.root, "_manifest.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if self._load() != self.manifest:
                raise IndexChanged(
                    f"{self.root}: another writer committed since this "
                    "handle read the index; reopen it and rerun")
            manifest = copy.deepcopy(self.manifest)
            mutate(manifest)
            text = json.dumps(manifest, indent=1, sort_keys=True)
            tmp = self.manifest_path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(text)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self.manifest_path)
            self.manifest = json.loads(text)

    def table_path(self, name: str) -> str:
        # alias indirection (partial compaction): a logical table name can
        # point at a differently-named data dir, so a multi-table swap is
        # ONE atomic manifest replace instead of non-atomic dir overwrites
        alias = self.manifest.get("aliases", {}).get(name)
        return os.path.join(self.root, alias or name)

    def stages(self) -> dict:
        return self.manifest["stages"]

    def done_partitions(self, stage: str, input_fingerprint: str) -> set[int]:
        return {
            row["partition_id"] for row in self.manifest["lineage"]
            if row["stage"] == stage and row["status"] == "done"
            and row["input_fingerprint"] == input_fingerprint
        }

    def read(self, name: str) -> DataFrame:
        """Read a committed table. If the stage registered per-group data
        dirs (atomic bucket-level commits), ONLY manifest-registered dirs
        are read — data files from a crash between a parquet append and its
        lineage record are invisible, so a resumed re-run can never surface
        duplicate rows."""
        dirs = sorted({r["data_dir"] for r in self.manifest["lineage"]
                       if r.get("stage") == name and r.get("status") == "done"
                       and r.get("data_dir")})
        if not dirs:
            return self.spark.read.parquet(self.table_path(name))
        from functools import reduce

        dfs = [self.spark.read.parquet(os.path.join(self.table_path(name), d))
               for d in dirs]
        return reduce(DataFrame.unionByName, dfs)

    def registered_dirs(self, stage: str) -> set[str]:
        return {r["data_dir"] for r in self.manifest["lineage"]
                if r.get("stage") == stage and r.get("data_dir")}

    def reset_stage(self, stage: str, table: str) -> None:
        """Drop every trace of a stage (lineage rows, stage entry, data) —
        used when its input fingerprint changed and partial output from the
        old input must not survive. The data goes after the commit, so a
        crash in between leaves only unreferenced files."""
        import shutil

        path = self.table_path(table)
        self.replace_stages([stage], {}, {}, input_fingerprint="")
        shutil.rmtree(path, ignore_errors=True)

    def commit_stage(self, stage: str, table: str, df: DataFrame | None,
                     input_fingerprint: str, mode: str = "overwrite",
                     partition_by: list[str] | None = None,
                     lineage_rows: list[dict] | None = None,
                     metrics: dict | None = None) -> str:
        """Write (df=None → data already written, just record) + snapshot."""
        t0 = time.time()
        if df is not None:
            writer = df.write.mode(mode)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self.table_path(table))
        entry = _stage_entry(table, input_fingerprint, metrics,
                             int((time.time() - t0) * 1000))

        def record(man: dict) -> None:
            man["stages"][stage] = entry
            man["lineage"] += [_lineage_row(r, stage, input_fingerprint)
                               for r in lineage_rows or []]

        self.atomic_update(record)
        return entry["snapshot"]

    def replace_stages(self, drop: list[str], commits: dict[str, dict],
                       aliases: dict[str, str],
                       input_fingerprint: str) -> None:
        """ONE manifest commit that drops the stages in `drop` (entries,
        lineage rows, aliases), points each table name in `aliases` at its
        data dir and commits each stage in `commits` (stage → metrics) —
        a multi-table swap (tiered compaction) readers see whole or not."""
        def swap(man: dict) -> None:
            names = man.setdefault("aliases", {})
            for t in drop:
                man["stages"].pop(t, None)
                names.pop(t, None)
            man["lineage"] = [r for r in man["lineage"]
                              if r.get("stage") not in drop]
            names.update(aliases)
            for st, m in commits.items():
                man["stages"][st] = _stage_entry(st, input_fingerprint, m)

        self.atomic_update(swap)

    def record_partitions(self, stage: str, input_fingerprint: str,
                          rows: list[dict]) -> None:
        """Per-partition lineage rows for bucket-level resumable stages.
        The manifest write (os.replace) is the ATOMIC commit point: data
        files referenced by `data_dir` become visible to read() only here.
        `attempt` auto-increments per (stage, partition_id)."""
        def record(man: dict) -> None:
            attempts: dict[int, int] = {}
            for r in man["lineage"]:
                if r.get("stage") == stage:
                    pid = r.get("partition_id", -1)
                    attempts[pid] = max(attempts.get(pid, 0),
                                        r.get("attempt", 1))
            man["lineage"] += [_lineage_row(
                {"attempt": attempts.get(r.get("partition_id", -1), 0) + 1,
                 **r}, stage, input_fingerprint) for r in rows]

        self.atomic_update(record)

    def lineage_df(self) -> DataFrame:
        """Lineage as a DataFrame — exactly schemas.LINEAGE."""
        from elasticsearch_eslib_spark import schemas

        rows = self.manifest["lineage"]
        norm = [(
            r.get("stage", ""),
            int(r.get("partition_id", -1)),
            r.get("input_fingerprint", ""),
            r.get("status", ""),
            int(r.get("bytes", -1)),
            int(r.get("wall_ms", -1)),
            int(r.get("attempt", 1)),
            _parse_iso(r.get("updated", "")),
        ) for r in rows]
        return local_frame(self.spark, norm, schemas.LINEAGE)

    def write_table(self, name: str, df: DataFrame,
                    partition_by: list[str] | None = None) -> None:
        """Overwrite-commit a whole stage table."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.table_path(name))

    def gc_unregistered(self, stage: str, table: str) -> None:
        """Remove data dirs written but never registered (crash between a
        group's parquet write and its lineage record). read() already
        ignores them; this only reclaims disk on resume."""
        import shutil

        table_dir = self.table_path(table)
        keep = self.registered_dirs(stage)
        if os.path.isdir(table_dir):
            for sub in os.listdir(table_dir):
                if sub not in keep:
                    shutil.rmtree(os.path.join(table_dir, sub),
                                  ignore_errors=True)

    def commit_group(self, stage: str, table: str, df: DataFrame,
                     buckets: list[int], input_fingerprint: str,
                     partition_by: list[str] | None = None,
                     crash_before_record: bool = False) -> None:
        """Atomically append one commit group and mark its buckets done.

        The group's rows are written to a fresh uniquely-named directory;
        they become visible to read() only when record_partitions lands the
        lineage rows (atomic manifest replace). A crash in between leaves
        an invisible orphan dir — a resumed run rewrites the buckets under
        a new name, so duplicates are impossible. `crash_before_record`
        injects exactly that crash (resume tests)."""
        t0 = time.time()
        data_dir = f"g-{uuid.uuid4().hex[:10]}"
        writer = df.write.mode("error")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.table_path(table), data_dir))
        if crash_before_record:
            raise _InjectedCrash(
                f"injected crash before lineage record ({stage}, {buckets})")
        gbytes = dir_bytes(os.path.join(self.table_path(table), data_dir))
        wall = int((time.time() - t0) * 1000)
        self.record_partitions(stage, input_fingerprint, [
            {"partition_id": b, "data_dir": data_dir,
             "bytes": gbytes // max(1, len(buckets)), "wall_ms": wall}
            for b in buckets])


class _InjectedCrash(RuntimeError):
    """Raised by crash_before_record failure injection (tests only)."""


class IcebergTableIO(_StageAccessors):
    """TableIO over an Iceberg catalog: root = "catalog.namespace".

    A commit group is ONE atomic Iceberg append whose snapshot summary
    carries `eslib.stage`, `eslib.fp` and `eslib.buckets` — the data and
    its per-partition lineage commit together, so the crash window the
    manifest implementation closes with registered-dirs simply does not
    exist here. Resume reads bucket sets back from the `.snapshots`
    metadata table. Stage-level status lives in a `_stages` Iceberg table
    (latest row per stage wins).

    Construction fails with IcebergUnavailable when the runtime jar or the
    catalog configuration is missing — open_tableio then falls back to
    ManifestTableIO. End-to-end behavior is covered by the shared contract
    tests in tests/test_tableio_iceberg.py (skipped without the jar).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        if root.startswith("iceberg://"):
            root = root[len("iceberg://"):]
        self.root = _check_ident(root, dots=True)
        catalog = root.split(".", 1)[0]
        if not iceberg_available(spark, catalog):
            raise IcebergUnavailable(
                f"no Iceberg runtime jar / catalog '{catalog}' configured")
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.root}")

    # -- identifiers --------------------------------------------------
    # stage/table names are interpolated into SQL (DROP/DELETE below), so
    # every name crossing the TableIO boundary is validated as a plain
    # identifier — user-supplied names can never smuggle quotes/semicolons
    def table_path(self, name: str) -> str:
        return f"{self.root}.{_check_ident(name)}"

    @staticmethod
    def _encode_buckets(buckets: list[int]) -> str:
        return ",".join(str(b) for b in sorted(buckets))

    @staticmethod
    def _decode_buckets(s: str) -> set[int]:
        return {int(b) for b in s.split(",") if b != ""}

    def _exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self.table_path(name))

    # -- reads --------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        return self.spark.table(self.table_path(name))

    def stages(self) -> dict:
        """The newest `_stages` row per stage, as a manifest stage entry."""
        if not self._exists("_stages"):
            return {}
        out: dict = {}
        for r in (self.read("_stages")
                  .orderBy(F.col("updated").desc()).collect()):
            out.setdefault(r["stage"], {
                "status": r["status"], "table": r["table"],
                "snapshot": r["snapshot"],
                "input_fingerprint": r["input_fingerprint"],
                "metrics": json.loads(r["metrics"]),
                "updated": r["updated"]})
        return out

    @staticmethod
    def buckets_from_summaries(summaries: list[dict], stage: str,
                               input_fingerprint: str) -> set[int]:
        """Pure decode: committed bucket ids from a list of Iceberg snapshot
        summary maps. Split out so the resume contract is testable without
        the runtime jar (tests feed recorded `.snapshots` summary rows)."""
        done: set[int] = set()
        for s in summaries:
            s = s or {}
            if (s.get("eslib.stage") == stage
                    and s.get("eslib.fp") == input_fingerprint):
                done |= IcebergTableIO._decode_buckets(
                    s.get("eslib.buckets", ""))
        return done

    def done_partitions(self, stage: str, input_fingerprint: str) -> set[int]:
        """Bucket ids from the snapshot summaries of the stage's table —
        the atomic source of truth for what committed."""
        table = self._stage_table(stage)
        if not self._exists(table):
            return set()
        snaps = self.spark.sql(
            f"SELECT summary FROM {self.table_path(table)}.snapshots"
        ).collect()
        return self.buckets_from_summaries(
            [r["summary"] for r in snaps], stage, input_fingerprint)

    @staticmethod
    def _stage_table(stage: str) -> str:
        # stage name == table name across the build plan
        return stage

    # -- writes -------------------------------------------------------
    def write_table(self, name: str, df: DataFrame,
                    partition_by: list[str] | None = None) -> None:
        w = df.writeTo(self.table_path(name)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def commit_group(self, stage: str, table: str, df: DataFrame,
                     buckets: list[int], input_fingerprint: str,
                     partition_by: list[str] | None = None,
                     crash_before_record: bool = False) -> None:
        ident = self.table_path(table)
        if not self._exists(table):
            empty = df.limit(0)
            w = empty.writeTo(ident).using("iceberg")
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        (df.writeTo(ident)
         .option("snapshot-property.eslib.stage", stage)
         .option("snapshot-property.eslib.fp", input_fingerprint)
         .option("snapshot-property.eslib.buckets",
                 self._encode_buckets(buckets))
         .append())
        # crash_before_record is meaningless here: the append above IS the
        # lineage record (same snapshot) — inject after it for test parity
        if crash_before_record:
            raise _InjectedCrash(
                f"injected crash (post-atomic-commit) ({stage}, {buckets})")

    def commit_stage(self, stage: str, table: str, df: DataFrame | None,
                     input_fingerprint: str, mode: str = "overwrite",
                     partition_by: list[str] | None = None,
                     lineage_rows: list[dict] | None = None,
                     metrics: dict | None = None) -> str:
        if df is not None:
            self.write_table(table, df, partition_by)
        snapshot = self._last_snapshot_id(table) or uuid.uuid4().hex[:26]
        row = [(stage, "done", table, str(snapshot), input_fingerprint,
                json.dumps(metrics or {}), _utcnow_iso())]
        sdf = local_frame(
            self.spark, row,
            "stage string, status string, table string, snapshot string,"
            " input_fingerprint string, metrics string, updated string")
        ident = self.table_path("_stages")
        if self._exists("_stages"):
            sdf.writeTo(ident).append()
        else:
            sdf.writeTo(ident).using("iceberg").create()
        return str(snapshot)

    def _last_snapshot_id(self, table: str) -> str | None:
        if not self._exists(table):
            return None
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table_path(table)}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()
        return str(rows[0]["snapshot_id"]) if rows else None

    def reset_stage(self, stage: str, table: str) -> None:
        _check_ident(stage)
        self.spark.sql(
            f"DROP TABLE IF EXISTS {self.table_path(table)}")
        if self._exists("_stages"):
            self.spark.sql(
                f"DELETE FROM {self.table_path('_stages')} "
                f"WHERE stage = '{stage}'")

    def gc_unregistered(self, stage: str, table: str) -> None:
        pass  # no crash window: uncommitted Iceberg data files are orphans
        # cleaned by standard Iceberg maintenance (remove_orphan_files)

    def record_partitions(self, stage: str, input_fingerprint: str,
                          rows: list[dict]) -> None:
        raise NotImplementedError(
            "Iceberg lineage commits atomically inside commit_group; "
            "there is no separate record step")

    @staticmethod
    def lineage_from_snapshots(stage: str,
                               snaps: list[tuple]) -> list[tuple]:
        """Pure decode: schemas.LINEAGE tuples from (committed_at, summary)
        snapshot rows — jar-free-testable twin of lineage_df's inner loop."""
        out = []
        for committed_at, summ in snaps:
            summ = summ or {}
            if summ.get("eslib.stage") != stage:
                continue
            for b in IcebergTableIO._decode_buckets(
                    summ.get("eslib.buckets", "")):
                out.append((stage, int(b), summ.get("eslib.fp", ""),
                            "done",
                            int(summ.get("added-files-size", -1)),
                            -1, 1, committed_at))
        return out

    def lineage_df(self) -> DataFrame:
        """Per-partition lineage reconstructed from snapshot summaries."""
        from elasticsearch_eslib_spark import schemas

        out = []
        for stage, meta in self.stages().items():
            table = meta["table"]
            if not self._exists(table):
                continue
            snaps = self.spark.sql(
                f"SELECT committed_at, summary FROM "
                f"{self.table_path(table)}.snapshots").collect()
            out.extend(self.lineage_from_snapshots(
                stage, [(s["committed_at"], s["summary"]) for s in snaps]))
        return local_frame(self.spark, out, schemas.LINEAGE)


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff the Iceberg Spark runtime class loads AND `catalog` is a
    configured spark.sql.catalog entry."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    try:
        return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
    except Exception:
        return False


class IcebergUnavailable(RuntimeError):
    pass


def open_tableio(spark: SparkSession, root: str):
    """Route on the root: "iceberg://catalog.namespace" → IcebergTableIO
    (raising if the runtime/catalog is missing — an explicit Iceberg
    request must not silently degrade); a filesystem path → ManifestTableIO
    (SURVEY.md §7.4)."""
    if root.startswith("iceberg://"):
        return IcebergTableIO(spark, root)
    return ManifestTableIO(spark, root)
