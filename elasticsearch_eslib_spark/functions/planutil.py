"""Plan-shaping utilities: driver rows as local relations, optimizer
barriers, and the scan-parallelism probe.

`local_frame` is the one way driver-side rows become a DataFrame. It
builds a pyarrow Table and hands it to Spark, which plans it as a
`LocalTableScan`: the rows live in the plan, and reading them runs no
Python worker. `createDataFrame(<list of tuples>)` instead backs the frame
with a parallelized Python RDD (`Scan ExistingRDD`, one Python task per
slice on every job that reads it), and a pandas frame takes that same
path whenever it is empty.

Optimizer barrier. Catalyst folds a deterministic filter over a two-
sided computed column into the JOIN CONDITION
(PushPredicateThroughJoin): the expensive expression (a 64-dim cosine,
an array_intersect jaccard) is then evaluated per CANDIDATE pair inside
the join — outside the stage's generated code — and evaluated AGAIN in
the projection for every surviving pair. Measured on the near-dup pair
join at sf1.0: the pair stage alone ran 28.0 s with the fold vs 6.6 s
with the filter held above a codegen'd projection.

`filter_once` pins the filter ABOVE the projection that computes its
inputs, so the expensive column is evaluated exactly once, inside
whole-stage codegen. Mechanics — both halves are needed:

  * a `monotonically_increasing_id()` column makes the projection
    non-deterministic, which stops PushPredicateThroughNonJoin from
    substituting the predicate through it (and so from ever reaching the
    join). A dropped dummy column alone does NOT survive: ColumnPruning
    removes it before pushdown and the barrier evaporates (measured).
  * the predicate is AND-ed with the tautology `mid >= 0` so the dummy
    column is REFERENCED (pruning keeps it) and the conjunction contains
    a non-deterministic leaf (never pushed into a join). mid is a
    non-negative long by construction, so the row set is exactly
    `df.where(pred)`.

MonotonicallyIncreasingID has codegen support, so the filter itself stays
inside the generated stage (unlike e.g. a `shuffle()`-based identity
wrapper, which is CodegenFallback and drags the whole predicate onto the
interpreted path — also measured, 13 s vs 7 s on the same stage).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

_BARRIER_COL = "__nd_barrier"

_BYTE_UNITS = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
               "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
               "t": 1 << 40, "tb": 1 << 40}


def conf_bytes(spark, key: str) -> int:
    """A size conf as bytes: Spark answers byte configs in its own
    byte-string syntax (e.g. openCostInBytes → '4194304b', or '4m'
    when set that way), so a bare int() parse fails."""
    v = str(spark.conf.get(key)).strip().lower()
    for suf in sorted(_BYTE_UNITS, key=len, reverse=True):
        if v.endswith(suf) and v[: -len(suf)].strip().isdigit():
            return int(v[: -len(suf)].strip()) * _BYTE_UNITS[suf]
    return int(v)


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: T.StructType | str) -> DataFrame:
    """`rows` (tuples in `schema` column order) as a DataFrame that plans as
    a `LocalTableScan`, empty or not. `schema` is a StructType or a DDL
    string; timestamps are `timestamp("us", tz="UTC")`, and a naive
    datetime is local wall time, as `createDataFrame` reads it.

    Datetimes are converted to UTC here because pyarrow stores an aware
    datetime's wall time, dropping its UTC offset."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    arrays = []
    for col, field in zip(list(zip(*rows)) or [()] * len(arrow), arrow):
        if pa.types.is_timestamp(field.type):
            col = [None if v is None else v.astimezone(dt.timezone.utc)
                   for v in col]
        arrays.append(pa.array(col, type=field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow),
                                 schema)


def spread(df: DataFrame, by: str = "doc_id") -> DataFrame:
    """Repartition up ONLY when the input SCAN is under-parallel (a small
    local file → 1-2 tasks would serialize the CPU-heavy map work that
    follows; the sandbox testdata files are single-row-group parquet, so
    finer file splits cannot help — only a repartition can). On a real
    many-file corpus the scan already has enough partitions and this is a
    no-op — no unconditional shuffle at scale.

    Call this on RAW SCANS only: `.rdd.getNumPartitions()` on a joined /
    aggregated plan triggers eager AQE stage execution (measured: it
    silently doubled the whole candidate pipeline's cost).

    The under-parallel check is ARITHMETIC (input bytes / split size from
    the scan's files), not `.rdd.getNumPartitions()`: converting a fresh
    DataFrame to an RDD builds the physical plan through py4j and costs
    ~0.1-0.2 s PER CALL at the driver — ~1 s across the query suite for a
    3 ms piece of information (inputFiles + getsize). Non-local files
    (no file: scheme) fall back to the exact RDD probe."""
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        import os

        mpb = conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
        # each file is charged openCostInBytes when Spark packs files
        # into splits — without the padding the estimate undercounts the
        # actual partition count on many-small-file corpora (e.g. 40 ×
        # 4 MB files at mpb=8 MB: actual 40, unpadded estimate 20) and
        # would trigger a corpus-wide repartition the old probe skipped
        ocb = conf_bytes(spark, "spark.sql.files.openCostInBytes")
        total = 0
        for f in df.inputFiles():
            if not f.startswith("file:"):
                raise ValueError(f)
            path = f[len("file:"):]
            while path.startswith("//"):  # file:///x and file:/x both → /x
                path = path[1:]
            total += os.path.getsize(path) + ocb
        n_scan = max(1, -(-total // mpb))
    except Exception:
        n_scan = df.rdd.getNumPartitions()
    if n_scan < n_part:
        return df.repartition(n_part, by)
    return df


def filter_once(df: DataFrame, pred: Column) -> DataFrame:
    """`df.where(pred)` with `pred` evaluated ABOVE the plan below it —
    never folded into a join condition or pushed past the projections that
    compute the columns it references. Row set is identical to
    `df.where(pred)`."""
    return (df.withColumn(_BARRIER_COL, F.monotonically_increasing_id())
            .where(pred & (F.col(_BARRIER_COL) >= 0))
            .drop(_BARRIER_COL))
