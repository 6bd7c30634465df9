"""Table registry over the parquet lakehouse layout.

The driver materializes ten tables per scale factor at
``/root/testdata/sf*/{name}.parquet`` (TESTDATA.md / FIXTURES.md). This module
is the single place that knows the layout; every operator takes a loaded
DataFrame or an ``sf_dir`` and goes through here.

Scale note: each table is one parquet file locally, but ``spark.read.parquet``
accepts directories the same way, so at 100 TB the path is a partitioned
directory tree and partition pruning + predicate pushdown apply unchanged.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# The events fixture stores ts as naive parquet TIMESTAMP(MICROS), which
# Spark 4 reads as timestamp_ntz; fix_nanos_ts normalizes it to session-UTC
# TimestampType. Streaming sources need this declared (no inference on
# readStream).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Plain parquet scan — column pruning and predicate
    pushdown are left to Catalyst (verify via .explain: PushedFilters).

    The ``events`` fixture stores ``ts`` as naive parquet TIMESTAMP(MICROS),
    which Spark 4 reads as timestamp_ntz; ``fix_nanos_ts`` casts it to
    session-UTC TimestampType so both engines (duckdb's TIMESTAMP is naive
    µs) see identical wall-clock values. ``nanosAsLong`` stays set only so
    legacy TIMESTAMP(NANOS) fixtures still read (as int64, floor-converted
    by the same helper).
    """
    # Determinism contract (FIXTURES.md): tz-naive fixture timestamps must be
    # interpreted identically in both engines, so pin the session to UTC even
    # when the caller's session (e.g. the driver's) didn't. Conf writes and
    # the footer-reading spark.read are memoized per session — a plain read
    # costs ~0.1 s of driver time, and suites load the same tables hundreds
    # of times. DataFrames are immutable plans, so sharing one is safe; the
    # fixture directories are read-only, so the plan never goes stale.
    cache = getattr(spark, "_eventstream_table_cache", None)
    if cache is None:
        cache = {}
        spark._eventstream_table_cache = cache
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            df = fix_nanos_ts(df)
        cache[key] = df
    return df


def fix_nanos_ts(df: DataFrame, col_name: str = "ts") -> DataFrame:
    """Normalize the events fixture's ts to microsecond TimestampType,
    whatever physical form the file used: int64 nanos (via nanosAsLong) or
    naive TIMESTAMP(MICROS) (Spark 4 reads it as timestamp_ntz). The NTZ →
    LTZ cast is exact under the pinned UTC session timezone, so both engines
    (duckdb's TIMESTAMP is naive µs) see identical wall-clock values. Shared
    by batch and streaming readers."""
    if col_name not in df.columns:
        return df
    dt = df.schema[col_name].dataType
    if isinstance(dt, LongType):
        df = df.withColumn(col_name, F.timestamp_micros(F.expr(f"{col_name} div 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def spread(df: DataFrame, per_core_bytes: int | None = None) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before CPU-dense
    per-row work (regex tokenization, shingle hashing, vector folds,
    Pandas-UDF stages).

    A single parquet file with one row group plans as ONE input split no
    matter what ``maxPartitionBytes`` says — so every downstream map runs on
    one core (measured 3 s single-threaded vs 0.4 s spread for the sf0.1
    shingle build on local[32]). The round-robin shuffle this inserts moves
    only the raw rows (a few MB here) and unlocks every core. At cluster
    scale the scan already has >= parallelism splits and this is a no-op —
    the guard reads the actual planned partition count.

    Deliberately NOT applied to float-sum aggregations (e.g. the q54 k-means
    means): repartitioning reorders partial-aggregation folds, which can
    flip a ROUND boundary against the fixed-order duckdb oracle. Integer
    aggregates, per-row scores, min/max, and rank orderings are unaffected.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Guard on the leaf-file count, not df.rdd.getNumPartitions(): the RDD
    # conversion forces a full physical planning pass (~0.2 s of driver time
    # per call), while inputFiles() reads the already-cached file index. One
    # file per core is the break-even point past which the source's own
    # splits provide the parallelism.
    try:
        files = df.inputFiles()
        n_files = len(files)
    except Exception:  # non-file source (memory, stream): leave it alone
        return df
    if n_files >= target:
        return df
    if per_core_bytes:
        # Bytes-aware fan-out for per-row work that is CHEAP per byte
        # (vectorized numpy/GEMM inside mapInPandas): below ~per_core_bytes
        # of input per core, the round-robin exchange + N-task schedule
        # costs more than the compute it parallelizes (measured at sf0.1:
        # the 780 KB embedding Gram pass is 0.086 s on the raw scan vs
        # 0.63 s spread to 32). Fan out in proportion to input bytes,
        # capped at the session parallelism — at cluster scale the
        # file-count guard above makes the whole function a no-op, and at
        # smoke scale (≥ cores·per_core_bytes of input) this is exactly
        # the old full fan-out, so the knob only trims the tiny-input end.
        # CPU-dense-per-byte work (regex tokenization, shingle hashing,
        # interpreted HOF lambda chains) must NOT pass it: 584 KB of sf0.1
        # documents is 3 s of single-core shingle hashing.
        try:
            total = sum(
                os.path.getsize(f[len("file:") :] if f.startswith("file:") else f)
                for f in files
            )
        except OSError:  # non-local path: keep the conservative fan-out
            return df.repartition(target)
        want = max(1, min(target, -(-total // per_core_bytes)))
        if want <= n_files:
            return df
        return df.repartition(want)
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works as an
    entry point alongside the DataFrame builders."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
