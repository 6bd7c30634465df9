"""SparkSession factory.

Defaults are chosen for correctness-portability with the duckdb oracle
(UTC session timezone, ANSI off) and for scale (AQE on, skew-join handling
on, Arrow transfers for the Pandas-UDF paths).

On a real cluster the same factory applies; only ``master`` and the
memory/shuffle sizing change. Everything downstream is expressed through
the DataFrame API so Catalyst/AQE own the physical planning.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Shuffle partitions for a master whose task slots are not known here (a
# cluster; spark-submit or extra_conf sizes them per workload).
DEFAULT_SHUFFLE_PARTITIONS = 32


def local_sizing(usable_cpus: int, host_mem_bytes: int) -> tuple[int, str]:
    """Default ``local[N]`` thread count and driver heap for a host.

    Local mode runs every task inside the driver JVM, so N is the CPUs the
    process may use, and the heap is half of host memory, capped at 16g
    (see the heap note in :func:`get_spark`) and floored at 1g. A host with
    32 GB or more keeps the 16g heap."""
    heap_mb = max(1024, min(16 * 1024, host_mem_bytes // 2 // 2**20))
    return max(1, usable_cpus), f"{heap_mb}m"


def shuffle_partitions_for(master: str) -> int:
    """Default shuffle partitions: one per task slot.

    ``local[N]`` (or ``local[N,F]``) runs N tasks at a time, so a shuffle
    into N partitions runs in one wave. Any other master keeps
    ``DEFAULT_SHUFFLE_PARTITIONS``."""
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
    return int(m.group(1)) if m else DEFAULT_SHUFFLE_PARTITIONS


def session_sizing(spark: SparkSession) -> dict[str, int]:
    """The task slots and shuffle partitions a live session runs at, for
    measurement records taken on hosts of different sizes."""
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def get_spark(
    app_name: str = "eventstream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` and a heap of
    ``$SPARK_GRAFT_DRIVER_MEM``; each unset one defaults from the host
    (:func:`local_sizing`). On a cluster spark-submit owns both.
    ``shuffle_partitions`` defaults to one per task slot
    (:func:`shuffle_partitions_for`).
    """
    cpus, heap = local_sizing(
        len(os.sched_getaffinity(0)),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
    )
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', cpus)}]"
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_partitions_for(master)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / oracle portability: fixtures are tz-naive, both
        # engines must interpret them identically (FIXTURES.md).
        .config("spark.sql.session.timeZone", "UTC")
        # The events fixture stores naive TIMESTAMP(MICROS) (read as
        # timestamp_ntz and normalized by catalog.fix_nanos_ts); nanosAsLong
        # is kept only so legacy TIMESTAMP(NANOS) fixtures still read as
        # int64 instead of failing (Spark 4 rejects nanos outright).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scale: adaptive execution re-plans joins, coalesces small shuffle
        # partitions, and splits skewed ones at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle-partition sizing: one partition per task slot, so every
        # shuffle stage runs in one wave (Drizzle's per-task fixed cost;
        # SCALING.md "Shuffle budget"). Measured on 4 cores, 32 -> 4
        # partitions: perfbench corpus pass 4.99 -> 2.95 s. At the 100x
        # smoke on 32 cores, q158 (the one spilling query) with
        # initialPartitionNum=256 against 32 halved the agg spill
        # (19.3 -> 10.7 GB) but doubled shuffle bytes and wall clock
        # (43 -> 105 s). Stages whose work grows with the data size their
        # own exchanges (dedup._sfx_partitions and kin). extra_conf
        # overrides both keys; on a real cluster they are sized per
        # workload.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        # Arrow batches for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local-mode niceties; harmless on a cluster.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # The generated-class cache defaults to 100 entries; a 40-query
        # suite compiles several codegen units per plan and thrashes it,
        # paying janino compile again on every re-run. Size it to hold the
        # whole workload (Spark 4 made this configurable).
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Local mode runs executor tasks inside the driver JVM, so this heap
        # backs all $SPARK_GRAFT_CPUS concurrent tasks' shuffle/agg working
        # sets. 8g with 32 threads produced multi-second full-GC stalls
        # mid-suite (one query spiked 0.9s -> 14.5s); 16g keeps GC off the
        # critical path while staying under the 32g compressed-oops limit
        # (a 32g heap disables compressed oops and measurably slowed the
        # suite), so 16g caps the host-sized default. On a real cluster
        # spark-submit overrides this.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
    )
    if master.startswith("local"):
        # Python workers import this package when they unpickle a UDF or
        # create a Python data source (rediswire); they start in the JVM's
        # working directory, so without this a run from any directory but
        # the repository root fails with ModuleNotFoundError on the worker.
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        inherited = os.environ.get("PYTHONPATH")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join([here, inherited] if inherited else [here]),
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
