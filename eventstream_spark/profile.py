"""One query, one run record: the timing protocol every harness shares.

:func:`run_query` frees tracked intermediates (``cache.release_cached``,
before and after the run), builds the query, drains it, and returns one
record:

- ``build_s``, ``exec_s``: wall seconds of the Python plan build and of the
  drain; ``wall_s`` is their sum, the number a harness times
- ``build_jobs``, ``exec_jobs``: Spark jobs launched in each phase. A
  builder's driver probes land in ``build_jobs``, and so does a streaming
  query's whole availableNow drain, which runs before its builder returns
- ``result_rows``
- ``spill_bytes``, ``shuffle_write_bytes``, ``peak_memory_bytes``: summed
  over the stages of every job the run started, so over every SQL
  execution it ran, micro-batches included

Jobs are counted from the scheduler's job counter, not from a job group:
job groups are thread-local, and a streaming query runs its micro-batches
on its own thread, so a group count reads 0 jobs for a query whose drain
ran dozens. The counter sees every thread, which makes it exact only in a
harness that runs one query at a time.

The first run of a query in a process is preceded by an untimed plan-warm
run at sf0.001 (the sibling of ``sf_dir``, when it exists): Janino compiles
a plan's generated classes once per process and caches them by source, not
by input path, so the warm run keeps compile time out of every timed run.
"""

from __future__ import annotations

import os
import time
from typing import Callable

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession

from .cache import release_cached

# Queries already plan-warmed: module state because what it mirrors, the
# JVM's generated-class cache, is process-wide too.
_WARMED: set = set()


def _drain(df: DataFrame, drain: str) -> int:
    if drain == "pandas":
        # The Arrow transfer path every result consumer (the oracle
        # comparison included) uses; row-at-a-time collect() pays a 5-10x
        # pickle tax on row-heavy results.
        return len(df.toPandas())
    if drain == "noop":
        # Computes the query without moving rows to the driver, for
        # results too large to collect (the 100x smoke).
        rows = Observation()
        counted = df.observe(rows, F.count(F.lit(1)).alias("n"))
        counted.write.format("noop").mode("overwrite").save()
        return rows.get["n"]
    raise ValueError(f"drain must be 'pandas' or 'noop', got {drain!r}")


def _stage_bytes(jsc, first_job: int, end_job: int) -> dict[str, int]:
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    for job in range(first_job, end_job):
        ids = store.job(job).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = {"spill_bytes": 0, "shuffle_write_bytes": 0, "peak_memory_bytes": 0}
    for sid in stage_ids:
        try:
            stage = store.lastStageAttempt(sid)
        except Py4JJavaError:
            # Past spark.ui.retainedStages the store evicts skipped stages
            # first (they sort first by completion time); they ran no tasks.
            continue
        out["spill_bytes"] += stage.diskBytesSpilled()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        out["peak_memory_bytes"] += stage.peakExecutionMemory()
    return out


def run_query(
    spark: SparkSession,
    query: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    drain: str = "pandas",
) -> dict:
    """Run ``query(spark, sf_dir)`` once, drained through ``toPandas()``
    (``drain="pandas"``) or the noop sink (``"noop"``); see the module
    docstring for the record."""
    sf_dir = sf_dir.rstrip("/")
    warm_dir = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    if query not in _WARMED and os.path.isdir(warm_dir) and warm_dir != sf_dir:
        _WARMED.add(query)
        _drain(query(spark, warm_dir), drain)
    jsc = spark.sparkContext._jsc.sc()
    release_cached()
    try:
        j0 = jsc.dagScheduler().numTotalJobs()
        t0 = time.perf_counter()
        df = query(spark, sf_dir)
        t1 = time.perf_counter()
        j1 = jsc.dagScheduler().numTotalJobs()
        rows = _drain(df, drain)
        t2 = time.perf_counter()
        j2 = jsc.dagScheduler().numTotalJobs()
        return {
            "wall_s": t2 - t0,
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "build_jobs": j1 - j0,
            "exec_jobs": j2 - j1,
            "result_rows": rows,
            **_stage_bytes(jsc, j0, j2),
        }
    finally:
        release_cached()
