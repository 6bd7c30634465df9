"""Streaming executions exposed through the driver contract.

Most streaming semantics are verified by the streaming≡batch pytest suite
(tests/test_streaming.py); these queries additionally run REAL Structured
Streaming pipelines (file source → stateful op → availableNow → memory
sink) under the external driver's oracle gate: with ``complete`` output
mode over a fully drained source, the streaming result equals the batch
computation, so the duckdb oracle of the batch twin applies verbatim.

Reference parity: this is the A1→A5→A7 spine (poll loop → route filter →
emit) executed by the micro-batch engine instead of the reference's
asyncio loop (event_stream/streams/reader.py:151-233).

Scale notes: the file source is the lakehouse landing-zone pattern;
``maxFilesPerTrigger`` bounds catch-up batches. Complete mode is used here
because the source drains (results must equal batch for the gate); a
production continuous pipeline uses append mode + watermark as in
streaming/windows.py, trading the final (unclosed) windows for bounded
state.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col, lit

from ..cache import register_memo_clearer
from ..catalog import EVENTS_RAW_SCHEMA, fix_nanos_ts
from ..sources.stream import file_stream


def _link_table(sf_dir: str, table: str, prefix: str) -> str:
    """Stage ``sf_dir/<table>.parquet`` into a landing directory the file
    source can tail (read-only fixture untouched). A single-file fixture
    symlinks as one file; a Spark-WRITTEN dataset (a directory of part
    files, e.g. the 100x scale replicas) symlinks each part file FLAT into
    the landing dir — which is also what a real landing zone looks like,
    and what gives maxFilesPerTrigger real batches to bound."""
    # abspath: the symlink lives in /tmp, so a RELATIVE sf_dir would
    # create links whose targets resolve against /tmp — every one broken,
    # and the file source silently reads zero files (11 streaming queries
    # "passed" with spark=0 until a relative-path invocation surfaced it).
    sf_dir = os.path.abspath(sf_dir)
    src = os.path.join(sf_dir, f"{table}.parquet")
    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    os.makedirs(d, exist_ok=True)
    # prune symlinks whose target was rewritten/removed (a rebuilt scale
    # dataset leaves stale part-file names behind otherwise)
    for f in os.listdir(d):
        p = os.path.join(d, f)
        if os.path.islink(p) and not os.path.exists(p):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass  # a concurrent session pruned it first
    if os.path.isdir(src):
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                _symlink_idempotent(os.path.join(src, f), os.path.join(d, f"{table}-{f}"))
    else:
        _symlink_idempotent(src, os.path.join(d, f"{table}.parquet"))
    return d


def _symlink_idempotent(src: str, link: str) -> None:
    # Two concurrent sessions share one landing dir per sf_dir; both can
    # pass an exists() check before either links (TOCTOU). Either winner
    # produces the identical link, so losing the race is success.
    try:
        os.symlink(src, link)
    except FileExistsError:
        pass


def _max_files() -> int | None:
    """Optional micro-batch size bound for the file-stream queries
    (``SPARK_GRAFT_STREAM_MAX_FILES``): unset → drain in as few batches as
    the source plans (the oracle-gate default); set → each micro-batch
    reads at most N files, the catch-up knob a backlogged landing zone
    needs (used by scripts/scale_smoke.py's streaming rows so the 100x
    drain runs as a sequence of bounded batches, not one giant one).

    Spark rejects maxFilesPerTrigger < 1 at stream start, so '0' or a
    non-integer here would fail every stream query at plan time for a
    config typo — treat both as unset (with a warning) instead."""
    v = os.environ.get("SPARK_GRAFT_STREAM_MAX_FILES")
    if not v:
        return None
    try:
        n = int(v)
    except ValueError:
        n = 0
    if n < 1:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_STREAM_MAX_FILES={v!r} is not an integer >= 1; "
            "ignoring (micro-batch size unbounded)"
        )
        return None
    return n


def _events_stream_dir(sf_dir: str) -> str:
    return _link_table(sf_dir, "events", "es_stream")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same determinism pinning catalog.load applies: the driver's session is
    # vanilla, and this path never goes through the batch catalog.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return fix_nanos_ts(
        file_stream(
            spark,
            _events_stream_dir(sf_dir),
            EVENTS_RAW_SCHEMA,
            max_files_per_trigger=_max_files(),
        )
    )


#: Progress of the most recent _run_to_table drain: n_batches, input rows,
#: the peak stateful-operator row count and the state-store count — the
#: numbers a capacity plan needs (scripts/scale_smoke.py records them at
#: 100x).
LAST_RUN_INFO: dict = {}

#: (session, memory-sink view, checkpoint dir) of every drain not yet
#: released. The returned DataFrame is lazy, so the drain cannot clean up
#: after itself; cache.release_cached (the harness's one lifecycle call,
#: made after the result is materialized) drops them.
_DRAINED: list[tuple[SparkSession, str, str]] = []


def _release_drained() -> None:
    while _DRAINED:
        spark, name, ckpt = _DRAINED.pop()
        try:
            spark.catalog.dropTempView(name)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)


register_memo_clearer(_release_drained)


def _run_to_table(agg: DataFrame, spark: SparkSession, mode: str = "complete") -> DataFrame:
    """Drain the stream with availableNow into a uniquely named in-memory
    table and return it as a batch DataFrame. The table and the checkpoint
    dir live until the next ``cache.release_cached()``.

    A stateful operator runs one state store per shuffle partition, and
    every store pays a commit per micro-batch; with more stores than task
    slots the state tasks run in waves. So the query starts with
    ``spark.sql.shuffle.partitions`` capped at the default parallelism,
    one store per slot (the session value stays the ceiling). The stream
    copies the session conf when ``start()`` builds it and the checkpoint
    then freezes the count, so the session value is restored right after."""
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="es_ckpt_")
    _DRAINED.append((spark, name, ckpt))
    # recentProgress is capped at numRecentProgressUpdates entries (default
    # 100); a many-file landing zone with a small maxFilesPerTrigger drains
    # in more micro-batches than that and LAST_RUN_INFO would silently
    # undercount. Raise the cap well past any drain this harness runs.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    session_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(int(session_sp), spark.sparkContext.defaultParallelism)),
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_sp)
    q.awaitTermination(600)
    if q.isActive:
        # availableNow should have terminated; on a pathologically slow
        # host a partial in-memory table must not masquerade as the full
        # drain inside oracle gates / SCALE_SMOKE timings.
        q.stop()
        raise TimeoutError("availableNow drain did not finish within 600s")
    progs = q.recentProgress or []
    LAST_RUN_INFO.clear()
    batch_ms = [
        int((p.durationMs or {}).get("triggerExecution", 0)) for p in progs
    ]
    input_rows = sum(int(p.numInputRows or 0) for p in progs)
    drain_sec = sum(batch_ms) / 1000.0
    LAST_RUN_INFO.update(
        {
            "n_batches": len(progs),
            "input_rows": input_rows,
            "state_rows_peak": max(
                (
                    sum(int(so.numRowsTotal or 0) for so in (p.stateOperators or []))
                    for p in progs
                ),
                default=0,
            ),
            # State stores per stateful operator (0 for a stateless drain).
            "state_partitions": max(
                (
                    int(so.numShufflePartitions or 0)
                    for p in progs
                    for so in (p.stateOperators or [])
                ),
                default=0,
            ),
            # Throughput, not just state bounds (round-9 VERDICT #5): the
            # numbers that size a landing zone — how fast the drain
            # actually moved rows and how long each micro-batch held the
            # trigger. A one-core drain (the q231 round-9 lesson) shows up
            # here as rows_per_sec collapsing while state stays tiny.
            "drain_sec": round(drain_sec, 3),
            "rows_per_sec": (
                int(input_rows / drain_sec) if drain_sec > 0 else 0
            ),
            "batch_ms_avg": (
                round(sum(batch_ms) / len(batch_ms), 1) if batch_ms else 0.0
            ),
            "batch_ms_max": max(batch_ms, default=0),
        }
    )
    return spark.table(name)


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file stream (same symlink-landing-zone trick
    as the events stream)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    d = _link_table(sf_dir, "documents", "es_docstream")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return file_stream(spark, d, schema, max_files_per_trigger=_max_files())


def q128_stream_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning front door as a REAL streaming pipeline:
    documents land as files, each micro-batch scores quality (q31's exact
    expression) and flags blocklist tokens map-side, and only clean docs
    reach the per-source rollup. This is how a training-data pipeline
    ingests a crawl at 100 TB — filter-at-ingest so the lake only stores
    survivors; all per-doc work is stateless (no watermark needed), the
    only stateful op is the final aggregation. Complete mode over the
    drained source equals the batch computation, so the duckdb oracle of
    the batch twin applies verbatim."""
    from .text import _BLOCKLIST, quality_score
    from ..functions import tokens

    docs = _documents_stream(spark, sf_dir)
    nb = F.size(F.filter(tokens("text"), lambda t: t.isin(*_BLOCKLIST)))
    scored = docs.select(
        "source", "n_chars", quality_score().alias("q"), nb.alias("nb")
    )
    kept = scored.where((col("q") >= 0.5) & (col("nb") == 0))
    agg = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
    )
    out = _run_to_table(agg, spark)
    return out.orderBy("source")


def q135_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q120's split as a STREAM-STATIC join — the incremental-dedup shape a
    live ingest actually runs: the delta (doc_id % 10 == 9, same split as
    q120) arrives as a stream, the standing corpus is a static DataFrame,
    and each micro-batch left-anti joins its fingerprints against the
    corpus — novel docs pass, exact re-ingests drop. Stream-static joins
    are stateless on the stream side (the static side is re-planned per
    batch and AQE-sized — broadcast here, shuffle at 100 TB with the
    corpus bucketed on the fingerprint), so no watermark is needed; the
    only stateful op is the final per-source rollup."""
    from ..catalog import load

    docs_static = load(spark, sf_dir, "documents")
    corpus = docs_static.where(~(col("doc_id") % 10 == 9)).select(
        F.md5("text").alias("fp")
    ).distinct()
    stream = _documents_stream(spark, sf_dir).where(col("doc_id") % 10 == 9)
    delta = stream.select("source", "n_chars", F.md5("text").alias("fp"))
    novel = delta.join(corpus, "fp", "left_anti")
    agg = novel.groupBy("source").agg(
        F.count("*").alias("n_novel"),
        F.sum("n_chars").alias("novel_chars"),
    )
    out = _run_to_table(agg, spark)
    return out.orderBy("source")


def q132_stream_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index ingest as a streaming pipeline: embeddings land as
    files, each micro-batch computes the hyperplane-LSH bucket signature
    MAP-SIDE (plane literals — the same stateless expression q52's batch
    index build uses), and the running per-bucket occupancy histogram is
    the only stateful op. This is how an ANN index absorbs a 100 TB
    corpus: bucketing is embarrassingly parallel at ingest, so index
    build cost rides the write path instead of a later global job.
    Complete mode over the drained source ≡ the batch computation."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions import as_double_array, dot, matrix_literal
    from .similarity import _N_PLANES, embedding_dim, plane_weights

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    d = _link_table(sf_dir, "embeddings", "es_vecstream")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    emb = file_stream(spark, d, schema, max_files_per_trigger=_max_files())

    # Dim derives from a one-row BATCH read of the same landing dir at
    # plan-build (a stream can't be head()-ed); plane width then matches
    # whatever corpus is landing, never a fixture constant.
    dim = embedding_dim(spark.read.schema(schema).parquet(d))
    planes = plane_weights(_N_PLANES, dim)
    v = as_double_array(col("embedding"))
    pmat = matrix_literal(planes)
    powers = F.array(*[F.lit(1 << j) for j in range(len(planes))])
    projections = F.transform(pmat, lambda w: dot(v, w))
    bucket = F.aggregate(
        F.zip_with(projections, powers, lambda x, p: F.when(x >= 0, p).otherwise(F.lit(0))),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    agg = emb.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("n_vectors")
    )
    out = _run_to_table(agg, spark)
    return out.orderBy("bucket")


def q90_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21's tumbling-window aggregation as a genuine streaming query."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("cnt"), F.sum("value").alias("sv")
    )
    out = _run_to_table(agg, spark)
    return out.select(
        col("w.start").alias("h"),
        "event_type",
        "cnt",
        F.round("sv", 2).alias("sum_value"),
    ).orderBy("h", "event_type")


def q167_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q164's OHLC bars as a genuine streaming aggregation: open/close are
    min_by/max_by over the total (ts, event_id) order — ASSOCIATIVE
    aggregates (unlike the batch twin's row_number windows), so the
    micro-batch engine merges partial bars across batches exactly, and the
    drained availableNow run hash-matches q164's batch oracle verbatim.
    This is the streaming form a live candlestick feed actually runs:
    per-window state is one (key, o/h/l/c/n/vol) tuple, never the rows."""
    ev = _events_stream(spark, sf_dir)
    key = F.struct(col("ts"), col("event_id"))
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n"),
        F.min_by("value", key).alias("o"),
        F.max("value").alias("high0"),
        F.min("value").alias("low0"),
        F.max_by("value", key).alias("c"),
        F.sum(F.round(col("value") * 1e6).cast("long")).alias("vol_micro"),
    )
    out = _run_to_table(agg, spark)
    return out.select(
        "event_type",
        F.unix_micros(col("w.start")).alias("h_us"),
        "n",
        F.round("o", 4).alias("open"),
        F.round("high0", 4).alias("high"),
        F.round("low0", 4).alias("low"),
        F.round("c", 4).alias("close"),
        "vol_micro",
    ).orderBy("event_type", "h_us")


def q91_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22's dedup-count as streaming dropDuplicates feeding a streaming
    aggregation (two chained stateful operators)."""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.dropDuplicates(["user_id", "event_type", "ts"])
    out = _run_to_table(deduped.agg(F.count("*").alias("cnt")), spark)
    return out


def q92_stream_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q04's event-name router counts from the micro-batch engine."""
    ev = _events_stream(spark, sf_dir)
    out = _run_to_table(
        ev.groupBy("event_type").agg(F.count("*").alias("cnt")), spark
    )
    return out.orderBy("event_type")


def q104_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join: click→purchase pairs within one hour per
    user, run as a REAL streaming join (append mode — the only mode
    stream-stream joins support). Both sides carry watermarks and the join
    carries a time-range condition, so state for rows older than the bound
    is evicted instead of growing with the stream — the 100 TB posture.
    With a fully drained availableNow source every qualifying pair emits
    (inner-join emission does not wait on the watermark), so the batch
    oracle applies verbatim. Pair counting happens batch-side on the sink
    table; the reference's analog is response correlation via
    ``response_to`` (event_stream/streams/reader.py:126-128)."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.where(col("event_type") == "click")
        .select("user_id", col("ts").alias("c_ts"), col("event_id").alias("c_id"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where(col("event_type") == "purchase")
        .select(col("user_id").alias("p_user"), col("ts").alias("p_ts"),
                col("event_id").alias("p_id"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (col("user_id") == col("p_user"))
        & (col("p_ts") > col("c_ts"))
        & (col("p_ts") <= col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = _run_to_table(joined.select("user_id", "c_id", "p_id"), spark, mode="append")
    return (
        out.groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


def q105_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q26's sessionization (30-min inactivity gap per user) as a REAL
    streaming session_window aggregation — the stateful operator merges
    overlapping session fragments across micro-batches. Complete mode over
    the drained source equals the batch computation, so the
    gaps-and-islands oracle applies; a production pipeline uses append
    mode + watermark to emit closed sessions with bounded state."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
    )
    out = _run_to_table(agg, spark)
    return out.select(
        "user_id",
        col("sw.start").alias("session_start"),
        "cnt",
        F.round("sv", 2).alias("sum_value"),
    ).orderBy("user_id", "session_start")


def _redis_hourly(spark: SparkSession, sf_dir: str, n_shards: int) -> DataFrame:
    """Shared body of q115/q115b: feed the events fixture into ``n_shards``
    in-process RESP2 streams (round-robin — a stand-in for any producer-side
    shard key), ingest them back through ONE ``rediswire`` streaming query,
    and run q90's hourly aggregation on the union."""
    from ..catalog import load
    from ..sources.redis_stream import RedisStreamClient, register_rediswire
    from ..sources.resp_server import FakeRedisServer

    names = [f"EVENTS{i}" for i in range(n_shards)] if n_shards > 1 else ["EVENTS"]
    feed = (
        load(spark, sf_dir, "events")
        .select("event_type", F.unix_micros(col("ts")).alias("us"), "value")
        .collect()
    )
    server = FakeRedisServer()
    try:
        with RedisStreamClient("127.0.0.1", server.port) as c:
            for i, name in enumerate(names):
                c.xadd_many(
                    name,
                    [
                        {"event": r.event_type, "ts_us": str(r.us), "value": repr(r.value)}
                        for r in feed[i::len(names)]
                    ],
                )
        register_rediswire(spark)
        stream = (
            spark.readStream.format("rediswire")
            .option("host", "127.0.0.1")
            .option("port", str(server.port))
            .option("streams", ",".join(names))
            .load()
        )
        typed = stream.select(
            F.element_at("fields", "event").alias("event_type"),
            F.timestamp_micros(
                F.element_at("fields", "ts_us").cast("long")
            ).alias("ts"),
            F.element_at("fields", "value").cast("double").alias("value"),
        )
        agg = typed.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
            F.count("*").alias("cnt"), F.sum("value").alias("sv")
        )
        out = _run_to_table(agg, spark)
    finally:
        server.close()
    return out.select(
        col("w.start").alias("h"),
        "event_type",
        "cnt",
        F.round("sv", 2).alias("sum_value"),
    ).orderBy("h", "event_type")


def q115_stream_redis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q90's hourly aggregation ingested through a LIVE Redis-protocol
    broker: the events fixture is pipeline-XADDed into an in-process RESP2
    stream server, read back with the ``rediswire`` DataSource as a real
    Structured Streaming query (ID-range micro-batches over actual
    sockets), decoded from the string wire (ts as unix-micros field, value
    re-parsed from its shortest-roundtrip repr — both exact), and
    aggregated. Complete mode over the drained stream equals the batch
    computation, so q90's duckdb oracle applies verbatim — the whole
    A1-over-the-wire path sits under the driver's correctness gate.

    Scale: the feed loop is test scaffolding (a real deployment's
    producers publish); the read path — replayable exclusive-start XRANGE
    micro-batches — is the part that must and does scale per
    ``redis_stream.py``'s offset design. See q115b for the sharded form."""
    return _redis_hourly(spark, sf_dir, n_shards=1)


def q115b_stream_redis_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q115 with the ingest path SHARDED across 4 live streams read by ONE
    streaming query (``streams`` option → one InputPartition per stream per
    micro-batch, composite ``{"last_ids": ...}`` offsets). This is the
    100 TB ingest posture: a Redis stream is one ordered shard, so
    parallelism comes from N streams — here the union is ingested 4-ways
    in parallel and still hash-matches the single-stream/batch oracle
    because the hourly aggregation is order-insensitive."""
    return _redis_hourly(spark, sf_dir, n_shards=4)


def _scrub_oracle_sql() -> str:
    from ..functions import tokens_sql
    from .text import _BLOCKLIST, quality_score_sql

    blocked = (
        f"len(list_filter(w, t -> t IN ("
        + ", ".join(f"'{b}'" for b in _BLOCKLIST)
        + ")))"
    )
    return f"""
WITH tok AS (SELECT source, n_chars, text, {tokens_sql()} AS w FROM documents),
scored AS (SELECT source, n_chars, {quality_score_sql()} AS q, {blocked} AS nb
           FROM tok)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       ROUND(AVG(q), 4) AS avg_quality
FROM scored WHERE q >= 0.5 AND nb = 0 GROUP BY 1 ORDER BY 1
"""


def _vector_ingest_oracle_sql() -> str:
    from .similarity import lsh_sig_cte_sql

    return f"""
WITH {lsh_sig_cte_sql()}
SELECT bucket, COUNT(*) AS n_vectors
FROM s GROUP BY 1 ORDER BY 1
"""


# --- streaming stateful top-k (q145) ---------------------------------------

_TOPK_N = 5
_TOPK_CHUNKS = 4


def _events_chunks_dir(spark: SparkSession, sf_dir: str, n: int = _TOPK_CHUNKS) -> str:
    """Split the events fixture into ``n`` parquet files (event_id mod n)
    with strictly increasing mtimes, so maxFilesPerTrigger=1 yields a
    genuinely MULTI-batch stream — unlike the single-file symlink feeds,
    this exercises state carried across micro-batches."""
    import glob
    import shutil

    from ..catalog import load

    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"es_evchunks_{tag}")
    marker = os.path.join(d, "_READY")  # leading _ -> invisible to the source
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
        base_t = 1_600_000_000
        for i in range(n):
            build = os.path.join(d, f"_build{i}")
            ev.where(col("event_id") % n == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(build)
            src = glob.glob(os.path.join(build, "part-*.parquet"))[0]
            dst = os.path.join(d, f"chunk{i}.parquet")
            shutil.copy(src, dst)
            os.utime(dst, times=(base_t + i, base_t + i))
            shutil.rmtree(build)
        open(marker, "w").close()
    return d


def _documents_chunks_dir(spark: SparkSession, sf_dir: str, n: int = 4) -> str:
    """documents twin of ``_events_chunks_dir``: n parquet chunk files
    (doc_id mod n) with strictly increasing mtimes, so
    maxFilesPerTrigger=1 yields a genuinely multi-batch corpus stream."""
    import glob
    import shutil

    from ..catalog import load

    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"es_docchunks_{tag}")
    marker = os.path.join(d, "_READY")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        docs = load(spark, sf_dir, "documents")
        base_t = 1_600_000_000
        for i in range(n):
            build = os.path.join(d, f"_build{i}")
            docs.where(col("doc_id") % n == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(build)
            src = glob.glob(os.path.join(build, "part-*.parquet"))[0]
            dst = os.path.join(d, f"chunk{i}.parquet")
            shutil.copy(src, dst)
            os.utime(dst, times=(base_t + i, base_t + i))
            shutil.rmtree(build)
        open(marker, "w").close()
    return d


def q145_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key top-k with custom state: each micro-batch merges
    its rows into the per-event_type top-5 (by value desc, event_id asc)
    held in ``applyInPandasWithState`` — the leaderboard/alerting pattern
    that ``dropDuplicates``/windowed aggs can't express (bounded ORDERED
    state per key). The feed is genuinely multi-batch (4 chunk files,
    maxFilesPerTrigger=1), so the final answer REQUIRES state to survive
    across batches.

    Retry-idempotence (the barrier.py discipline): the merge dedupes by
    event_id before ranking, so a replayed micro-batch cannot occupy two
    leaderboard slots with one event. Each update emits a monotonically
    versioned snapshot; the final version per key is selected batch-side.

    Scale: state is O(k) per key, shuffled once on the key; emission is
    per-updated-key per batch — the same footprint as any keyed-state
    streaming op. The batch oracle is the plain window top-5."""
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("version", LongType()),
            StructField("ids", ArrayType(LongType())),
            StructField("vals", ArrayType(DoubleType())),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("vals", ArrayType(DoubleType())),
            StructField("version", LongType()),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            ids, vals, ver = state.get
            pairs = dict(zip(ids, vals))
        else:
            pairs, ver = {}, 0
        for pdf in pdfs:
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                pairs[int(eid)] = float(v)  # dedupe by id: replay-safe
        top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOPK_N]
        ids = [t[0] for t in top]
        vals = [t[1] for t in top]
        ver += 1
        state.update((ids, vals, ver))
        yield pd.DataFrame(
            {"event_type": [key[0]], "version": [ver], "ids": [ids], "vals": [vals]}
        )

    d = _events_chunks_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = file_stream(spark, d, schema, max_files_per_trigger=1)
    snap = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_table(snap, spark, mode="append")
    w = Window.partitionBy("event_type").orderBy(col("version").desc())
    final = res.withColumn("rn", F.row_number().over(w)).where(col("rn") == 1)
    z = final.select(
        "event_type", F.posexplode(F.arrays_zip("ids", "vals")).alias("pos", "z")
    )
    return z.select(
        "event_type",
        (col("pos") + 1).cast("long").alias("rank"),
        col("z.ids").alias("event_id"),
        F.round(col("z.vals"), 2).alias("value"),
    ).orderBy("event_type", "rank")


def q190_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct counting AT INGEST: each micro-batch folds its rows
    into the 256-register-per-type sketch map-side, and the streaming
    state is the register table itself — max-merged, so it is bounded at
    |types| x 256 integers FOREVER, no matter how many events stream by.
    This is the q132 index-build-at-ingest pattern applied to distinct
    counting: the expensive countDistinct the sketch replaces would
    otherwise keep per-user state. The estimate finishing (and the exact
    comparison column) run as a batch epilogue over the drained
    registers; complete mode over a drained source ≡ q178's batch build,
    so q178's oracle applies verbatim — and because registers are
    duplicate-proof, replayed micro-batches cannot change the answer."""
    from ..catalog import load
    from .sketch import hll_finish, hll_registers

    ev = _events_stream(spark, sf_dir)
    reg = hll_registers(ev.select("event_type", "user_id"))
    drained = _run_to_table(reg, spark)
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return hll_finish(drained, exact)


def q195_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch AT INGEST — the SUM-merge twin of q190's
    max-merge HLL: each micro-batch hashes its raw token occurrences into
    the depth×width counter grid map-side, and the streaming state is the
    768-integer grid itself, bounded forever. Because counters are
    additive, counting raw occurrences per batch builds the IDENTICAL
    sketch q165 builds from the pre-aggregated term-frequency table, so
    q165's oracle applies verbatim. The top-k probe (and the exact
    ride-along column) run as a batch epilogue over the drained grid.
    Together q190/q195 cover both mergeable-sketch classes at the ingest
    path: max-merge (HLL registers) and sum-merge (CMS counters)."""
    from ..catalog import load
    from ..functions import tokens
    from .sketch import _CMS_DEPTH, cms_cell, cms_finish

    docs = _documents_stream(spark, sf_dir)
    tok = docs.select(F.explode(tokens("text")).alias("term"))
    arms = [
        tok.select(lit(d).alias("d"), cms_cell(d).alias("cell"))
        for d in range(_CMS_DEPTH)
    ]
    u = arms[0]
    for a in arms[1:]:
        u = u.unionByName(a)
    grid = u.groupBy("d", "cell").agg(F.count("*").alias("counter"))
    drained = _run_to_table(grid, spark)
    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("exact"))
    )
    return cms_finish(drained, tf)


_SQSK_K = 512  # bottom-k sample size (q210's _QSK_K, applied to events)


def q216_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k quantile sketch AT INGEST — the ORDERED-state member of the
    streaming sketch family (q190 max-merge HLL, q195 sum-merge CMS, this
    one a mergeable priority sample): each micro-batch folds its rows into
    the K lowest-priority (hash48 of event_id) rows seen so far, and the
    streaming state is the K-row sample itself — bounded FOREVER no matter
    how many events stream by. Mergeability (bottom-k(A∪B) ≡
    bottom-k(bottom-k(A)∪bottom-k(B)), the q210 property pinned in
    tests/test_sketch.py) makes the two-phase plan exact: a stateless
    per-Arrow-batch bottom-k pre-reduce caps what the single-key stateful
    merge ever sees at K rows per batch — the corpus never converges on
    one task. Replay-safe: the merge books rows by event_id, so a replayed
    micro-batch cannot double-insert.

    The epilogue (decile estimates from the drained sample vs the exact
    events-table deciles, both nearest-rank-below picks — q210's integer
    rule, no interpolation) runs batch-side; the feed is genuinely
    multi-batch (4 chunk files, maxFilesPerTrigger=1), so the answer
    REQUIRES the sample to survive across batches."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..catalog import load
    from ..functions import hash48
    from .ranking import exact_value_at_ranks

    d = _events_chunks_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = file_stream(spark, d, schema, max_files_per_trigger=1)
    cand = ev.select(
        "event_id",
        "value",
        hash48(col("event_id").cast("string")).alias("pri"),
    )

    def shrink(batches):
        for pdf in batches:
            if len(pdf):
                yield pdf.nsmallest(_SQSK_K, ["pri", "event_id"])

    cand = cand.mapInPandas(shrink, schema="event_id long, value double, pri long")

    out_schema = StructType(
        [
            StructField("version", LongType()),
            StructField("pris", ArrayType(LongType())),
            StructField("ids", ArrayType(LongType())),
            StructField("vals", ArrayType(DoubleType())),
        ]
    )
    state_schema = StructType(
        [
            StructField("pris", ArrayType(LongType())),
            StructField("ids", ArrayType(LongType())),
            StructField("vals", ArrayType(DoubleType())),
            StructField("version", LongType()),
        ]
    )

    def update(key, pdfs, state):
        if state.exists:
            pris, ids, vals, ver = state.get
            book = {int(i): (int(p), float(v)) for p, i, v in zip(pris, ids, vals)}
        else:
            book, ver = {}, 0
        for pdf in pdfs:
            for p, i, v in zip(pdf["pri"], pdf["event_id"], pdf["value"]):
                book[int(i)] = (int(p), float(v))  # id-keyed: replay-safe
        keep = sorted(book.items(), key=lambda kv: (kv[1][0], kv[0]))[:_SQSK_K]
        pris = [p for _, (p, _) in keep]
        ids = [i for i, _ in keep]
        vals = [v for _, (_, v) in keep]
        ver += 1
        state.update((pris, ids, vals, ver))
        yield pd.DataFrame(
            {"version": [ver], "pris": [pris], "ids": [ids], "vals": [vals]}
        )

    snap = cand.withColumn("g", lit(1)).groupBy("g").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_table(snap, spark, mode="append")
    samp = (
        res.orderBy(col("version").desc())
        .limit(1)
        .select(F.sort_array(col("vals")).alias("sv"))
    )

    evb = load(spark, sf_dir, "events")
    n, picked = exact_value_at_ranks(
        evb,
        "value",
        lambda n: [((n - 1) * dd) // 10 + 1 for dd in range(1, 10)],
        what="events",
    )
    exv = F.array(*[lit(picked[((n - 1) * dd) // 10 + 1]) for dd in range(1, 10)])
    dd = col("decile")
    idx = (F.floor(((F.size(col("sv")) - 1) * dd) / 10) + 1).cast("int")
    return (
        samp.select(
            F.explode(F.sequence(lit(1), lit(9))).alias("decile"),
            "sv",
            exv.alias("ev"),
        )
        .select(
            "decile",
            F.round(F.element_at(col("sv"), idx), 2).alias("est"),
            F.round(F.element_at(col("ev"), dd.cast("int")), 2).alias("exact"),
            F.round(
                (F.element_at(col("sv"), idx) - F.element_at(col("ev"), dd.cast("int")))
                * 100.0
                / F.element_at(col("ev"), dd.cast("int")),
                2,
            ).alias("err_pct"),
        )
        .orderBy("decile")
    )


from ..functions import hash48_sql as _h48s

_SQSK_SQL = f"""
WITH samp AS (
  SELECT value
  FROM (SELECT event_id, value,
               {_h48s("CAST(event_id AS VARCHAR)")} AS pri
        FROM events)
  ORDER BY pri, event_id LIMIT {_SQSK_K}),
sv AS (SELECT list(value ORDER BY value) AS sv FROM samp),
rk AS (SELECT value,
              ROW_NUMBER() OVER (ORDER BY value, event_id) AS r
       FROM events),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
ev AS (SELECT list(x.value ORDER BY x.decile) AS ev FROM (
         SELECT d.decile, r.value
         FROM (SELECT unnest(range(1, 10)) AS decile) d
         CROSS JOIN nn
         JOIN rk r ON r.r = ((nn.n - 1) * d.decile) // 10 + 1) x),
d AS (SELECT unnest(range(1, 10)) AS decile)
SELECT d.decile,
       ROUND(sv.sv[CAST(((len(sv.sv) - 1) * d.decile) // 10 + 1 AS INT)], 2) AS est,
       ROUND(ev.ev[CAST(d.decile AS INT)], 2) AS exact,
       ROUND((sv.sv[CAST(((len(sv.sv) - 1) * d.decile) // 10 + 1 AS INT)]
              - ev.ev[CAST(d.decile AS INT)]) * 100.0
             / ev.ev[CAST(d.decile AS INT)], 2) AS err_pct
FROM d CROSS JOIN sv CROSS JOIN ev ORDER BY d.decile
"""


_DOREMI_BCAST_VOCAB_CAP = 2_000_000  # terms: ~2M × (term + two longs +
# dict overhead) ≈ low hundreds of MB per executor — the broadcast budget
# class. A monitor whose proxy LM exceeds this keeps the stream-static
# join path (correct at any vocab, just slower per batch).


def q225_stream_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain-mix monitoring AT INGEST — the streaming twin of
    q221: the two Laplace-smoothed unigram LM tables train OFFLINE from
    the at-rest corpus (the reference/proxy models a reweighting loop
    holds fixed while data streams), each micro-batch of landing
    documents joins the STATIC milli-nat LM table on term (stream-static
    join, vocabulary-sized build side) and folds into per-source running
    integer sums (n_tok, Σlf, Σlr) — streaming state is |sources| rows of
    three additive longs, bounded forever, and additivity makes the
    drained state EXACTLY q221's batch sums under any micro-batching or
    replay split. The EG step runs as a batch epilogue on the drained
    |sources|-row state (text._doremi_finish — the shared dimension
    math), so q221's duckdb oracle applies verbatim. The feed is
    genuinely multi-batch (4 doc_id-mod chunk files,
    maxFilesPerTrigger=1 — the q216 convention), so the answer REQUIRES
    the sums to survive across batches. Completes the streaming-sketch
    family's sum-merge story at the SEMANTIC level: q195 sum-merges
    hash counters, this sum-merges model-loss sufficient statistics.

    OOV policy (round-8 ADVICE): the stream-static term join is a LEFT
    join — a landing token absent from the at-rest vocabulary still
    counts into n_tok, scored at the Laplace UNSEEN-TERM floor
    ln((0+1)/(t+v)) under each LM (the exact log-prob the same smoothing
    assigns a zero-count term, milli-quantized like every other term).
    On the replayed fixtures no OOV occurs, so equality with q221's
    batch oracle holds verbatim; on live landing data the monitor keeps
    the batch definition instead of silently dropping unseen tokens.

    Throughput (round-11 VERDICT ask #5 — this was the slowest streaming
    row at 10.7k rows/s): each micro-batch now (a) spreads its one
    arrival file to cluster width (the q231 ingest-gate convention —
    without it the whole batch scores on one core), and (b) scores
    per-DOC map-side against the LM shipped as a broadcast dict (the
    q244 convention), so nothing token-exploded ever crosses an
    exchange and the one streaming aggregate folds |sources| rows of
    pre-summed longs. The broadcast rides the proxy-LM contract (a
    DoReMi monitor's LM is a trained model artifact, not corpus-sized)
    but is still vocab-GATED: above _DOREMI_BCAST_VOCAB_CAP terms the
    plan falls back to the original stream-static left join — slower,
    never a driver OOM (the q158 panel-guard convention). Both paths
    compute identical integer sums (dict get == left join + coalesce),
    so the oracle is path-independent."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..catalog import load
    from ..functions import tokens
    from .text import _doremi_finish, _two_lm_tables

    docs_at_rest = load(spark, sf_dir, "documents")
    st = (
        docs_at_rest.select(
            "doc_id", "source", F.explode(tokens("text")).alias("term")
        )
        .groupBy("source", "term")
        .agg(
            F.count("*").alias("c"),
            F.sum((col("doc_id") % 4 == 0).cast("long")).alias("cref"),
        )
    )
    ll, tot = _two_lm_tables(st)
    # Laplace unseen-term floors (1-row collect of the LM totals): the
    # milli-nat log-prob a zero-count term gets under each LM.
    import math

    trow = tot.head()
    lf_floor = int(round(math.log(1.0 / (trow["t_full"] + trow["v"])) * 1e3))
    lr_floor = int(round(math.log(1.0 / (trow["t_ref"] + trow["v"])) * 1e3))

    d = _documents_chunks_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdocs = file_stream(spark, d, schema, max_files_per_trigger=1)
    n_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if int(trow["v"]) <= _DOREMI_BCAST_VOCAB_CAP:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        lm_map = {r["term"]: (r["lf"], r["lr"]) for r in ll.collect()}
        lm_bc = spark.sparkContext.broadcast(lm_map)

        def _score(ws):
            lm = lm_bc.value
            out = {"n_tok": [], "sf": [], "sr": []}
            for arr in ws:
                sf = sr = 0
                for t in arr:
                    e = lm.get(t)
                    if e is None:
                        sf += lf_floor
                        sr += lr_floor
                    else:
                        sf += e[0]
                        sr += e[1]
                out["n_tok"].append(len(arr))
                out["sf"].append(sf)
                out["sr"].append(sr)
            return pd.DataFrame(out)

        score = pandas_udf(_score, returnType="n_tok long, sf long, sr long")
        scored = (
            sdocs.repartition(n_sp)
            .select("source", tokens("text").alias("w"))
            .select("source", score(col("w")).alias("s"))
        )
        ps = scored.groupBy("source").agg(
            F.sum("s.n_tok").alias("n_tok"),
            F.sum("s.sf").alias("sf"),
            F.sum("s.sr").alias("sr"),
        )
    else:
        stok = sdocs.repartition(n_sp).select(
            "source", F.explode(tokens("text")).alias("term")
        )
        ps = (
            stok.join(ll, "term", "left")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_tok"),
                F.sum(F.coalesce(col("lf"), lit(lf_floor))).alias("sf"),
                F.sum(F.coalesce(col("lr"), lit(lr_floor))).alias("sr"),
            )
        )
    drained = _run_to_table(ps, spark)
    return _doremi_finish(drained.select("source", "n_tok", "sf", "sr"))


def q231_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-based quality gate (q201) applied AT INGEST — the
    streaming member of the selection family: each landing micro-batch
    scores its documents with the literal-weight classifier (pure
    map-side integer fold, the q201 expression verbatim) and folds into
    per-source running statistics (n_docs, n_spam, Σ logit — additive
    longs; min logit — min-merge, the q190 register convention). State
    is |sources| rows of four scalars, bounded forever; additivity +
    min-merge make the drained state EXACTLY q201's batch aggregate
    under any micro-batching or replay split, so q201's duckdb oracle
    applies verbatim (the q225/q195 convention). The feed is genuinely
    multi-batch (4 doc_id-mod chunks, maxFilesPerTrigger=1), so the
    answer requires the gate's counters to survive across batches —
    which is what a production ingest gate does: accumulate accept/
    reject rates per source and alarm when a crawl's quality drifts."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..functions import tokens
    from .text import classifier_logit_micro

    d = _documents_chunks_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdocs = file_stream(spark, d, schema, max_files_per_trigger=1)
    # Spread each micro-batch to cluster width BEFORE the expensive
    # scoring fold: a one-file trigger is ONE input partition, and the
    # classifier costs ~2 ms/doc — without this exchange the whole batch
    # scores on a single core (measured at the 100× smoke: the drain
    # blew the 600 s harness timeout; with it the same drain finishes in
    # ~1 min). This is the real landing-zone shape too: arrival files
    # are unsplittable units, so an ingest gate repartitions to workers
    # before per-doc model work. The tiny text shuffle is the price; the
    # per-source sums are additive, so the answer is unchanged.
    n_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scored = sdocs.repartition(n_sp).select(
        "source", tokens("text").alias("w")
    ).select("source", classifier_logit_micro().alias("lm"))
    ps = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((col("lm") < 0).cast("long")).alias("n_spam"),
        F.sum("lm").alias("slm"),
        F.min("lm").alias("mlm"),
    )
    drained = _run_to_table(ps, spark)
    return drained.select(
        "source",
        "n_docs",
        "n_spam",
        F.round(col("slm").cast("double") / col("n_docs") / lit(1e6), 4).alias(
            "avg_logit"
        ),
        F.round(col("mlm") / lit(1e6), 4).alias("min_logit"),
    ).orderBy("source")


def q239_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q237's incremental IVF index ingest executed AT THE STREAM
    BOUNDARY — the maintenance loop a production vector store actually
    runs: the standing corpus (vec_id % 10 != 0, the at-rest index)
    freezes the grown-cells geometry/centroids and materializes its
    per-cell baseline BATCH-side (stats the index already has); the
    landing delta (vec_id % 10 == 0) arrives as a file stream, each
    micro-batch GEMM-assigns against the frozen centroids (stateless
    map — the shared `_gemm_assign` spelling, exact integer metric) and
    folds into per-cell additive counters (n_delta, Σd). Streaming
    state is <= n_cells = ceil(sqrt(N_standing)) rows — bounded by the
    INDEX GEOMETRY, not the delta volume. Additivity makes the drained
    counters exactly q237's batch delta aggregates under any
    micro-batching or replay split, so q237's duckdb oracle applies
    VERBATIM (the q225/q231 convention). Completes the family: q132
    ingests into LSH buckets, q231 gates quality at ingest, this
    maintains the IVF index + its drift signal (d_delta vs d_standing)
    at ingest."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions import as_double_array
    from .similarity import _gemm_assign, _seed_matrix, auto_cells

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    d = _link_table(sf_dir, "embeddings", "es_ivfstream")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Standing geometry + baseline from a BATCH read of the same landing
    # dir (a stream can't be collected at plan build — the q132 dim
    # convention): centroid seeds are a sqrt(N)-bounded collect.
    e_at_rest = spark.read.schema(schema).parquet(d).select(
        "vec_id", as_double_array(col("embedding")).alias("v")
    )
    standing = e_at_rest.where(col("vec_id") % 10 != 0)
    n_cells = auto_cells(standing.count())
    seeds = sorted(
        (int(r.vec_id), list(r.v))
        for r in standing.orderBy("vec_id").limit(n_cells).collect()
    )
    cell_ids, C, c_sq = _seed_matrix(seeds, quantize=True)
    st = (
        _gemm_assign(standing, cell_ids, C, c_sq, "v", "d", quantize_input=True)
        .groupBy("cell")
        .agg(F.count("*").alias("n_standing"), F.sum("d").alias("sd"))
    )

    emb_s = file_stream(spark, d, schema, max_files_per_trigger=_max_files())
    delta = emb_s.where(col("vec_id") % 10 == 0).select(
        "vec_id", as_double_array(col("embedding")).alias("v")
    )
    ps = (
        _gemm_assign(delta, cell_ids, C, c_sq, "v", "d", quantize_input=True)
        .groupBy("cell")
        .agg(F.count("*").alias("n_delta"), F.sum("d").alias("sdd"))
    )
    drained = _run_to_table(ps, spark)

    nd = F.coalesce(col("n_delta"), lit(0)).cast("long")
    ns = col("n_standing")
    ns_g = F.when(ns > 0, ns)  # q237's zero-divisor guard, mirrored
    return (
        st.join(drained, "cell", "left")
        .select(
            "cell",
            ns.alias("n_standing"),
            nd.alias("n_delta"),
            F.round(lit(1000.0) * nd / ns_g, 3).alias("growth_m"),
            F.round(col("sd").cast("double") / ns_g / lit(1e6), 4).alias(
                "d_standing"
            ),
            F.round(
                col("sdd").cast("double") / F.when(nd > 0, nd) / lit(1e6), 4
            ).alias("d_delta"),
        )
        .orderBy("cell")
    )


def q244_stream_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q241's exact-span benchmark decontamination executed AT INGEST —
    the gate a training pipeline runs on every landing batch BEFORE the
    crawl reaches the corpus (contaminated docs poison evals silently;
    you want the alarm at the boundary, not at audit time). The
    benchmark window set is frozen BATCH-side from the slice at rest
    (doc_id % 50 == 0 — benchmarks are static and benchmark-sized by
    definition, the q241 broadcast contract; here it ships as a hash-set
    closure). Each corpus micro-batch builds its _DECON_N-token windows
    with the SAME Spark-side expression q241 uses (span_positions — the
    tokenization never re-implements engine-side), counts per-doc hits
    against the frozen set in one Arrow-batched Pandas UDF (a doc is
    atomic within its arrival file, so per-doc any-hit is MAP-SIDE —
    no per-doc streaming state), and folds into per-source additive
    counters: n_docs, n_windows, n_contam, hit_windows. State is
    |sources| rows of four scalars, bounded forever; additivity makes
    the drained state exactly q241's batch rollup under any
    micro-batching or replay split, so q241's duckdb oracle applies
    VERBATIM (the q225/q231/q239 convention)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from .dedup import _DECON_N, span_positions

    d = _documents_chunks_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pos = span_positions("text", _DECON_N)
    # Frozen benchmark windows from the landing dir at rest (a stream
    # cannot be collected at plan build — the q132/q239 dim convention).
    # Distinct window strings, built by the SAME expression the stream
    # side uses; the collect is benchmark-bounded by contract.
    bench = {
        r.s
        for r in spark.read.schema(schema)
        .parquet(d)
        .where(col("doc_id") % 50 == 0)
        .select(F.explode(F.array_distinct(pos)).alias("s"))
        .distinct()
        .collect()
    }

    from pyspark.sql.functions import pandas_udf

    # Broadcast, not a closure capture (round-11 ADVICE): a plain set in
    # the UDF closure re-serializes with every task of every micro-batch;
    # broadcast ships the frozen window set once per executor — the same
    # contract q241's batch side gets from its broadcast join.
    bench_bc = spark.sparkContext.broadcast(bench)

    # No type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf cannot resolve 'pd.Series' from its namespace —
    # the explicit returnType form is the hint-free spelling.
    def _hw(ws):
        b = bench_bc.value
        return ws.map(lambda arr: sum(1 for w in arr if w in b))

    hit_windows = pandas_udf(_hw, returnType="long")

    sdocs = file_stream(spark, d, schema, max_files_per_trigger=1)
    # Spread each one-file micro-batch to cluster width before the
    # window build + set probe (the q231 ingest-gate convention: arrival
    # files are unsplittable units; the per-source sums are additive, so
    # the exchange never changes the answer).
    n_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scored = (
        sdocs.where(col("doc_id") % 50 != 0)
        .repartition(n_sp)
        .select("source", pos.alias("ws"))
        .select(
            "source",
            F.size("ws").cast("long").alias("nw"),
            hit_windows(col("ws")).alias("hw"),
        )
    )
    ps = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nw").alias("n_windows"),
        F.sum((col("hw") > 0).cast("long")).alias("n_contam"),
        F.sum("hw").alias("hit_windows"),
    )
    drained = _run_to_table(ps, spark)
    return drained.select(
        "source",
        "n_docs",
        col("n_windows").cast("long").alias("n_windows"),
        "n_contam",
        col("hit_windows").cast("long").alias("hit_windows"),
        F.round(lit(1000.0) * col("n_contam") / col("n_docs"), 3).alias(
            "pct_docs_m"
        ),
    ).orderBy("source")


from .analytics import ORACLES as _A_ORACLES
from .dedup import ORACLES as _DEDUP_ORACLES
from .similarity import ORACLES as _SIM_ORACLES
from .sketch import ORACLES as _SKETCH_ORACLES
from .text import ORACLES as _TEXT_ORACLES

ORACLES = {
    # Streaming OHLC must land on the batch twin's answer exactly.
    "q167_stream_ohlc": _A_ORACLES["q164_ohlc_bars"],
    # Streaming HLL must land on q178's batch sketch exactly (registers
    # are max-merged — replay/duplicate-proof).
    "q190_stream_hll": _SKETCH_ORACLES["q178_hll_distinct"],
    # Streaming CMS must land on q165's batch sketch exactly (counters are
    # sum-merged — additive across micro-batches).
    "q195_stream_count_min": _SKETCH_ORACLES["q165_count_min"],
    # Streaming bottom-k must land on the batch sample computed from the
    # table at rest (the sample is id-hash-determined, merge-exact).
    "q216_stream_quantile_sketch": _SQSK_SQL,
    # Streaming DoReMi must land on q221's batch EG step exactly (the
    # per-source loss sufficient statistics are additive integers).
    "q225_stream_doremi": _TEXT_ORACLES["q221_doremi_step"],
    # Streaming quality gate must land on q201's batch aggregate exactly
    # (sum-merged counters + min-merged logit).
    "q231_stream_quality_gate": _TEXT_ORACLES["q201_classifier_score"],
    # Streaming IVF ingest must land on q237's batch maintenance view
    # exactly (per-cell delta counters are additive integers).
    "q239_stream_ivf_ingest": _SIM_ORACLES["q237_incremental_ivf_ingest"],
    # Streaming decontamination must land on q241's batch rollup exactly
    # (per-source window/contamination counters are additive integers).
    "q244_stream_decontam": _DEDUP_ORACLES["q241_exact_span_decontam"],
    "q145_stream_topk": f"""
WITH r AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events)
SELECT event_type, rank, event_id, ROUND(value, 2) AS value
FROM r WHERE rank <= {_TOPK_N}
ORDER BY event_type, rank
""",
    # Identical to the batch twins: the streaming run must land on the same
    # answer the oracle computes from the table at rest.
    "q128_stream_scrub": _scrub_oracle_sql(),
    "q132_stream_vector_ingest": _vector_ingest_oracle_sql(),
    "q135_stream_incremental_dedup": """
WITH corpus AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 9),
delta AS (SELECT source, n_chars, md5(text) AS fp FROM documents WHERE doc_id % 10 = 9)
SELECT source, COUNT(*) AS n_novel,
       CAST(SUM(n_chars) AS BIGINT) AS novel_chars
FROM delta WHERE fp NOT IN (SELECT fp FROM corpus)
GROUP BY 1 ORDER BY 1
""",
    "q115_stream_redis": """
SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    "q115b_stream_redis_sharded": """
SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    "q90_stream_hourly": """
SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    "q91_stream_dedup": """
SELECT COUNT(*) AS cnt FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
""",
    "q92_stream_routing": """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1 ORDER BY 1
""",
    "q104_stream_join": """
SELECT c.user_id, COUNT(*) AS n_pairs
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
    "q105_stream_session": (
        "WITH o AS (SELECT user_id, event_id, ts, value,"
        " LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts"
        " FROM events),"
        " m AS (SELECT *, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE"
        " THEN 1 ELSE 0 END AS brk FROM o),"
        " s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        " ROWS UNBOUNDED PRECEDING) AS sid FROM m)"
        " SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt,"
        " ROUND(SUM(value), 2) AS sum_value"
        " FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"
    ),
}

QUERIES = {
    "q145_stream_topk": q145_stream_topk,
    "q90_stream_hourly": q90_stream_hourly,
    "q167_stream_ohlc": q167_stream_ohlc,
    "q91_stream_dedup": q91_stream_dedup,
    "q92_stream_routing": q92_stream_routing,
    "q104_stream_join": q104_stream_join,
    "q105_stream_session": q105_stream_session,
    "q115_stream_redis": q115_stream_redis,
    "q115b_stream_redis_sharded": q115b_stream_redis_sharded,
    "q128_stream_scrub": q128_stream_scrub,
    "q132_stream_vector_ingest": q132_stream_vector_ingest,
    "q135_stream_incremental_dedup": q135_stream_incremental_dedup,
    "q190_stream_hll": q190_stream_hll,
    "q195_stream_count_min": q195_stream_count_min,
    "q216_stream_quantile_sketch": q216_stream_quantile_sketch,
    "q225_stream_doremi": q225_stream_doremi,
    "q231_stream_quality_gate": q231_stream_quality_gate,
    "q239_stream_ivf_ingest": q239_stream_ivf_ingest,
    "q244_stream_decontam": q244_stream_decontam,
}
