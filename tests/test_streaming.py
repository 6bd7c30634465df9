"""Streaming≡batch equivalence tests (SURVEY §5.2 item 2): each streaming
semantic replayed from the events parquet via a file stream with
AvailableNow, compared to the batch computation of the same helper.

Window-agg equivalence runs in COMPLETE output mode (append mode only emits
watermark-closed windows, so its output is by design a prefix of the batch
result — the late-data test covers that semantic explicitly)."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest

from eventstream_spark.catalog import fix_nanos_ts, load, table_path
from eventstream_spark.streaming import (
    ROCKSDB_PROVIDER,
    barrier_batch_oracle,
    completion_barrier,
    completion_barrier_tws,
    dedup_events,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from eventstream_spark.testing import compare


def _events_stream(spark, sf_dir, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(table_path(sf_dir, "events"), src / "part-0.parquet")
    schema = spark.read.parquet(str(src)).schema
    return fix_nanos_ts(spark.readStream.schema(schema).parquet(str(src)))


def _run_to_memory(df, name, tmp_path, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def test_tumbling_window_stream_equals_batch(spark, sf_dir, tmp_path):
    stream = tumbling_counts(_events_stream(spark, sf_dir, tmp_path))
    _run_to_memory(stream, "tumbling_out", tmp_path, mode="complete")
    got = spark.table("tumbling_out").toPandas()
    want = tumbling_counts(load(spark, sf_dir, "events")).toPandas()
    assert not compare(got, want), compare(got, want)


def test_sliding_window_stream_equals_batch(spark, sf_dir, tmp_path):
    stream = sliding_counts(_events_stream(spark, sf_dir, tmp_path))
    _run_to_memory(stream, "sliding_out", tmp_path, mode="complete")
    got = spark.table("sliding_out").toPandas()
    want = sliding_counts(load(spark, sf_dir, "events")).toPandas()
    assert not compare(got, want), compare(got, want)


def test_session_window_stream_equals_batch(spark, sf_dir, tmp_path):
    stream = session_counts(
        _events_stream(spark, sf_dir, tmp_path), watermark="1 minute"
    )
    _run_to_memory(stream, "session_out", tmp_path, mode="complete")
    got = spark.table("session_out").toPandas()
    want = session_counts(load(spark, sf_dir, "events")).toPandas()
    assert not compare(got, want), compare(got, want)


def test_streaming_dedup_equals_batch(spark, sf_dir, tmp_path):
    stream = dedup_events(_events_stream(spark, sf_dir, tmp_path), watermark="1 minute")
    _run_to_memory(stream, "dedup_out", tmp_path)
    got = spark.table("dedup_out").count()
    want = dedup_events(load(spark, sf_dir, "events")).count()
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy (A17 analog): a row older than the watermark horizon
    when its micro-batch runs is dropped; on-time rows in the same batch
    land in their (still open) windows."""
    src = tmp_path / "late_src"
    src.mkdir()
    pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00", "2024-01-01 12:00"]),
            "event_type": ["a", "a", "a"],
            "value": [1.0, 1.0, 1.0],
        }
    ).to_parquet(src / "a_batch1.parquet")
    schema = spark.read.parquet(str(src)).schema

    out_dir = tmp_path / "late_out"

    def run():
        # parquet sink: supports checkpoint recovery (memory sink doesn't),
        # so run 2 resumes the SAME query and keeps its watermark state.
        stream = fix_nanos_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        agg = tumbling_counts(stream, window="1 hour", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))  # SHARED
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # run 1: watermark advances to 11:50; closes only the 10:00 window
    run()
    r1 = spark.read.parquet(str(out_dir)).toPandas()
    assert [str(w) for w in r1["w_start"]] == ["2024-01-01 10:00:00"]

    pd.DataFrame(
        {
            "event_id": [4, 5, 6],
            # 09:00 is LATE (< 11:50 watermark) → dropped; 11:58 lands in the
            # open 11:00 window; 14:00 pushes the watermark to 13:50,
            # closing the 11:00 and 12:00 windows.
            "ts": pd.to_datetime(["2024-01-01 09:00", "2024-01-01 11:58", "2024-01-01 14:00"]),
            "event_type": ["a", "a", "a"],
            "value": [1.0, 1.0, 1.0],
        }
    ).to_parquet(src / "b_batch2.parquet")

    run()  # same checkpoint: only the new file is processed
    out = spark.read.parquet(str(out_dir)).toPandas().sort_values("w_start")
    got = {str(w): int(c) for w, c in zip(out["w_start"], out["cnt"])}
    assert got == {
        "2024-01-01 10:00:00": 1,  # from run 1
        "2024-01-01 11:00:00": 2,  # event 2 + on-time late-batch event 5
        "2024-01-01 12:00:00": 1,  # event 3
        # NO 09:00 window: event 4 was dropped as late
    }


def test_completion_barrier_stream_equals_batch(spark, tmp_path):
    """A19: a message completes only when ALL required consumers ack it."""
    src = tmp_path / "acks"
    src.mkdir()
    pd.DataFrame(
        {
            "message_id": ["m1", "m1", "m1", "m2", "m2", "m3", "m1"],
            "consumer": ["c1", "c2", "c3", "c1", "c2", "c1", "c1"],  # dup m1/c1 ack ok
        }
    ).to_parquet(src / "acks.parquet")
    schema = spark.read.parquet(str(src)).schema
    required = ["c1", "c2", "c3"]

    stream = spark.readStream.schema(schema).parquet(str(src))
    out = completion_barrier(stream, required)
    _run_to_memory(out, "barrier_out", tmp_path)
    got = spark.table("barrier_out").toPandas()

    batch = barrier_batch_oracle(spark.read.parquet(str(src)), required).toPandas()
    assert not compare(got, batch), compare(got, batch)
    assert set(got["message_id"]) == {"m1"}
    assert list(got["n_consumers"]) == [3]


def _has_tws_deps() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    _has_tws_deps(), reason="deps present — the real TWS test below runs instead"
)
def test_completion_barrier_tws_gates_without_protobuf(spark):
    """Without protobuf/grpcio the TWS barrier must fail loud with guidance,
    not crash the streaming driver worker mid-query."""
    df = spark.createDataFrame([("m1", "c1")], "message_id string, consumer string")
    with pytest.raises(NotImplementedError, match="protobuf"):
        completion_barrier_tws(df, ["c1", "c2"])


@pytest.mark.skipif(
    not _has_tws_deps(),
    reason="transformWithState needs protobuf/grpcio (absent in this container)",
)
def test_completion_barrier_tws_equals_batch(spark, tmp_path):
    """The transformWithStateInPandas barrier matches the batch oracle (and
    therefore the applyInPandasWithState variant). Duplicate acks across
    micro-batches must not double-fire the tombstoned barrier."""
    src = tmp_path / "acks_tws"
    src.mkdir()
    pd.DataFrame(
        {
            "message_id": ["m1", "m1", "m2", "m3"],
            "consumer": ["c1", "c2", "c1", "c2"],
        }
    ).to_parquet(src / "f1.parquet")
    pd.DataFrame(
        {
            # completes m1 again (duplicate acks) and m2; m3 stays open
            "message_id": ["m1", "m1", "m2"],
            "consumer": ["c1", "c2", "c2"],
        }
    ).to_parquet(src / "f2.parquet")
    schema = spark.read.parquet(str(src)).schema
    required = ["c1", "c2"]

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        out = completion_barrier_tws(stream, required)
        _run_to_memory(out, "barrier_tws_out", tmp_path)
        got = spark.table("barrier_tws_out").toPandas()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    batch = barrier_batch_oracle(spark.read.parquet(str(src)), required).toPandas()
    assert not compare(got, batch), compare(got, batch)
    assert sorted(got["message_id"]) == ["m1", "m2"]
    assert list(got["status"].unique()) == ["complete"]
    assert len(got) == 2  # tombstone: duplicate ack set must not re-emit m1


def test_completion_barrier_idle_timeout(spark, tmp_path):
    """A17 analog: a barrier idle past the timeout emits a timed_out row
    with the partial ack count instead of wedging forever."""
    from eventstream_spark.streaming import completion_barrier

    src = tmp_path / "acks_src"
    src.mkdir()
    # Batch 1: m_stuck gets 1 of 2 required acks. Batch 2 (other key only)
    # arrives after the 1 ms idle timer has expired → timeout fires.
    pd.DataFrame({"message_id": ["m_stuck"], "consumer": ["c1"]}).to_parquet(
        src / "f1.parquet"
    )
    pd.DataFrame({"message_id": ["m_done"], "consumer": ["c1"]}).to_parquet(
        src / "f2.parquet"
    )
    pd.DataFrame({"message_id": ["m_done"], "consumer": ["c2"]}).to_parquet(
        src / "f3.parquet"
    )
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = completion_barrier(stream, ["c1", "c2"], idle_timeout_ms=1)
    q = (
        out.writeStream.format("memory")
        .queryName("barrier_timeout_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bt"))
        .trigger(availableNow=True)
        .start()
    )
    # The query stays alive while processing-time timers are pending; poll
    # the sink and stop as soon as both outcomes have landed.
    import time

    deadline = time.time() + 120
    rows = {}
    while time.time() < deadline:
        rows = {
            r.message_id: (r.n_consumers, r.status)
            for r in spark.table("barrier_timeout_out").collect()
        }
        if len(rows) == 2:
            break
        time.sleep(0.5)
    q.stop()
    assert rows["m_done"] == (2, "complete")
    assert rows["m_stuck"] == (1, "timed_out")


def test_idempotent_sink_survives_batch_replay(spark, sf_dir, tmp_path):
    """A replayed micro-batch (same batch_id) must not duplicate rows."""
    from eventstream_spark.streaming.sinks import idempotent_parquet_sink, read_sink

    out = str(tmp_path / "eo_sink")
    sink = idempotent_parquet_sink(out)
    events = load(spark, sf_dir, "events").limit(100)

    sink(events, 0)
    first = read_sink(spark, out).count()
    # Simulate failure-replay of batch 0 and a new batch 1.
    sink(events, 0)
    sink(events.limit(10), 1)
    total = read_sink(spark, out).count()
    assert first == 100 and total == 110


def test_stream_topk_state_spans_batches(spark, sf_dir):
    """q145's chunked feed must produce MULTIPLE micro-batches whose state
    accumulates: at least one key's final snapshot version is > 1 (state
    carried across batches), and the leaderboard equals the batch top-5 —
    i.e. the answer is unreachable from any single batch alone."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from pyspark.sql.functions import col

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.streaming_queries import q145_stream_topk

    got = q145_stream_topk(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(col("value").desc(), "event_id")
    want = (
        ev.select("event_type", "event_id", "value", F.row_number().over(w).alias("rank"))
        .where(col("rank") <= 5)
        .select("event_type", col("rank").cast("long"), "event_id", F.round("value", 2).alias("value"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the winning ids span multiple chunks (event_id % 4 differs) — the
    # final leaderboard cannot come from one micro-batch's rows alone
    chunks = {r.event_id % 4 for r in got}
    assert len(chunks) > 1


def test_file_sink_exactly_once_across_doctored_restart(spark, sf_dir, tmp_path):
    """Sink-side twin of the doctored SOURCE restart test
    (test_redis_source.test_drain_available_now_reaches_end_across_
    uncommitted_restart): a crash AFTER the parquet FileStreamSink
    transaction-logs a micro-batch but BEFORE the checkpoint records its
    commit forces the engine to REPLAY that batch on restart. The sink's
    batch-id log (_spark_metadata) must dedupe the replay — the output
    gains no duplicate rows — and the stream must keep delivering NEW
    data exactly-once afterwards. The crash is manufactured exactly as
    the source test does it: commits/N (and its .crc sidecar) deleted,
    offsets/N left in place."""
    import glob
    import os

    import pyspark.sql.functions as F

    land = tmp_path / "land"
    land.mkdir()
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 40)

    def add_file(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.rename(part, str(land / f"{name}.parquet"))

    for i in range(4):  # 4 files -> 4 micro-batches at maxFilesPerTrigger=1
        add_file(ev.where(F.col("event_id") % 4 == i), f"c{i}")

    schema = spark.read.parquet(str(land)).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(land))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert not q.isActive

    run()
    n0 = spark.read.parquet(out).count()
    assert n0 == 40

    commits = sorted(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    assert commits[-1] >= 1  # genuinely multi-batch
    os.remove(os.path.join(ckpt, "commits", str(commits[-1])))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    run()  # restart replays the uncommitted batch; sink log must skip it
    replayed = spark.read.parquet(out)
    assert replayed.count() == n0
    assert replayed.select("event_id").distinct().count() == n0

    # new data after the recovery still lands exactly once
    extra = load(spark, sf_dir, "events").where(
        (F.col("event_id") >= 40) & (F.col("event_id") < 50)
    )
    add_file(extra, "c4")
    run()
    final = spark.read.parquet(out)
    assert final.count() == n0 + 10
    assert final.select("event_id").distinct().count() == n0 + 10


def test_stream_quantile_sample_spans_batches(spark, sf_dir):
    """q216: the drained bottom-k sample must (a) take multiple
    micro-batches to build, (b) hold exactly ONE state row (the K-row
    sample arrays — bounded forever), and (c) produce decile estimates
    within the sampling bound; exact equality with the at-rest sample is
    the differential gate's job."""
    from eventstream_spark.operators.streaming_queries import (
        LAST_RUN_INFO,
        q216_stream_quantile_sketch,
    )

    got = q216_stream_quantile_sketch(spark, sf_dir).collect()
    assert [r.decile for r in got] == list(range(1, 10))
    assert LAST_RUN_INFO["n_batches"] > 1
    assert LAST_RUN_INFO["state_rows_peak"] == 1
    for r in got:
        assert r.exact > 0
        assert abs(r.err_pct) < 50.0


def test_stream_doremi_state_is_source_bounded(spark, sf_dir):
    """q225: the streaming DoReMi sums must (a) drain across multiple
    micro-batches, (b) hold at most |sources| state rows (three additive
    longs each — bounded forever), and (c) produce a smoothed
    distribution (weights sum to 1, each at least the uniform floor);
    exact equality with the batch q221 EG step is the differential
    gate's job."""
    from eventstream_spark.operators.streaming_queries import (
        LAST_RUN_INFO,
        q225_stream_doremi,
    )
    from eventstream_spark.operators.text import _DRM_SMOOTH

    got = q225_stream_doremi(spark, sf_dir).collect()
    assert LAST_RUN_INFO["n_batches"] > 1
    k = len(got)
    assert k >= 3
    assert LAST_RUN_INFO["state_rows_peak"] <= k
    assert abs(sum(r.doremi_weight for r in got) - 1.0) < 1e-2
    floor = _DRM_SMOOTH / k
    assert all(r.doremi_weight >= floor - 1e-4 for r in got)


def test_stream_doremi_paths_agree(spark, sf_dir):
    """q225's two physical paths — broadcast-dict map-side scoring vs the
    stream-static left-join fallback above the vocab cap — must produce
    identical rows (dict get == left join + coalesce over the same
    integer milli-nats), so the vocab gate never changes the answer."""
    from eventstream_spark.operators import streaming_queries as sq

    fast = [tuple(r) for r in sq.q225_stream_doremi(spark, sf_dir).collect()]
    old = sq._DOREMI_BCAST_VOCAB_CAP
    sq._DOREMI_BCAST_VOCAB_CAP = 0  # force the join fallback
    try:
        slow = [tuple(r) for r in sq.q225_stream_doremi(spark, sf_dir).collect()]
    finally:
        sq._DOREMI_BCAST_VOCAB_CAP = old
    assert fast == slow


def test_run_to_table_state_released_by_release_cached(spark, sf_dir):
    """Each drain's memory-sink view and es_ckpt_* checkpoint dir live
    until cache.release_cached(), the one lifecycle call a harness makes
    after materializing a result; repeated calls must not accumulate
    either."""
    import glob
    import os
    import tempfile

    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.streaming_queries import q91_stream_dedup

    def footprint():
        ckpts = glob.glob(os.path.join(tempfile.gettempdir(), "es_ckpt_*"))
        return len(spark.catalog.listTables()), len(ckpts)

    release_cached()
    before = footprint()
    for _ in range(3):
        df = q91_stream_dedup(spark, sf_dir)
        assert footprint() == (before[0] + 1, before[1] + 1)
        assert df.collect()
        release_cached()
        assert footprint() == before
