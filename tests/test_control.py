"""Control plane: QueryManager (A11 status, A13 purge, A14 targeted stop)
and trim-and-archive retention (A12)."""

from __future__ import annotations

import datetime as dt
import os

from eventstream_spark.catalog import EVENTS_RAW_SCHEMA, load, table_path
from eventstream_spark.sources import file_stream, rate_stream
from eventstream_spark.streaming import (
    QueryManager,
    read_archive,
    trim_and_archive,
)


def _start_rate_query(spark, name, checkpoint):
    return (
        rate_stream(spark, rows_per_second=5)
        .writeStream.format("noop")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def test_manager_info_stop_purge(spark, tmp_path):
    mgr = QueryManager(spark)
    ckpt = str(tmp_path / "ckpt_q1")
    mgr.register("app:i1", _start_rate_query(spark, "q1", ckpt), checkpoint_dir=ckpt)
    assert mgr.names() == ["app:i1"]

    info = mgr.info("app:i1")
    assert info.is_active and info.name == "q1" and info.query_id

    # A14 targeted stop: returns True when it actually stopped something.
    assert mgr.stop("app:i1") is True
    assert mgr.info("app:i1").is_active is False
    assert mgr.stop("app:i1") is False  # idempotent

    # A13 purge with checkpoint drop.
    assert os.path.isdir(ckpt)
    mgr.purge("app:i1", drop_checkpoint=True)
    assert mgr.names() == [] and not os.path.isdir(ckpt)


def test_manager_stop_all(spark, tmp_path):
    mgr = QueryManager(spark)
    for i in range(2):
        ckpt = str(tmp_path / f"ckpt_{i}")
        mgr.register(f"app:i{i}", _start_rate_query(spark, f"qa{i}", ckpt), ckpt)
    stopped = mgr.stop_all()
    assert stopped == ["app:i0", "app:i1"]
    for name in mgr.names():
        mgr.purge(name, drop_checkpoint=True)


def test_manager_info_all_reports_every_registered_query(spark, tmp_path):
    """A11 print_instance_info: one QueryInfo per registered name, stopped
    queries included, each with its own activity flag."""
    mgr = QueryManager(spark)
    for i in range(2):
        ckpt = str(tmp_path / f"ckpt_all{i}")
        running = mgr.register(
            f"app:i{i}", _start_rate_query(spark, f"qall{i}", ckpt), ckpt
        )
    try:
        assert mgr.stop("app:i0") is True
        infos = mgr.info_all()
        assert sorted(infos) == ["app:i0", "app:i1"]
        assert infos["app:i0"].is_active is False
        assert infos["app:i1"].is_active is True
        assert infos["app:i1"].name == "qall1"
        assert infos["app:i1"].query_id == str(running.id)
    finally:
        mgr.stop_all()
        for name in mgr.names():
            mgr.purge(name, drop_checkpoint=True)


def test_trim_and_archive_keeps_newest(spark, sf_dir, tmp_path):
    events = load(spark, sf_dir, "events")
    total = events.count()
    keep = total - 40

    table_dir = str(tmp_path / "events_table")
    events.write.parquet(table_dir)
    archive_dir = str(tmp_path / "archive")

    stats = trim_and_archive(
        spark,
        table_dir,
        keep_count=keep,
        archive_dir=archive_dir,
        ts_col="ts",
        id_col="event_id",
        archive_date=dt.date(2026, 8, 13),
    )
    assert stats == {"total": total, "archived": 40, "kept": keep}

    kept = spark.read.parquet(table_dir)
    archived = read_archive(spark, archive_dir)
    assert kept.count() == keep and archived.count() == 40
    # Partition the original on the (ts, id) order: archive got the oldest.
    oldest_kept = kept.selectExpr("min(struct(ts, event_id)) AS k").collect()[0].k
    newest_archived = archived.selectExpr("max(struct(ts, event_id)) AS k").collect()[0].k
    assert (newest_archived.ts, newest_archived.event_id) < (oldest_kept.ts, oldest_kept.event_id)
    # Nothing lost: kept ∪ archived == original ids.
    ids = {r.event_id for r in kept.select("event_id").collect()} | {
        r.event_id for r in archived.select("event_id").collect()
    }
    assert len(ids) == total


def test_close_local_roundtrips_through_running_stream(spark, tmp_path):
    """Reference close_local.py:112-146, end to end through data: publish
    get_instance into the live MASTER stream, the responder route answers
    (A11 as data), close_local correlates response_to↔message_id, matches
    the app identity, and stops the query (A14) via the manager."""
    from eventstream_spark.catalog import EVENTS_RAW_SCHEMA
    from eventstream_spark.plans.config import (
        BusConfig,
        EngineConfig,
        RouteConfig,
        SinkConfig,
        TransformRef,
    )
    from eventstream_spark.plans.routes import start_streaming_per_route
    from eventstream_spark.streaming import QueryManager, close_local

    src = tmp_path / "master_stream"
    src.mkdir()
    resp_dir = str(tmp_path / "responses")
    cfg = EngineConfig(
        application_name="workerA",
        application_instance="i-1",
        busses=(
            BusConfig(
                name="MASTER",
                source_path=str(src),
                routes=(
                    RouteConfig(
                        name="instance_info",
                        event="get_instance",
                        transform=TransformRef(
                            "eventstream_spark.plans.transforms", "respond"
                        ),
                        kwargs={
                            "application_name": "workerA",
                            "application_instance": "i-1",
                        },
                        sink=SinkConfig("parquet", resp_dir),
                    ),
                ),
            ),
        ),
    )
    manager = QueryManager(spark)
    start_streaming_per_route(
        spark,
        cfg,
        cfg.busses[0],
        str(src),
        EVENTS_RAW_SCHEMA,
        str(tmp_path / "ckpt"),
        manager=manager,
        available_now=False,
    )
    try:
        # A wrong-app filter must match nothing and close nothing.
        assert manager.info("MASTER:instance_info").is_active
        result = close_local(
            spark,
            manager,
            str(src),
            resp_dir,
            application_name="workerA",
            timeout_sec=90,
        )
    finally:
        manager.stop_all()

    assert result["targets"] == [("workerA", "i-1")]
    assert result["closed"] == ["MASTER:instance_info"]
    assert not manager.info("MASTER:instance_info").is_active
    # The response that drove the close is a real envelope in the sink.
    resp = spark.read.parquet(resp_dir)
    row = resp.where(resp.response_to == result["request_id"]).first()
    assert row.event == "get_instance_response"
    assert row.application_name == "workerA"


def test_stop_owned_filters_by_identity(spark, tmp_path):
    """stop_owned only touches queries whose owner matches the selector."""
    from eventstream_spark.sources import rate_stream
    from eventstream_spark.streaming import QueryManager

    mgr = QueryManager(spark)
    qa = (
        rate_stream(spark, rows_per_second=1)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ca"))
        .start()
    )
    qb = (
        rate_stream(spark, rows_per_second=1)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cb"))
        .start()
    )
    mgr.register("a", qa, owner=("appA", "i-1"))
    mgr.register("b", qb, owner=("appB", "i-1"))
    try:
        assert mgr.stop_owned("nope") == []
        assert mgr.stop_owned("appA") == ["a"]
        assert qb.isActive and not qa.isActive
        assert mgr.stop_owned(None, "i-1") == ["b"]
    finally:
        for q in (qa, qb):
            if q.isActive:
                q.stop()


def test_trim_partitions_drops_old_without_touching_retained(spark, sf_dir, tmp_path):
    """The 100 TB retention path: whole date= partitions older than the
    horizon move to the archive; retained partitions are byte-untouched
    (same inode and mtime — never read or rewritten)."""
    from pyspark.sql import functions as F

    from eventstream_spark.streaming import trim_partitions

    events = load(spark, sf_dir, "events")
    table_dir = str(tmp_path / "events_by_date")
    events.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(table_dir)

    dates = sorted(
        e[len("date="):] for e in os.listdir(table_dir) if e.startswith("date=")
    )
    assert len(dates) >= 3, "fixture must span several days"
    horizon = dates[1]  # drop only the oldest day
    per_date = {
        r.date.isoformat(): r.cnt
        for r in spark.read.parquet(table_dir).groupBy("date").count().withColumnRenamed("count", "cnt").collect()
    }

    def file_stats(date_s):
        d = os.path.join(table_dir, f"date={date_s}")
        return {
            f: (os.stat(os.path.join(d, f)).st_ino, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {d: file_stats(d) for d in dates[1:]}
    archive_dir = str(tmp_path / "archive")
    stats = trim_partitions(table_dir, horizon, archive_dir=archive_dir)
    assert stats == {"partitions_dropped": 1, "partitions_kept": len(dates) - 1}

    # Retained partitions: identical file sets, inodes, and mtimes.
    assert {d: file_stats(d) for d in dates[1:]} == before
    assert not os.path.isdir(os.path.join(table_dir, f"date={dates[0]}"))
    # The dropped day is fully present in the archive, nothing lost.
    archived = spark.read.parquet(archive_dir)
    assert archived.count() == per_date[dates[0]]
    remaining = spark.read.parquet(table_dir)
    assert remaining.count() == sum(per_date[d] for d in dates[1:])


def test_trim_partitions_rearchive_merges_not_nests(spark, sf_dir, tmp_path):
    """A partition re-ingested and trimmed AGAIN must merge into the
    existing archive directory — not nest date=X/date=X (which read_archive
    would double-count) and not overwrite the earlier files."""
    from pyspark.sql import functions as F

    from eventstream_spark.streaming import read_archive, trim_partitions

    events = load(spark, sf_dir, "events").limit(100)
    dated = events.withColumn("date", F.to_date("ts"))
    first_day = dated.agg(F.min("date")).first()[0]
    one_day = dated.where(F.col("date") == F.lit(first_day))
    n = one_day.count()
    archive_dir = str(tmp_path / "archive")

    for _ in range(2):  # ingest + trim the SAME day twice
        table_dir = str(tmp_path / "t")
        one_day.write.mode("overwrite").partitionBy("date").parquet(table_dir)
        stats = trim_partitions(table_dir, "9999-12-31", archive_dir=archive_dir)
        assert stats["partitions_dropped"] == 1

    part_dir = os.path.join(archive_dir, f"date={first_day.isoformat()}")
    assert os.path.isdir(part_dir)
    # No nested date=X/date=X directory.
    assert not any(
        e.startswith("date=") for e in os.listdir(part_dir) if os.path.isdir(os.path.join(part_dir, e))
    )
    # Both rounds' rows are present: merged, nothing overwritten or doubled.
    assert read_archive(spark, archive_dir).count() == 2 * n


def test_trim_partitions_delete_without_archive(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from eventstream_spark.streaming import trim_partitions

    events = load(spark, sf_dir, "events").limit(200)
    table_dir = str(tmp_path / "t")
    events.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(table_dir)
    dates = sorted(e[len("date="):] for e in os.listdir(table_dir) if e.startswith("date="))
    stats = trim_partitions(table_dir, dates[-1])  # keep only the newest day
    assert stats["partitions_kept"] == 1
    assert stats["partitions_dropped"] == len(dates) - 1
    left = {e[len("date="):] for e in os.listdir(table_dir) if e.startswith("date=")}
    assert left == {dates[-1]}


def test_trim_noop_under_limit(spark, sf_dir, tmp_path):
    events = load(spark, sf_dir, "events").limit(10)
    table_dir = str(tmp_path / "small_table")
    events.write.parquet(table_dir)
    stats = trim_and_archive(spark, table_dir, keep_count=100, archive_dir=None)
    assert stats == {"total": 10, "archived": 0, "kept": 10}
    assert spark.read.parquet(table_dir).count() == 10


def test_compact_table_reduces_files(spark, sf_dir, tmp_path):
    from eventstream_spark.streaming.control import compact_table

    events = load(spark, sf_dir, "events")
    table_dir = str(tmp_path / "fragmented")
    events.repartition(40).write.parquet(table_dir)
    before = len([f for f in os.listdir(table_dir) if f.endswith(".parquet")])
    assert before == 40

    stats = compact_table(spark, table_dir, target_file_bytes=10 << 20)
    assert stats["files_before"] == 40 and stats["files_after"] < 40
    assert spark.read.parquet(table_dir).count() == events.count()

    # Already-compact directory is a no-op.
    again = compact_table(spark, table_dir, target_file_bytes=10 << 20)
    assert again["files_after"] == stats["files_after"]


def test_clear_idle_purges_idle_keeps_active(spark, tmp_path):
    """Idle-group GC (reference clear_groups.py): a terminated query is
    swept (checkpoint dropped) while an actively progressing one is kept;
    orphaned checkpoint dirs older than the threshold are removed, owned
    and recent ones retained."""
    import time

    from eventstream_spark.streaming import QueryManager

    root = tmp_path / "ckpts"
    root.mkdir()
    mgr = QueryManager(spark)

    def start(name):
        ck = str(root / name)
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "5")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .queryName(name)
            .start()
        )
        return mgr.register(name, q, checkpoint_dir=ck)

    alive, dead = start("alive"), start("dead")
    try:
        deadline = time.time() + 60
        while time.time() < deadline and alive.lastProgress is None:
            time.sleep(0.3)
        assert alive.lastProgress is not None
        dead.stop()
        dead.awaitTermination()
        # Age the dead query past the GC threshold; the alive query keeps
        # progressing (rate source, continuous micro-batches) so its idle
        # time stays near zero.
        time.sleep(4.5)

        # Orphans: one stale (old mtimes), one fresh.
        for name, old in (("orphan_old", True), ("orphan_new", False)):
            d = root / name
            d.mkdir()
            f = d / "offsets"
            f.write_text("x")
            if old:
                past = time.time() - 3600
                import os as _os

                _os.utime(d, (past, past))
                _os.utime(f, (past, past))

        out = mgr.clear_idle(idle_seconds=4, checkpoint_root=str(root))
        assert out == {"purged": ["dead"], "orphaned_checkpoints": ["orphan_old"]}
        assert mgr.names() == ["alive"]
        assert not (root / "dead").exists()  # purge dropped its checkpoint
        assert (root / "alive").exists()
        assert (root / "orphan_new").exists()
        assert not (root / "orphan_old").exists()
    finally:
        for q in (alive, dead):
            if q.isActive:
                q.stop()
