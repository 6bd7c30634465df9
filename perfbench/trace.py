"""Per-layer recording for a traced benchmark run.

Everything here is driven from the benchmark's own files: spans are taken
around the calls the benchmark makes into each module, the wire publisher
is timed by wrapping ``RedisStreamClient.xadd_many``, the broker's side of
the wire read by wrapping ``FakeRedisServer._dispatch``, streaming progress
comes from a listener the benchmark registers, and Spark execution numbers
are read once, at exit, from the application status store. Spans and
events stay in memory until :meth:`Tracer.metrics` reduces them.

Attribution is by time, not by job group: job groups are thread-local and a
streaming query runs its micro-batches on its own thread, so a job belongs
to the span (operation, and build or fetch phase) during which it was
submitted, whatever thread submitted it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

# Per-layer metric -> (unit, which direction is better).
METRICS = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.exec_s": ("s", "lower"),
    "operators.exec_jobs": ("count", "lower"),
    "operators.stages": ("count", "lower"),
    "operators.result_rows": ("count", "higher"),
    "exec.tasks": ("count", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.busy_frac": ("fraction", "higher"),
    "cache.release_s": ("s", "lower"),
    "cache.released": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.input_rows": ("count", "higher"),
    "streaming.rows_per_s": ("1/s", "higher"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.offsets_ms": ("ms", "lower"),
    "streaming.state_rows_peak": ("count", "lower"),
    "streaming.state_mem_mb": ("MB", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "sources.publish_s": ("s", "lower"),
    "sources.publish_events": ("count", "higher"),
    "sources.read_rows": ("count", "higher"),
    "sources.xrange_s": ("s", "lower"),
    "sources.read_rows_per_s": ("1/s", "higher"),
    "sources.latest_offset_ms": ("ms", "lower"),
    "sources.backlog_end": ("count", "lower"),
    "plans.route_rows.clicks": ("count", "higher"),
    "plans.route_rows.purchases": ("count", "higher"),
    "plans.route_rows.problems": ("count", "higher"),
    "plans.fanout_batch_ms": ("ms", "lower"),
    "plans.sink_files": ("count", "lower"),
    "host.steal_s": ("s", "lower"),
    "host.cpus": ("count", "higher"),
    "trace.overhead_frac": ("fraction", "lower"),
}


class _ProgressRecorder(StreamingQueryListener):
    def __init__(self, sink: list):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self._sink.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def read_steal_ticks() -> int:
    """Host-wide CPU steal, in clock ticks since boot (0 where unknown)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Spans of the traced passes plus the raw events that fall in them."""

    def __init__(self, spark):
        from eventstream_spark.sources import redis_stream, resp_server

        self._spark = spark
        self.progress: list[dict] = []
        self.publishes: list[tuple[float, float, int]] = []  # start, seconds, entries
        self.xranges: list[tuple[float, float]] = []  # start, seconds
        self.recording = False
        spark.streams.addListener(_ProgressRecorder(self.progress))

        original = redis_stream.RedisStreamClient.xadd_many
        tracer = self

        def xadd_many(client, stream, batches, *args, **kwargs):
            t0 = time.time()
            out = original(client, stream, batches, *args, **kwargs)
            if tracer.recording:
                tracer.publishes.append((t0, time.time() - t0, len(batches)))
            return out

        redis_stream.RedisStreamClient.xadd_many = xadd_many

        dispatch = resp_server.FakeRedisServer._dispatch

        def timed_dispatch(server, cmd, a):
            t0 = time.time()
            out = dispatch(server, cmd, a)
            if tracer.recording and cmd == "XRANGE":
                tracer.xranges.append((t0, time.time() - t0))
            return out

        resp_server.FakeRedisServer._dispatch = timed_dispatch

    def settle(self) -> None:
        """Wait until the listener bus has delivered the last progress
        events (no new event for a second, at most 15 s)."""
        end = time.time() + 15.0
        seen = -1
        while seen != len(self.progress) and time.time() < end:
            seen = len(self.progress)
            time.sleep(1.0)

    def status_store(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs and stages retained by Spark's status store, as JSON."""
        jvm = self._spark._jvm
        store = self._spark._jsc.sc().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )
        gw = self._spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        by_stage = {}
        for s in json.loads(mapper.writeValueAsString(stages)):
            if s["status"] != "SKIPPED":
                by_stage[s["stageId"]] = s
        return jobs, by_stage

    def metrics(self, traced: list, untraced: list, cpus: int, route_stats) -> dict[str, float]:
        """Per-layer metrics: per traced pass, then the median over passes.

        ``traced``/``untraced`` are pass records (see run.py); ``route_stats``
        maps a fan-out output to ({route: rows}, files written)."""
        jobs, stages = self.status_store()
        per_pass = [self._pass_metrics(p, jobs, stages, cpus, route_stats) for p in traced]
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        out["trace.overhead_frac"] = (
            statistics.median(p.wall for p in traced)
            / statistics.median(p.wall for p in untraced) - 1.0
        )
        return out

    def _pass_metrics(self, p, jobs, stages, cpus, route_stats) -> dict[str, float]:
        from .workloads import FANOUT, ROUTES, WIRE_QUERY

        m: dict[str, float] = {}
        build_jobs = exec_jobs = 0
        stage_ids: set[int] = set()
        for job in jobs:
            t = job["submissionTime"] / 1000.0
            for r in p.ops:
                if r.t0 <= t <= r.t1:
                    if t <= r.tm:
                        build_jobs += 1
                    else:
                        exec_jobs += 1
                    stage_ids.update(job["stageIds"])
                    break
        run = [stages[s] for s in stage_ids if s in stages]
        task_s = sum(s["executorRunTime"] for s in run) / 1000.0
        m["operators.build_s"] = sum(r.tm - r.t0 for r in p.ops)
        m["operators.build_jobs"] = build_jobs
        m["operators.exec_s"] = sum(r.t1 - r.tm for r in p.ops)
        m["operators.exec_jobs"] = exec_jobs
        m["operators.stages"] = len(run)
        m["operators.result_rows"] = sum(r.rows for r in p.ops)
        m["exec.tasks"] = sum(s["numCompleteTasks"] for s in run)
        m["exec.task_s"] = task_s
        m["exec.task_cpu_s"] = sum(s["executorCpuTime"] for s in run) / 1e9
        m["exec.gc_s"] = sum(s["jvmGcTime"] for s in run) / 1000.0
        m["exec.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in run) / MB
        m["exec.spill_mb"] = sum(s["diskBytesSpilled"] for s in run) / MB
        m["exec.busy_frac"] = task_s / (p.wall * cpus)
        m["cache.release_s"] = sum(r.t2 - r.t1 for r in p.ops)
        m["cache.released"] = sum(r.released for r in p.ops)

        def op_of(t: float):
            return next((r for r in p.ops if r.t0 <= t <= r.t1), None)

        batches = [(op_of(_epoch(b["timestamp"])), b) for b in self.progress]
        batches = [(r, b) for r, b in batches if r is not None]
        allb = [b for _, b in batches]
        wire = [b for r, b in batches if r.name == WIRE_QUERY]
        fan = [b for r, b in batches if r.name == FANOUT]
        stateful = [b for b in allb if b.get("stateOperators")]

        def dur(bs, *keys):
            return [sum(b["durationMs"].get(k, 0) for k in keys) for b in bs]

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        rows = sum(b["numInputRows"] for b in allb)
        trig_s = sum(dur(allb, "triggerExecution")) / 1000.0
        m["streaming.batches"] = len(allb)
        m["streaming.input_rows"] = rows
        m["streaming.rows_per_s"] = rows / trig_s if trig_s else 0.0
        m["streaming.add_batch_ms"] = mean(dur(allb, "addBatch"))
        m["streaming.planning_ms"] = mean(dur(allb, "queryPlanning"))
        m["streaming.offsets_ms"] = mean(dur(allb, "latestOffset", "walCommit", "commitOffsets"))
        m["streaming.state_rows_peak"] = max(
            (sum(o["numRowsTotal"] for o in b["stateOperators"]) for b in stateful), default=0)
        m["streaming.state_mem_mb"] = max(
            (sum(o["memoryUsedBytes"] for o in b["stateOperators"]) for b in stateful),
            default=0) / MB
        m["streaming.state_commit_ms"] = mean(
            [sum(o["commitTimeMs"] for o in b["stateOperators"]) for b in stateful])

        published = [(t, s, n) for t, s, n in self.publishes if p.t0 <= t <= p.t1]
        wire_rows = sum(b["numInputRows"] for b in wire)
        wire_s = sum(dur(wire, "triggerExecution")) / 1000.0
        m["sources.publish_s"] = sum(s for _, s, _ in published)
        m["sources.publish_events"] = sum(n for _, _, n in published)
        m["sources.read_rows"] = wire_rows
        m["sources.xrange_s"] = sum(s for t, s in self.xranges if p.t0 <= t <= p.t1)
        m["sources.read_rows_per_s"] = wire_rows / wire_s if wire_s else 0.0
        m["sources.latest_offset_ms"] = mean(dur(wire, "latestOffset"))
        m["sources.backlog_end"] = sum(r.backlog for r in p.ops)

        fan_out = [r.out for r in p.ops if r.name == FANOUT]
        counts, files = route_stats(fan_out[0]) if fan_out else ({}, 0)
        for route in ROUTES:
            m[f"plans.route_rows.{route}"] = counts.get(route, 0)
        m["plans.fanout_batch_ms"] = mean(dur(fan, "triggerExecution"))
        m["plans.sink_files"] = files
        return m


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, which hosts every
    executor in local mode."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def cpus() -> int:
    return len(os.sched_getaffinity(0))
