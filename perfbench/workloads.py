"""The benchmark's workloads: a fixed list of public operations each.

An operation runs in two phases. ``run(mark)`` calls the engine and calls
``mark()`` when the plan is built (the query function has returned), then
fetches the result; ``check(output)`` compares that output with answers
computed by duckdb, apart from the engine, before any timing starts.
"""

from __future__ import annotations

import itertools
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

from .checks import route_problems, wire_problems

MIN_PASSES = 2
FANOUT = "route_fanout"
WIRE_QUERY = "q115_stream_redis"

# Routes of the fan-out bus: route name -> event names it selects.
ROUTES = {
    "clicks": ("click",),
    "purchases": ("purchase",),
    "problems": ("error", "signup"),
}


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float  # input size, as a share of the fixture layout's sf1
    ops: tuple[str, ...]
    pass_s: float  # nominal pass time on the reference host, sizes the run
    warm_passes: int  # untimed passes until a pass is no slower than the next
    chunks: int = 0  # landing chunks of the route fan-out

    def timed_passes(self, seconds: float) -> int:
        """Whole timed passes for a run of ``seconds``: fixed by the
        workload and the run length, never by how fast this run goes."""
        return max(MIN_PASSES, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "corpus",
            0.01,
            ("q41_ngram_jaccard", "q224_rho_select"),
            pass_s=4.8,
            # passes keep speeding up for three passes after start (JIT,
            # codegen, Python UDF workers): 6.9, 5.6, 4.8, then 4.1-4.8 s
            warm_passes=3,
        ),
        Workload(
            "event_bus",
            0.02,
            (WIRE_QUERY, FANOUT),
            pass_s=10.8,
            warm_passes=1,
            chunks=2,
        ),
    )
}


@dataclass
class Op:
    name: str
    run: Callable[[Callable[[], None]], Any]
    check: Callable[[Any], list[str]]


def oracle_answers(workload: Workload, data_dir: str) -> dict[str, Any]:
    """Expected outputs of every operation, computed by duckdb."""
    from eventstream_spark.operators import all_oracles
    from eventstream_spark.testing import duckdb_connection, run_oracle

    oracles = all_oracles()
    want: dict[str, Any] = {}
    for name in workload.ops:
        if name != FANOUT:
            want[name] = run_oracle(oracles[name], data_dir)
    con = duckdb_connection(data_dir)
    try:
        if FANOUT in workload.ops:
            want[FANOUT] = {
                route: [
                    r[0]
                    for r in con.execute(
                        "SELECT CAST(event_id AS VARCHAR) FROM events"
                        " WHERE event_type IN (SELECT unnest(?))",
                        [list(events)],
                    ).fetchall()
                ]
                for route, events in ROUTES.items()
            }
        if WIRE_QUERY in workload.ops:
            want["published"] = con.execute("SELECT count(*) FROM events").fetchone()[0]
    finally:
        con.close()
    return want


def write_chunks(data_dir: str, out_dir: str, n: int, seed: int) -> list[str]:
    """Split the events table into ``n`` equal landing chunks; the seed
    decides which events land in which chunk."""
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    perm = np.random.default_rng(seed).permutation(events.num_rows)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, idx in enumerate(np.array_split(perm, n)):
        path = os.path.join(out_dir, f"chunk{i}.parquet")
        pq.write_table(events.take(np.sort(idx)), path)
        paths.append(path)
    return paths


def _query_op(spark, name: str, data_dir: str, want) -> Op:
    from eventstream_spark.operators import all_queries
    from eventstream_spark.testing import compare

    fn = all_queries()[name]

    def run(mark):
        df = fn(spark, data_dir)
        mark()
        return df.toPandas()

    return Op(name, run, lambda got: compare(got, want))


def _wire_op(spark, data_dir: str, want, published: int) -> Op:
    from eventstream_spark.operators import all_queries, streaming_queries
    from eventstream_spark.testing import compare

    fn = all_queries()[WIRE_QUERY]

    def run(mark):
        df = fn(spark, data_dir)  # publishes, then drains the stream
        read = streaming_queries.LAST_RUN_INFO.get("input_rows", 0)
        mark()
        return df.toPandas(), read

    def check(out):
        got, read = out
        return compare(got, want) + wire_problems(published, read)

    return Op(WIRE_QUERY, run, check)


def _fanout_op(spark, work_dir: str, chunks: list[str], want: dict[str, list[str]]) -> Op:
    """plans.routes.start_streaming over a landing dir fed chunk by chunk,
    closed loop: the next chunk lands only after the previous drain has
    committed. Every pass starts from an empty landing dir and checkpoint."""
    from eventstream_spark.catalog import EVENTS_RAW_SCHEMA
    from eventstream_spark.plans import EngineConfig, start_streaming
    from eventstream_spark.plans.config import BusConfig, RouteConfig, SinkConfig

    passes = itertools.count()

    def run(mark):
        root = os.path.join(work_dir, f"fanout{next(passes)}")
        landing = os.path.join(root, "landing")
        os.makedirs(landing)
        sinks = {route: os.path.join(root, f"sink_{route}") for route in ROUTES}
        routes = tuple(
            RouteConfig(name=route, event=events[0], aliases=events[1:],
                        sink=SinkConfig("parquet", sinks[route]))
            for route, events in ROUTES.items()
        )
        cfg = EngineConfig("perfbench", "i-0", (BusConfig("events", source_path=landing, routes=routes),))
        mark()
        for i, chunk in enumerate(chunks):
            shutil.copyfile(chunk, os.path.join(landing, f"part-{i}.parquet"))
            q = start_streaming(spark, cfg, cfg.busses[0], landing, EVENTS_RAW_SCHEMA,
                                os.path.join(root, "ckpt"))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"fan-out drain failed: {q.exception()}")
        return sinks

    def check(sinks):
        got = {route: sink_ids(path) for route, path in sinks.items()}
        return route_problems(got, want)

    return Op(FANOUT, run, check)


def sink_ids(path: str) -> list[str]:
    """Message ids in one route's parquet sink, read by duckdb."""
    if not os.path.isdir(path) or not any(f.endswith(".parquet") for f in os.listdir(path)):
        return []
    return [r[0] for r in duckdb.sql(
        f"SELECT message_id FROM read_parquet('{path}/*.parquet')").fetchall()]


def build_ops(workload: Workload, spark, data_dir: str, work_dir: str,
              want: dict[str, Any], chunks: list[str]) -> list[Op]:
    ops = []
    for name in workload.ops:
        if name == FANOUT:
            ops.append(_fanout_op(spark, work_dir, chunks, want[FANOUT]))
        elif name == WIRE_QUERY:
            ops.append(_wire_op(spark, data_dir, want[name], want["published"]))
        else:
            ops.append(_query_op(spark, name, data_dir, want[name]))
    return ops


def route_stats(sinks: dict[str, str]) -> tuple[dict[str, int], int]:
    """Rows per route and parquet files written, for one fan-out output."""
    rows = {route: len(sink_ids(path)) for route, path in sinks.items()}
    files = sum(
        sum(f.endswith(".parquet") for f in os.listdir(path))
        for path in sinks.values() if os.path.isdir(path)
    )
    return rows, files


def output_rows(name: str, out) -> int:
    """Rows an operation delivered: result rows, or rows written to sinks."""
    if name == FANOUT:
        return sum(route_stats(out)[0].values())
    if name == WIRE_QUERY:
        return len(out[0])
    return len(out)
