"""Live Redis-Stream ingestion: a RESP client and a Spark data source.

The reference ingests by polling Redis Streams with consumer groups
(XREADGROUP loop, event_stream/utilities/communication.py:648-712; entries
are ``(millis-seq id, {field: str})`` pairs). This module closes that gap
for a live server with two layers:

1. ``RedisStreamClient`` — a minimal synchronous RESP2 client (sockets,
   stdlib only; RESP2 is Redis's publicly documented wire protocol)
   speaking exactly the stream verbs the reference uses: XADD, XLEN,
   XRANGE/XREVRANGE, XGROUP CREATE, XREADGROUP, XACK, AUTH, PING.

2. ``RedisWireDataSource`` (format ``"rediswire"``) — Spark 4 Python
   DataSource over one stream. Rows use the same wire schema as the file
   source (``sources/wire.py``): (message_id, ts from the ID's millis
   prefix, map<string,string> fields).

Offset design (the Spark-idiomatic part): the streaming reader does NOT use
XREADGROUP. Consumer-group delivery is ack-after-process at-least-once and
not replayable — a failed Spark task could never re-read its slice. Instead
offsets are stream IDs: ``latestOffset`` asks the server for its last
entry ID (XREVRANGE ... COUNT 1) and each micro-batch reads the replayable
half-open ID range ``(start, end]`` with exclusive-start XRANGE. Spark's
checkpoint replaces the consumer group (same trade as the file sources —
A3's group bookkeeping becomes checkpoint state, upgrading delivery to
exactly-once with an idempotent sink). The group verbs remain on the client
for reference-parity admin flows.

Scale notes: one Redis stream is one ordered shard (matching the
reference, whose reader is also one consumer per stream,
event_stream/streams/reader.py:151-233) — so for parallel ingest the
source accepts ``streams`` (comma-separated) and emits ONE InputPartition
PER STREAM per micro-batch, each with its own cursor in a composite
offset ``{"last_ids": {stream: id}}``. N streams → N-way parallel reads
inside a single checkpointed query; per-stream order is preserved,
cross-stream order (like any sharded bus) is not. ``count`` pages XRANGE
so a bursty stream never materializes in one reply.

Trigger.AvailableNow caveat: Spark's Python micro-batch stream reader does
not implement the AvailableNow contract (PythonMicroBatchStream implements
MicroBatchStream + AcceptsLatestSeenOffset only — verified against the
Spark 4.1 jar — so neither DataSourceStreamReader nor
SimpleDataSourceStreamReader can opt in from the Python side), and
``trigger(availableNow=True)`` falls back to SINGLE-BATCH execution — one
batch covering (checkpointed offset, latestOffset-at-start]. With a fresh
checkpoint that is a full drain (what q115/q115b rely on); when RESTARTING
from a checkpoint that has an uncommitted batch, the rerun finishes that
batch only and entries appended after the original offset capture need one
more run to land. For catch-up jobs that need TRUE drain-to-end semantics
across restarts, use :func:`drain_available_now`, which re-runs the query
to a zero-new-rows fixed point (restart semantics pinned in
tests/test_redis_source.py). Production continuous triggers are unaffected
(offsets advance every micro-batch).
"""

from __future__ import annotations

import socket
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .wire import WIRE_SCHEMA, _ts_from_message_id

_CRLF = b"\r\n"


def encode_command(*args: str | bytes | int) -> bytes:
    """RESP2 client command: array of bulk strings."""
    out = [b"*%d" % len(args), _CRLF]
    for a in args:
        if isinstance(a, int):
            a = str(a)
        if isinstance(a, str):
            a = a.encode("utf-8")
        out += [b"$%d" % len(a), _CRLF, a, _CRLF]
    return b"".join(out)


class RespError(Exception):
    """Server -ERR reply."""


class _RespReader:
    """RESP2 reply parser over a socket's buffered reader: ``readline`` for
    type lines, ``read(n + 2)`` for bulk payloads, so a reply is parsed
    without re-copying what is still buffered, however the bytes were split
    across ``recv`` calls. A connection closed mid-reply raises
    ``ConnectionError``."""

    def __init__(self, sock: socket.socket):
        self._file = sock.makefile("rb")

    def close(self) -> None:
        self._file.close()

    def read_reply(self) -> Any:
        line = self._file.readline()
        if not line.endswith(_CRLF):
            raise ConnectionError("redis connection closed")
        kind, rest = line[:1], line[1:-2]
        if kind == b"+":
            return rest.decode()
        if kind == b"-":
            raise RespError(rest.decode())
        if kind == b":":
            return int(rest)
        if kind == b"$":
            n = int(rest)
            if n == -1:
                return None
            data = self._file.read(n + 2)
            if len(data) < n + 2:
                raise ConnectionError("redis connection closed")
            return data[:-2].decode("utf-8", "replace")
        if kind == b"*":
            n = int(rest)
            if n == -1:
                return None
            return [self.read_reply() for _ in range(n)]
        raise RespError(f"unsupported RESP type byte {kind!r}")


class RedisStreamClient:
    """Synchronous RESP2 client for the stream verbs the reference uses."""

    def __init__(self, host: str, port: int, password: str | None = None, timeout: float = 10.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._reader = _RespReader(self._sock)
        if password is not None:
            self.execute("AUTH", password)

    def close(self) -> None:
        try:
            self._reader.close()
            self._sock.close()
        except OSError:
            pass

    def __enter__(self) -> "RedisStreamClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def execute(self, *args: str | bytes | int) -> Any:
        self._sock.sendall(encode_command(*args))
        return self._reader.read_reply()

    def pipeline(self, commands: list[tuple]) -> list[Any]:
        """RESP pipelining: ship N commands in one write, read N replies —
        turns N round-trips into one (the standard bulk-XADD feed path).

        All N replies are consumed even when some are ``-ERR`` — raising on
        the first error would leave the remaining replies unread and
        desynchronize the connection for the next caller. The first error
        is raised AFTER the buffer is drained, so the connection stays
        usable."""
        self._sock.sendall(b"".join(encode_command(*cmd) for cmd in commands))
        replies: list[Any] = []
        first_err: RespError | None = None
        for _ in commands:
            try:
                replies.append(self._reader.read_reply())
            except RespError as e:
                replies.append(e)
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
        return replies

    def xadd_many(
        self, stream: str, batches: list[dict[str, str]], chunk: int = 1000
    ) -> list[str]:
        """Pipelined XADD of many entries; returns their IDs in order."""
        ids: list[str] = []
        for i in range(0, len(batches), chunk):
            cmds = []
            for fields in batches[i : i + chunk]:
                flat: list[str] = []
                for k, v in fields.items():
                    flat += [str(k), str(v)]
                cmds.append(("XADD", stream, "*", *flat))
            ids.extend(self.pipeline(cmds))
        return ids

    # -- stream verbs (reference communication.py surface) ------------------

    def ping(self) -> str:
        return self.execute("PING")

    def xadd(self, stream: str, fields: dict[str, str], entry_id: str = "*") -> str:
        flat: list[str] = []
        for k, v in fields.items():
            flat += [str(k), str(v)]
        return self.execute("XADD", stream, entry_id, *flat)

    def xlen(self, stream: str) -> int:
        return self.execute("XLEN", stream)

    @staticmethod
    def _entries(reply) -> list[tuple[str, dict[str, str]]]:
        out = []
        for entry in reply or []:
            entry_id, flat = entry
            fields = {flat[i]: flat[i + 1] for i in range(0, len(flat), 2)}
            out.append((entry_id, fields))
        return out

    def xrange(
        self, stream: str, start: str = "-", end: str = "+", count: int | None = None
    ) -> list[tuple[str, dict[str, str]]]:
        args: list[str | int] = ["XRANGE", stream, start, end]
        if count is not None:
            args += ["COUNT", count]
        return self._entries(self.execute(*args))

    def xrevrange(
        self, stream: str, end: str = "+", start: str = "-", count: int | None = None
    ) -> list[tuple[str, dict[str, str]]]:
        args: list[str | int] = ["XREVRANGE", stream, end, start]
        if count is not None:
            args += ["COUNT", count]
        return self._entries(self.execute(*args))

    def last_id(self, stream: str) -> str | None:
        newest = self.xrevrange(stream, count=1)
        return newest[0][0] if newest else None

    def xgroup_create(
        self, stream: str, group: str, start_id: str = "$", mkstream: bool = True
    ) -> str:
        args: list[str] = ["XGROUP", "CREATE", stream, group, start_id]
        if mkstream:
            args.append("MKSTREAM")
        return self.execute(*args)

    def xreadgroup(
        self, group: str, consumer: str, stream: str, count: int = 100
    ) -> list[tuple[str, dict[str, str]]]:
        reply = self.execute(
            "XREADGROUP", "GROUP", group, consumer, "COUNT", count, "STREAMS", stream, ">"
        )
        if not reply:
            return []
        # reply: [[stream_name, [entries...]]]
        return self._entries(reply[0][1])

    def xack(self, stream: str, group: str, *ids: str) -> int:
        return self.execute("XACK", stream, group, *ids)


# --- Spark data source -----------------------------------------------------

_PAGE = 1000


def _arrow_batch(entries):
    """One XRANGE page → one Arrow RecordBatch (message_id, ts, fields).
    Yielding RecordBatches instead of per-row tuples moves the
    Python-source boundary from ~0.6 ms/row to one columnar hand-off per
    page (~10× on a 10k-row read, measured)."""
    import pyarrow as pa

    ids = [e[0] for e in entries]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids, type=pa.string()),
            pa.array([_ts_from_message_id(i) for i in ids], type=pa.timestamp("us")),
            pa.array(
                [list(e[1].items()) for e in entries],
                type=pa.map_(pa.string(), pa.string()),
            ),
        ],
        names=["message_id", "ts", "fields"],
    )


def _wire_rows(
    host: str, port: int, stream: str, password: str | None,
    start_exclusive: str | None, end_inclusive: str | None, page: int = _PAGE
) -> Iterator:
    """Yield Arrow RecordBatches of wire rows for the replayable half-open
    ID range (start_exclusive, end_inclusive]; None bounds mean stream
    start/end."""
    if end_inclusive is None:
        return
    with RedisStreamClient(host, port, password) as client:
        cursor = "-" if start_exclusive is None else f"({start_exclusive}"
        while True:
            entries = client.xrange(stream, cursor, end_inclusive, count=page)
            if entries:
                yield _arrow_batch(entries)
            if len(entries) < page:
                return
            cursor = f"({entries[-1][0]}"


class _RangePartition(InputPartition):
    def __init__(self, host, port, stream, password, start_exclusive, end_inclusive):
        self.host = host
        self.port = int(port)
        self.stream = stream
        self.password = password
        self.start_exclusive = start_exclusive
        self.end_inclusive = end_inclusive


def _conn_options(options) -> tuple[str, int, list[str], str | None]:
    """Connection options. ``streams`` (comma-separated, the sharded form)
    wins over ``stream`` (single, back-compat); each named stream becomes
    its own InputPartition per (micro-)batch."""
    host = options.get("host", "127.0.0.1")
    port = int(options.get("port", 6379))
    raw = options.get("streams") or options.get("stream")
    if not raw:
        raise ValueError("rediswire requires a 'stream' or 'streams' option")
    streams = [s.strip() for s in raw.split(",") if s.strip()]
    if not streams:
        raise ValueError("rediswire 'streams' option parsed to zero names")
    return host, port, streams, options.get("password")


class RedisWireBatchReader(DataSourceReader):
    def __init__(self, options):
        self._conn = _conn_options(options)

    def partitions(self):
        host, port, streams, password = self._conn
        with RedisStreamClient(host, port, password) as client:
            ends = {s: client.last_id(s) for s in streams}
        return [
            _RangePartition(host, port, s, password, None, ends[s])
            for s in streams
        ]

    def read(self, partition: _RangePartition):
        yield from _wire_rows(
            partition.host, partition.port, partition.stream, partition.password,
            partition.start_exclusive, partition.end_inclusive,
        )


class RedisWireStreamReader(DataSourceStreamReader):
    """Offsets are per-stream IDs ``{"last_ids": {stream: id}}``; each
    micro-batch reads the replayable range (last_id, server_last_id] per
    stream via exclusive-start XRANGE, ONE InputPartition PER STREAM —
    Spark's checkpoint replaces the consumer group (see module docstring).

    N sharded streams parallelize ingest N-ways inside one query while
    each shard keeps its own cursor; adding a stream to the option list
    picks it up from "0-0" on the next micro-batch (its key is absent from
    the old checkpointed offset)."""

    def __init__(self, options):
        self._conn = _conn_options(options)

    @staticmethod
    def _ids(offset) -> dict[str, str]:
        """Normalize an offset dict: new composite form, or a legacy
        single-stream checkpoint ``{"last_id": id}`` (pre-sharding)."""
        if "last_ids" in offset:
            return offset["last_ids"]
        return {"__legacy__": offset.get("last_id", "0-0")}

    def _start_id(self, ids: dict[str, str], stream: str) -> str:
        if stream in ids:
            return ids[stream]
        if "__legacy__" in ids and len(self._conn[2]) == 1:
            return ids["__legacy__"]
        return "0-0"

    def initialOffset(self):
        return {"last_ids": {s: "0-0" for s in self._conn[2]}}

    def latestOffset(self):
        host, port, streams, password = self._conn
        with RedisStreamClient(host, port, password) as client:
            ends = {s: (client.last_id(s) or "0-0") for s in streams}
        return {"last_ids": ends}

    def partitions(self, start, end):
        host, port, streams, password = self._conn
        start_ids, end_ids = self._ids(start), self._ids(end)
        parts = [
            _RangePartition(
                host, port, s, password,
                self._start_id(start_ids, s), end_ids.get(s, "0-0"),
            )
            for s in streams
            if end_ids.get(s, "0-0") != self._start_id(start_ids, s)
        ]
        if not parts:  # Spark requires >=1 partition; emit a no-op range
            parts = [_RangePartition(host, port, streams[0], password, None, None)]
        return parts

    def read(self, partition: _RangePartition):
        yield from _wire_rows(
            partition.host, partition.port, partition.stream, partition.password,
            partition.start_exclusive, partition.end_inclusive,
        )

    def commit(self, end):
        pass


class RedisWireDataSource(DataSource):
    """``spark.dataSource.register(RedisWireDataSource)`` then
    ``spark.readStream.format("rediswire").option("host", h)
    .option("port", p).option("stream", name).load()`` — or
    ``.option("streams", "shard0,shard1,...")`` for N-way parallel
    sharded ingest (one InputPartition per stream per micro-batch)."""

    @classmethod
    def name(cls):
        return "rediswire"

    def schema(self):
        return WIRE_SCHEMA

    def reader(self, schema):
        return RedisWireBatchReader(self.options)

    def streamReader(self, schema):
        return RedisWireStreamReader(self.options)


def register_rediswire(spark) -> None:
    spark.dataSource.register(RedisWireDataSource)


def drain_available_now(start_query, await_secs: float = 300.0, max_runs: int = 1000) -> int:
    """Run an availableNow (single-batch fallback) query to a TRUE
    drain-to-end fixed point — the catch-up semantics availableNow promises
    but the Python stream reader cannot deliver across restarts (module
    docstring).

    ``start_query`` is a zero-arg callable that STARTS the query against
    the same checkpoint and returns the StreamingQuery (re-invoking it must
    be safe — the checkpoint carries the cursor). The loop re-runs until a
    run ingests ZERO rows; the first run is never trusted as the fixed
    point because a restart may merely be finishing a recovered uncommitted
    batch (whose offsets were captured before the entries being drained
    were appended) — a second run is always taken to confirm, which is also
    what picks up anything appended DURING a run. Returns the summed
    numInputRows across runs: a drain-progress indicator, not an
    exactly-once count (a recovered batch's rows count again here; the
    SINK stays exactly-once via its batch-id log).

    Cost model: each extra run is one empty micro-batch plan (two XREVRANGE
    round-trips per stream) — negligible next to the drain itself; the
    common already-drained case costs exactly two empty runs."""
    total = 0
    runs = 0
    while True:
        runs += 1
        if runs > max_runs:
            raise RuntimeError(
                f"drain_available_now: no fixed point after {max_runs} runs "
                "(is a producer still appending faster than the drain?)"
            )
        q = start_query()
        q.awaitTermination(await_secs)
        if q.isActive:
            q.stop()
            raise TimeoutError(
                f"drain_available_now: run {runs} still active after "
                f"{await_secs}s — raise await_secs for large backlogs"
            )
        n = sum(int(p.numInputRows) for p in (q.recentProgress or []))
        total += n
        if n == 0 and runs > 1:
            return total
