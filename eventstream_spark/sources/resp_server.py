"""In-process RESP2 server speaking just enough Redis-Streams.

Implements the verbs the client/source use — PING, AUTH, XADD, XLEN,
XRANGE/XREVRANGE (with exclusive '(' bounds and COUNT), XGROUP CREATE,
XREADGROUP, XACK — over real sockets, so `redis_stream.py` is exercised
through its actual wire path without a Redis binary: the test double for
the ingestion suite, and the in-memory broker behind the oracle-gated
live-ingestion query (q115). Single lock-guarded state; threads per
connection.

Storage: each stream is three parallel append-only lists — parsed
``(ms, seq)`` keys, ID strings, and each entry's RESP reply bytes, encoded
once at XADD. XADD keeps Redis's ordering rule (an explicit ID at or below
the stream's top item, or ``0-0``, is refused with Redis's error reply), so
the key list is sorted by construction: XRANGE, XREVRANGE and XREADGROUP
bisect it and answer with a join of the pre-encoded slice, O(log n + page)
per call, and the last-ID probe every ``latestOffset`` makes
(XREVRANGE ... COUNT 1) is O(1).

Framing: each connection parses commands out of one ``bytearray`` by
offset, and answers every complete command a ``recv`` delivered with one
``sendall`` — a pipelined 1,000-XADD batch costs a few syscalls, not 1,000.
"""

from __future__ import annotations

import socket
import threading
import time
from bisect import bisect_left, bisect_right

_TOP = 1 << 62  # above any real ms or seq


def _parse_id(entry_id: str, default_seq: int) -> tuple[int, int]:
    if entry_id == "-":
        return (0, 0)
    if entry_id == "+":
        return (_TOP, _TOP)
    if "-" in entry_id:
        ms, seq = entry_id.split("-", 1)
        return (int(ms), int(seq))
    return (int(entry_id), default_seq)


def _bulk(s: str) -> bytes:
    b = s.encode()
    return b"$%d\r\n%s\r\n" % (len(b), b)


def _parse_command(buf: bytearray, pos: int):
    """One command (RESP array of bulk strings) from ``buf`` at ``pos``:
    ``(args, next_pos)``, or None while it has not fully arrived. A line
    that is not an array, or an empty array, parses as ``args == []``."""
    end = buf.find(b"\r\n", pos)
    if end < 0:
        return None
    if end == pos or buf[pos] != 0x2A:  # not '*'
        return [], end + 2
    n = int(buf[pos + 1 : end])
    pos = end + 2
    args = []
    for _ in range(n):
        end = buf.find(b"\r\n", pos)
        if end < 0:
            return None
        start = end + 2
        stop = start + int(buf[pos + 1 : end])
        if len(buf) < stop + 2:
            return None
        args.append(buf[start:stop].decode())
        pos = stop + 2
    return args, pos


class _Stream:
    """One stream's entries in ID order: parsed keys, ID strings, and each
    entry's RESP encoding (``[id, [field, value, ...]]``)."""

    __slots__ = ("keys", "ids", "wire")

    def __init__(self):
        self.keys: list[tuple[int, int]] = []
        self.ids: list[str] = []
        self.wire: list[bytes] = []

    def top(self) -> tuple[int, int]:
        return self.keys[-1] if self.keys else (0, 0)

    def append(self, key: tuple[int, int], flat: list[str]) -> str:
        entry_id = f"{key[0]}-{key[1]}"
        self.keys.append(key)
        self.ids.append(entry_id)
        self.wire.append(
            b"*2\r\n%s*%d\r\n%s"
            % (_bulk(entry_id), len(flat), b"".join(_bulk(x) for x in flat))
        )
        return entry_id

    def reply(self, lo: int, hi: int, rev: bool = False) -> "RespRaw":
        """Entries [lo, hi) as one RESP array, newest first if ``rev``."""
        part = self.wire[lo:hi]
        if rev:
            part.reverse()
        return RespRaw(b"*%d\r\n" % len(part) + b"".join(part))


class FakeRedisServer:
    def __init__(self, password: str | None = None):
        self.password = password
        self._streams: dict[str, _Stream] = {}
        self._groups: dict[tuple[str, str], dict] = {}  # (stream, group) -> state
        self._lock = threading.Lock()
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(16)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    # -- lifecycle ----------------------------------------------------------

    def close(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass

    def __enter__(self) -> "FakeRedisServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    # -- RESP ---------------------------------------------------------------

    @staticmethod
    def _encode(value) -> bytes:
        if value is None:
            return b"$-1\r\n"
        if isinstance(value, RespRaw):
            return value
        if isinstance(value, RespStatus):
            return b"+" + value.text.encode() + b"\r\n"
        if isinstance(value, RespFail):
            return b"-" + value.text.encode() + b"\r\n"
        if isinstance(value, int):
            return b":%d\r\n" % value
        if isinstance(value, str):
            value = value.encode()
        if isinstance(value, bytes):
            return b"$%d\r\n%s\r\n" % (len(value), value)
        if isinstance(value, (list, tuple)):
            return b"*%d\r\n" % len(value) + b"".join(
                FakeRedisServer._encode(v) for v in value
            )
        raise TypeError(f"cannot encode {value!r}")

    def _handle(self, conn: socket.socket) -> None:
        # Replies go out as soon as they are written, as Redis does: with
        # Nagle on, the short tail reply of a pipeline waits for the peer's
        # delayed ACK (about 40 ms) behind the reply before it.
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        buf = bytearray()
        authed = self.password is None
        try:
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    return
                buf += chunk
                pos = 0
                replies = []
                while (parsed := _parse_command(buf, pos)) is not None:
                    args, pos = parsed
                    if not args:
                        reply = RespFail("ERR protocol")
                    elif (cmd := args[0].upper()) == "AUTH":
                        authed = self.password is None or args[1:] == [self.password]
                        reply = (
                            RespStatus("OK") if authed else RespFail("WRONGPASS invalid password")
                        )
                    elif not authed:
                        reply = RespFail("NOAUTH Authentication required.")
                    else:
                        try:
                            reply = self._dispatch(cmd, args[1:])
                        except (ValueError, IndexError):
                            reply = RespFail(f"ERR syntax error in '{cmd}'")
                    replies.append(self._encode(reply))
                del buf[:pos]
                if replies:
                    conn.sendall(b"".join(replies))
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    # -- commands -----------------------------------------------------------

    def _dispatch(self, cmd: str, a: list[str]):
        with self._lock:
            if cmd == "PING":
                return RespStatus("PONG")
            if cmd == "XADD":
                s = self._streams.setdefault(a[0], _Stream())
                top = s.top()
                if a[1] == "*":
                    ms = int(time.time() * 1000)
                    key = (ms, 0) if ms > top[0] else (top[0], top[1] + 1)
                else:
                    key = _parse_id(a[1], 0)
                    if key == (0, 0):
                        return RespFail("ERR The ID specified in XADD must be greater than 0-0")
                    if key <= top:
                        return RespFail(
                            "ERR The ID specified in XADD is equal or smaller than "
                            "the target stream top item"
                        )
                return s.append(key, a[2:])
            if cmd == "XLEN":
                s = self._streams.get(a[0])
                return len(s.keys) if s else 0
            if cmd in ("XRANGE", "XREVRANGE"):
                rev = cmd == "XREVRANGE"
                lo_s, hi_s = (a[2], a[1]) if rev else (a[1], a[2])
                count = int(a[4]) if len(a) >= 5 and a[3].upper() == "COUNT" else None
                s = self._streams.get(a[0])
                if s is None:
                    return []
                lo_key = _parse_id(lo_s.lstrip("("), 0)
                hi_key = _parse_id(hi_s.lstrip("("), _TOP)
                lo = (bisect_right if lo_s.startswith("(") else bisect_left)(s.keys, lo_key)
                hi = (bisect_left if hi_s.startswith("(") else bisect_right)(s.keys, hi_key)
                if count is not None and hi - lo > count:
                    lo, hi = (hi - count, hi) if rev else (lo, lo + count)
                return s.reply(lo, max(lo, hi), rev)
            if cmd == "XGROUP" and a[0].upper() == "CREATE":
                stream, group, start_id = a[1], a[2], a[3]
                if stream not in self._streams and "MKSTREAM" in (x.upper() for x in a):
                    self._streams[stream] = _Stream()
                s = self._streams.get(stream)
                if start_id == "$":
                    cursor = s.top() if s else (0, 0)
                else:
                    cursor = _parse_id(start_id, 0)
                self._groups[(stream, group)] = {"cursor": cursor, "pending": {}}
                return RespStatus("OK")
            if cmd == "XREADGROUP":
                # GROUP g consumer [COUNT n] STREAMS stream >
                group, consumer = a[1], a[2]
                count = 10**9
                rest = a[3:]
                if rest and rest[0].upper() == "COUNT":
                    count = int(rest[1])
                    rest = rest[2:]
                stream = rest[1]
                state = self._groups.get((stream, group))
                if state is None:
                    return RespFail("NOGROUP no such group")
                s = self._streams.get(stream)
                if s is None:
                    return None
                lo = bisect_right(s.keys, state["cursor"])
                hi = min(lo + count, len(s.keys))
                if lo >= hi:
                    return None
                state["cursor"] = s.keys[hi - 1]
                for eid in s.ids[lo:hi]:
                    state["pending"][eid] = consumer
                return RespRaw(b"*1\r\n*2\r\n" + _bulk(stream) + s.reply(lo, hi))
            if cmd == "XACK":
                stream, group, ids = a[0], a[1], a[2:]
                state = self._groups.get((stream, group))
                if state is None:
                    return 0
                return sum(1 for eid in ids if state["pending"].pop(eid, None) is not None)
            return RespFail(f"ERR unknown command '{cmd}'")


class RespRaw(bytes):
    """A reply that is already RESP-encoded; sent as is."""


class RespStatus:
    def __init__(self, text: str):
        self.text = text


class RespFail:
    def __init__(self, text: str):
        self.text = text
