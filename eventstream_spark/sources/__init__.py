"""Source connectors: batch multi-format readers and streaming source
factories (reference A1 stream-source read, A21 range read, A22 length probe;
SURVEY §2A).

The re-exports below resolve on first use (PEP 562): Spark's Python
source runner unpickles ``redis_stream.RedisWireDataSource`` in a fresh
interpreter for every stream start, and importing this package must not
pull ``batch``, ``bucketed`` and ``stream`` (and the pyspark modules they
import) into that process.
"""

from __future__ import annotations

from importlib import import_module

# name -> submodule that defines it
_EXPORTS = {
    "read_any": "batch",
    "read_range": "batch",
    "read_tail": "batch",
    "stream_length": "batch",
    "read_bucketed": "bucketed",
    "write_bucketed": "bucketed",
    "file_stream": "stream",
    "events_file_stream": "stream",
    "kafka_stream": "stream",
    "rate_stream": "stream",
    "RedisStreamClient": "redis_stream",
    "register_rediswire": "redis_stream",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(f".{module}", __name__), name)
    globals()[name] = value
    return value
