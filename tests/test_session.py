"""Host-sized session defaults (Spark-free)."""

from __future__ import annotations

from eventstream_spark.session import local_sizing

GiB = 2**30


def test_local_sizing_uses_every_usable_cpu():
    assert local_sizing(4, 15 * GiB)[0] == 4
    assert local_sizing(32, 128 * GiB)[0] == 32
    assert local_sizing(0, 15 * GiB)[0] == 1


def test_local_sizing_heap_is_half_of_host_memory_capped_at_16g():
    assert local_sizing(4, 15 * GiB)[1] == "7680m"
    assert local_sizing(32, 32 * GiB)[1] == "16384m"
    assert local_sizing(32, 256 * GiB)[1] == "16384m"
    assert local_sizing(1, 1 * GiB)[1] == "1024m"
