"""Session factory: host-sized defaults and Python-worker imports."""

from __future__ import annotations

import os
import subprocess
import sys

from eventstream_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    local_sizing,
    shuffle_partitions_for,
)
from eventstream_spark.testing import run_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


def test_shuffle_partitions_default_to_one_per_task_slot():
    assert shuffle_partitions_for("local[4]") == 4
    assert shuffle_partitions_for("local[32]") == 32
    assert shuffle_partitions_for("local[2,3]") == 2
    assert shuffle_partitions_for("local[*]") == DEFAULT_SHUFFLE_PARTITIONS
    assert shuffle_partitions_for("spark://host:7077") == DEFAULT_SHUFFLE_PARTITIONS
    assert shuffle_partitions_for("yarn") == DEFAULT_SHUFFLE_PARTITIONS
    assert DEFAULT_SHUFFLE_PARTITIONS == 32


def _run_python(code, cwd):
    """Run ``code`` in a fresh interpreter from ``cwd`` with PYTHONPATH
    unset and a 2-thread, 1g local session; return its stdout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {REPO!r})\n" + code],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_session_shuffle_partitions_follow_the_local_threads(tmp_path):
    """With no shuffle_partitions argument the session shuffles into one
    partition per local thread, for both the plain and the AQE initial
    count; an explicit argument still wins. _run_python pins 2 threads."""
    code = (
        "from eventstream_spark.session import get_spark, session_sizing\n"
        "keys = ['spark.sql.shuffle.partitions',\n"
        "        'spark.sql.adaptive.coalescePartitions.initialPartitionNum']\n"
        "spark = get_spark()\n"
        "print(*[spark.conf.get(k) for k in keys], session_sizing(spark)['cores'])\n"
        "spark = get_spark(shuffle_partitions=5)\n"
        "print(*[spark.conf.get(k) for k in keys])\n"
    )
    lines = _run_python(code, tmp_path).splitlines()
    assert lines[-2:] == ["2 2 2", "5 5"]


def test_python_workers_import_the_package_from_any_directory(tmp_path, sf_dir):
    """q245 runs package code inside mapInPandas, so its Python workers
    import eventstream_spark. Run from outside the repository with
    PYTHONPATH unset, the session itself must put the package on the
    workers' path."""
    from eventstream_spark.operators import all_oracles

    code = (
        "from eventstream_spark.operators import all_queries\n"
        "from eventstream_spark.session import get_spark\n"
        "spark = get_spark(shuffle_partitions=4)\n"
        "q = all_queries()['q245_image_phash_neardup']\n"
        f"print(len(q(spark, {sf_dir!r}).toPandas()))\n"
    )
    out = _run_python(code, tmp_path)
    want = len(run_oracle(all_oracles()["q245_image_phash_neardup"], sf_dir))
    assert int(out.split()[-1]) == want
