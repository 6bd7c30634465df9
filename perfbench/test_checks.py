"""The benchmark's output checks fail on perturbed outputs.

    python3 -m pytest perfbench -q -p no:cacheprovider

Runs without a Spark session: the checks compare plain pandas frames and id
lists, so each perturbation is applied to a known-good output directly.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from eventstream_spark.testing import compare  # noqa: E402

from perfbench.checks import route_problems, wire_problems  # noqa: E402
from perfbench.trace import METRICS  # noqa: E402
from perfbench.workloads import FANOUT, WORKLOADS, write_chunks  # noqa: E402


@pytest.fixture
def result():
    return pd.DataFrame({"event_type": ["click", "view", "error"], "cnt": [3, 5, 7],
                         "sum_value": [1.25, 2.5, 9.75]})


def test_query_check_passes_on_equal_output(result):
    assert compare(result.sample(frac=1.0, random_state=1), result) == []


def test_query_check_fails_on_dropped_row(result):
    assert compare(result.iloc[:-1], result)


def test_query_check_fails_on_changed_value(result):
    bad = result.copy()
    bad.loc[1, "sum_value"] = 2.51
    assert compare(bad, result)


WANT_ROUTES = {"clicks": ["1", "4"], "problems": ["2", "3", "5"]}


def test_route_check_passes_on_exact_sinks():
    assert route_problems({"clicks": ["4", "1"], "problems": ["5", "2", "3"]}, WANT_ROUTES) == []


def test_route_check_fails_on_duplicated_event():
    problems = route_problems({"clicks": ["1", "4", "4"], "problems": ["2", "3", "5"]}, WANT_ROUTES)
    assert any("twice" in p for p in problems)


def test_route_check_fails_on_missing_event():
    problems = route_problems({"clicks": ["1", "4"], "problems": ["2", "3"]}, WANT_ROUTES)
    assert any("missing" in p for p in problems)


def test_route_check_fails_on_swapped_event():
    # counts still match, but an event landed in the wrong route
    problems = route_problems({"clicks": ["1", "2"], "problems": ["4", "3", "5"]}, WANT_ROUTES)
    assert any("not routed here" in p for p in problems)


def test_wire_check():
    assert wire_problems(published=1000, read_rows=1000) == []
    assert wire_problems(published=1000, read_rows=999)  # one entry short
    assert wire_problems(published=1000, read_rows=1001)  # one entry read twice


def test_chunks_depend_on_seed_only(tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(pa.table({"event_id": np.arange(10)}), data / "events.parquet")

    def ids(seed, out):
        paths = write_chunks(str(data), str(tmp_path / out), 3, seed)
        return [pq.read_table(p)["event_id"].to_pylist() for p in paths]

    a, b, c = ids(1, "a"), ids(1, "b"), ids(2, "c")
    assert a == b and a != c
    assert sorted(sum(a, [])) == list(range(10))
    assert [len(x) for x in a] == [4, 3, 3]


def test_workload_operations_have_oracles():
    from eventstream_spark.operators import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    for wl in WORKLOADS.values():
        for name in wl.ops:
            if name != FANOUT:
                assert name in queries and name in oracles, name


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == METRICS


def _ops(fail: str | None):
    from perfbench.workloads import Op

    def run(name):
        def call(mark):
            mark()
            if name == fail:
                raise RuntimeError(f"{name} broke")
            return [1, 2]
        return call

    return [Op(name, run(name), lambda out: []) for name in ("a", "b")]


def test_run_is_correct_when_no_operation_fails():
    from perfbench.run import run_pass, verdict

    ops = _ops(fail=None)
    assert verdict([run_pass(ops, None, {})], ops) == {"correct": True, "attempted": 2, "failed": 0}


def test_raised_operation_makes_run_not_correct():
    from perfbench.run import run_pass, verdict

    ops = _ops(fail="b")
    passes = [run_pass(ops, None, {}) for _ in range(2)]
    assert verdict(passes, ops) == {"correct": False, "attempted": 4, "failed": 2}
