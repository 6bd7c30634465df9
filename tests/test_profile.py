"""profile.run_query, the run record bench.py and the scale scripts share."""

from __future__ import annotations

import pytest

from eventstream_spark.operators import all_oracles, all_queries
from eventstream_spark.profile import run_query
from eventstream_spark.testing import run_oracle

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize(
    "name, drain",
    [
        ("q01_scan_count", "pandas"),
        ("q03_filter_project", "pandas"),
        ("q03_filter_project", "noop"),
        ("q91_stream_dedup", "pandas"),
    ],
)
def test_record_matches_oracle_rows_and_splits_wall(spark, sf_dir, name, drain):
    rec = run_query(spark, QUERIES[name], sf_dir, drain=drain)
    assert rec["exec_jobs"] > 0
    assert rec["result_rows"] == len(run_oracle(ORACLES[name], sf_dir))
    assert rec["build_s"] + rec["exec_s"] <= rec["wall_s"]


def test_streaming_drain_jobs_are_counted(spark, sf_dir):
    """q91 drains its stream on the streaming query's own thread while the
    builder waits, so a job-group count reads 0 build jobs; the job counter
    sees the micro-batches."""
    assert run_query(spark, QUERIES["q91_stream_dedup"], sf_dir)["build_jobs"] > 0


def test_shuffle_bytes_are_summed_over_the_run(spark, sf_dir):
    rec = run_query(spark, QUERIES["q12_rollup"], sf_dir)
    assert rec["shuffle_write_bytes"] > 0
    assert rec["peak_memory_bytes"] > 0
    assert rec["spill_bytes"] == 0


def test_runs_leave_no_tables_behind(spark, sf_dir):
    before = len(spark.catalog.listTables())
    for _ in range(3):
        run_query(spark, QUERIES["q91_stream_dedup"], sf_dir)
    assert len(spark.catalog.listTables()) == before


def test_unknown_drain_is_rejected(spark, sf_dir):
    with pytest.raises(ValueError, match="drain"):
        run_query(spark, QUERIES["q01_scan_count"], sf_dir, drain="collect")
