"""Cross-engine scale trendline: the SAME query timed on BOTH engines at
sf0.1 (1x) and at every requested scale point of the smoke-built N-times
datasets — the measured answer to "where does the distributed plan
overtake the embedded one?", as a CURVE rather than two endpoints
(round-7 VERDICT ask 1).

BASELINE.md's headline comparison runs at sf0.1, where 60 k–600 k-row
tables sit far below the crossover: duckdb's per-query floor is ~10 ms
against Spark's ~200 ms scheduler/py4j round-trip, so ratio-at-sf0.1
measures harness floors, not plans. This script measures the RATIO TREND:
for each query and each scale point N, (duck_Nx / duck_1x) vs
(spark_Nx / spark_1x) — an engine whose time grows ~N-times pays the data
in full; one whose time grows far sublinearly has idle capacity absorbing
it, and the crossover follows from the growth rates.

The subset spans every plan family INCLUDING Spark's own worst self-costs
(the round-7 ask): the iterative/exchange queries q133 (triangle count)
and q139 (PageRank) — run against the time-shifted GRAPH replica set so
edges grow linearly, exactly as in scale_smoke — plus q159 (z-order, two
range exchanges) and q210 (quantile sketch + bucketed rank-pick).

Method notes:
- Both engines run the identical SQL/plan the differential gate verifies
  (duck: the oracle string; Spark: the registered DataFrame query).
- Spark drains through eventstream_spark.profile.run_query's noop sink
  (the smoke harness's protocol); duckdb through fetchall() — both
  measure computation, not result transfer (outputs are small aggregates
  for every query here).
- duckdb reads the scaled dirs via read_parquet glob (multi-file layout).
- One warm rep each at Nx (minutes-long runs; the 1x side uses min-of-2
  like the bench convention).
- Missing scaled datasets are built on demand via scale_smoke's builders.

Usage:
    python scripts/scale_bench.py [N...] [name_substr...]  # default 10 100
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from eventstream_spark.catalog import TABLES
from eventstream_spark.operators import all_oracles, all_queries

BASE = "/root/testdata/sf0.1"

# Family-spanning subset with nontrivial scaled work and aggregate-sized
# outputs: TPC-H agg/join shapes, text/dedup/LM/classifier pipeline
# stages, windows, packing (the known BM25 spill case stays out — its
# 100x story is SCALING.md's), plus the iterative/exchange family.
SUBSET = [
    "q10_pricing_summary",
    "q05_join_rollup",
    "q11_count_distinct",
    "q14_running_sum",
    "q41_ngram_jaccard",
    "q55_dedup_clusters",
    "q82_token_packing",
    "q131_bpe_learn",
    "q140_rfm_segments",
    "q168_active_users",
    "q201_classifier_score",
    "q203_bigram_backoff_lm",
    # round 8: Spark's own worst self-costs at sf0.1 — if THESE also
    # cross or flatten, the growth-rate argument has no remaining hole.
    "q159_zorder_layout",
    "q210_quantile_sketch",
]
# Iterative graph pair: runs against the time-shifted graph replica set
# (events-only) so the co-occurrence graph grows linearly — same
# construction and reasoning as scale_smoke.GRAPH_QUERIES.
GRAPH_SUBSET = [
    "q133_triangle_count",
    "q139_pagerank",
]


def duck_con(sf_dir: str, fallback: str = BASE) -> duckdb.DuckDBPyConnection:
    """Views over sf_dir's parquet; tables absent there (the graph variant
    writes only events) fall back to the 1x base — those queries don't
    read them, the views just need to resolve."""
    con = duckdb.connect()
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(p):
            p = os.path.join(fallback, f"{name}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
        )
    return con


def time_duck(con, sql: str, reps: int) -> float:
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        con.sql(sql).fetchall()
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 3)


def main() -> None:
    scales: list[int] = []
    subs: list[str] = []
    for a in sys.argv[1:]:
        (scales if a.isdigit() else subs).append(int(a) if a.isdigit() else a)
    scales = scales or [10, 100]
    names = [q for q in SUBSET if not subs or any(s in q for s in subs)]
    gnames = [q for q in GRAPH_SUBSET if not subs or any(s in q for s in subs)]

    oracles = all_oracles()
    queries = all_queries()

    from eventstream_spark.profile import run_query
    from eventstream_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_smoke import build, build_graph

    spark = get_spark(app_name="eventstream-scale-bench")
    dirs: dict[int, str] = {1: BASE}
    gdirs: dict[int, str] = {1: BASE}
    for n in scales:
        dirs[n] = build(spark, n) if names else f"/tmp/es_scale{n}"
        gdirs[n] = build_graph(spark, n) if gnames else f"/tmp/es_scale{n}_graph"

    points = [1] + scales
    duck: dict[str, dict[int, float]] = {q: {} for q in names + gnames}
    for n in points:
        reps = 2 if n == 1 else 1
        if names:
            con = duck_con(dirs[n])
            con.sql(oracles["q01_scan_count"]).fetchall()
            for q in names:
                duck[q][n] = time_duck(con, oracles[q], reps)
                print(f"duck {q} @{n}x: {duck[q][n]}s", file=sys.stderr)
            con.close()
        if gnames:
            con = duck_con(gdirs[n])
            for q in gnames:
                duck[q][n] = time_duck(con, oracles[q], reps)
                print(f"duck {q} @{n}x(graph): {duck[q][n]}s", file=sys.stderr)
            con.close()

    sp: dict[str, dict[int, float]] = {q: {} for q in names + gnames}
    for n in points:
        reps = 2 if n == 1 else 1
        for q, d in [(q, dirs[n]) for q in names] + [(q, gdirs[n]) for q in gnames]:
            runs = [run_query(spark, queries[q], d, drain="noop") for _ in range(reps)]
            sp[q][n] = round(min(r["wall_s"] for r in runs), 3)
            print(f"spark {q} @{n}x: {sp[q][n]}s", file=sys.stderr)

    rows = {}
    for q in names + gnames:
        rows[q] = {
            "graph_variant": q in gnames,
            "duck": {str(n): duck[q][n] for n in points},
            "spark": {str(n): sp[q][n] for n in points},
            "duck_growth": {
                str(n): round(duck[q][n] / max(duck[q][1], 1e-9), 1)
                for n in points[1:]
            },
            "spark_growth": {
                str(n): round(sp[q][n] / max(sp[q][1], 1e-9), 1)
                for n in points[1:]
            },
            "ratio": {
                str(n): round(sp[q][n] / max(duck[q][n], 1e-9), 2) for n in points
            },
        }
    print(
        json.dumps(
            {
                "metric": "cross_engine_scale_trend",
                "scales": points,
                "queries": rows,
                "duck_total": {
                    str(n): round(sum(duck[q][n] for q in rows), 2) for n in points
                },
                "spark_total": {
                    str(n): round(sum(sp[q][n] for q in rows), 2) for n in points
                },
            }
        )
    )


if __name__ == "__main__":
    main()
