"""Benchmark harness: runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}, and writes the per-query run
records (eventstream_spark.profile: build/exec split, job counts, result
rows, spill and shuffle bytes) of the steady run to BENCH_layers.json next
to this file.

Session bring-up is excluded (BASELINE.md: steady-state query time); a
warm-up query triggers JVM/codegen initialization before timing starts.
Each query is executed to completion with every result row materialized on
the driver via toPandas() (profile.run_query's "pandas" drain).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventstream_spark.operators import all_queries
from eventstream_spark.profile import run_query
from eventstream_spark.session import get_spark

# Headline set: scan/agg, filter, joins (broadcast + shuffle + theta),
# correlation, windows, set-op, dedup family, similarity family, text.
HEADLINE = [
    "q01_scan_count",
    "q02_scan_checksum",
    "q03_filter_project",
    "q04_event_routing",
    "q05_join_rollup",
    "q06_anti_join",
    "q08_range_join",
    "q09_request_response",
    "q10_pricing_summary",
    "q12_rollup",
    "q13_topk_per_group",
    "q14_running_sum",
    "q15_topn",
    "q45_unanswered_requests",
    "q61_frame_sample",
    "q21_hourly_window",
    "q22_dedup_count",
    "q25_asof_join",
    "q26_sessionization",
    "q28_shipping_priority",
    "q46_funnel",
    "q30_lang_id",
    "q33_fingerprint",
    "q41_ngram_jaccard",
    "q42_minhash_lsh",
    "q55_dedup_clusters",
    "q43_simhash",
    "q44_embedding_neardup",
    "q116_contamination",
    "q50_knn_exact",
    "q52_lsh_ann",
    "q114_lsh_multiprobe",
    "q53_ivf_ann",
    "q71_order_priority",
    "q72_volume_shipping",
    "q74_disjunctive_pred",
    "q77_returned_items",
    "q79_customer_distribution",
    "q82_token_packing",
    "q84_repetition_stats",
    "q85_pq_ann",
    "q217_ivfpq_ann",
    "q87_merge_upsert",
    "q89_training_pipeline",
    "q94_local_supplier_volume",
    "q97_large_volume_customers",
    "q99_waiting_suppliers",
    "q101_vector_hof_stats",
    "q102_unpivot",
    "q103_boilerplate_scrub",
    # round 4: corpus-pipeline additions
    "q121_pii_scrub",
    "q122_span_coverage",
    "q123_semantic_dedup",
    "q125_unigram_logprob",
    "q126_vocab_stats",
    "q51b_matmul_knn",
    "q129_quality_report",
    "q130_value_outliers",
    "q131_bpe_learn",
    "q133_triangle_count",
    "q134_trend_per_type",
    # round 4 (cont.): sketch, graph, robust-stats, CDC additions
    "q136_bloom_semi_join",
    "q137_heavy_hitters",
    "q138_mad_outliers",
    "q139_pagerank",
    "q141_cdc_chunk_dedup",
    # round 4 (cont. 2): index/sampling/profiling/reconciliation additions
    "q140_rfm_segments",
    "q142_inverted_index",
    "q143_weighted_sample",
    "q144_skew_report",
    "q146_source_drift",
    # q147 (cogroup+merge_asof) is deliberately NOT a headline query: per-key
    # pandas groups cost ~16 s at sf0.1 — it exists to pin the cogrouped-map
    # API against an exact oracle; the relational as-of (q25) is the perf path.
    "q148_adaptive_quality_filter",
    "q150_equidepth_histogram",
    "q151_corr_matrix",
    "q152_bigram_lm",
    "q153_snapshot_diff",
    "q154_fk_audit",
    # round 4 (cont. 3): ER, sweep-line, SCD2, BM25, z-order, attribution
    "q155_fuzzy_blocked_match",
    "q156_interval_concurrency",
    "q157_scd2_history",
    "q158_bm25_topk",
    "q159_zorder_layout",
    # q161 (pruning payoff) consults the SAME two range-exchanged layouts
    # q159 already times — it stays under the oracle gate but out of the
    # headline so the layout build isn't double-counted. q162 (BPE encode)
    # re-runs q131's training rounds before encoding — same double-count
    # reasoning; both stay under the oracle gate.
    "q160_attribution",
    "q163_mutual_ann",
    "q164_ohlc_bars",
    "q165_count_min",
    "q166_kmv_distinct",
    "q168_active_users",
    "q169_kmv_set_ops",
    "q170_temporal_join",
    "q171_random_projection",
    "q172_jackknife_se",
    # q173 (IR eval) re-runs q158's BM25 pipeline before scoring — same
    # double-count reasoning as q161/q162; oracle-gated, not headlined.
    "q174_ab_test",
    "q175_association_rules",
    "q176_decay_score",
    "q177_gini",
    # round 4 (cont. 4): stats/governance + sketch + recursion additions.
    # q190 (streaming HLL) re-runs q178's plan through the micro-batch
    # engine — same double-count reasoning as q161/q162/q173; oracle-gated,
    # not headlined.
    "q178_hll_distinct",
    "q179_k_anonymity",
    "q180_mutual_info",
    "q181_ks_test",
    "q182_session_paths",
    "q183_acf",
    "q184_recursive_rollup",
    "q185_rolling_median",
    "q186_int8_quant",
    "q187_winsorized_mean",
    "q188_cusum_changepoint",
    "q189_conversion_lag",
    # q194 (bucketed join) includes a managed-table layout write per run and
    # q195 re-runs q165's sketch through the micro-batch engine — both stay
    # oracle-gated, not headlined (q159/q161 double-count reasoning).
    "q191_cuped",
    "q192_chi2_keywords",
    "q193_incremental_rollup",
    "q196_budget_waterfill",
    "q197_survival_km",
    "q198_psi",
    # round 5: corpus-curation additions — the saturation curve shares q126's
    # vocabulary-bounded shuffle class; the leakage-safe split runs q55's CC
    # machinery plus one AQE-broadcast label join.
    "q199_novelty_curve",
    "q200_leakage_safe_split",
    # round 6: model-based quality scoring (pure map-side) and the
    # epoch-shuffle export layout (one shard-key exchange).
    "q201_classifier_score",
    "q202_epoch_shuffle",
    # round 6 additions: held-out bigram-LM perplexity gate (two token
    # shuffles + bigram-key join) and the alpha-mixing dimension rollup.
    "q203_bigram_backoff_lm",
    "q204_temperature_mix",
    # round 6 additions (cont.): rule funnel + span corruption are map-side
    # single-agg; MMD is one explode shuffle + dimension join; triplets are
    # one batch-key join + bounded windows; segment dedup is one seg-hash
    # shuffle + AQE join-back.
    "q205_gopher_funnel",
    "q206_mmd_drift",
    "q207_triplet_mining",
    "q208_span_corruption",
    "q209_segment_dedup",
    # round 7: bottom-k quantile sketch (TakeOrdered sample + one
    # exact-percentile pass; no fact-table shuffle). q89b (composed
    # curation pipeline) stays oracle-gated but NOT headlined: it re-runs
    # the q201/q203/q209/q204/q202 stages end-to-end, all five already
    # timed individually — the q162/q173 double-count convention.
    "q210_quantile_sketch",
    # round 7 (cont.): DSIR importance resampling (bucket-stat groupBy +
    # broadcast scoring + range-partitioned top-fraction), embedding
    # Gram/covariance (int64 GEMM partials per Arrow batch, one (i,j)
    # reduce), negative-sampling table (one token groupBy + TakeOrdered).
    "q211_dsir_select",
    "q212_embedding_gram",
    "q213_negative_sampling",
    # selection operating curve (one scoring pass + the scalable decile
    # rank) and the data-constrained scaling audit (one groupBy +
    # dimension math).
    "q214_selection_curve",
    "q215_data_constrained",
    # PCA power iteration: q212's corpus pass + 3 dimension-table
    # mat-vec steps.
    "q218_pca_power",
    # round 8: grown-cells quantized IVF-PQ (GEMM assignment/encode) and
    # the suffix-ordering exact-substring dedup (one range exchange +
    # lag/lead over bounded-depth suffix keys).
    "q217b_ivfpq_ann_scaled",
    "q219_suffix_span_dedup",
    # substring-removal cut pass (q219's machinery + per-doc sweep) and
    # the DoReMi domain-reweighting step (two LM groupBys + dim math).
    "q220_substring_removal",
    "q221_doremi_step",
    # two-layer ANN recall audit (shares q217b's index build).
    "q222_ann_recall_audit",
    # RHO-loss learnability selection (doc-level two-LM scoring + the
    # range-partitioned global cut).
    "q224_rho_select",
    # curriculum ordering (LM score -> staged NTILE -> global position).
    "q223_curriculum_order",
    # round 9: grown-bands MinHash twin (q42's pipeline with corpus-derived
    # knobs), distributed LR training (3 full-batch epochs over hashed
    # features), and the PCA projection-apply (power iteration + one
    # map-side GEMM pass). q227 (reduced-space recall audit) re-runs
    # q226's reduction + power iteration before building its index — the
    # q162/q173 double-count convention keeps it oracle-gated, not
    # headlined.
    "q42b_minhash_lsh_grown",
    "q201b_classifier_train",
    "q226_pca_project",
    # round 9 additions: concat-split sequence packing (one shard
    # exchange), cluster-balanced diversity selection (GEMM assignment +
    # cell-bounded window), classifier calibration (pure map-side), and
    # the int8 recall audit (two broadcast-query brute-force passes).
    # q233 (dedup threshold curve) re-runs q41's pair build before the
    # 5-row curve — the q162/q173 double-count convention keeps it
    # oracle-gated, not headlined; q231 (streaming quality gate) follows
    # the q190/q195/q225 convention (streaming re-run of a headlined
    # batch plan).
    "q228_sequence_pack",
    "q229_cluster_balanced_select",
    "q230_calibration_ece",
    "q232_int8_recall_audit",
    # K x K domain transfer matrix: one corpus groupBy, then vocab- and
    # K-bounded joins. q235 (DoReMi trajectory) re-runs q221's LM passes
    # before the K-row EG iteration — the q162/q173 double-count
    # convention keeps it oracle-gated, not headlined.
    "q234_domain_transfer_matrix",
    # incremental IVF ingest: one GEMM assignment pass + one cell-key
    # groupBy against frozen standing centroids.
    "q237_incremental_ivf_ingest",
    # round 10: exact-span benchmark decontamination (broadcast window
    # set, map-side corpus probe). q238/q240 (trained-quantizer recall
    # audits) re-run q54b/q85 machinery — the q162/q173 double-count
    # convention keeps them oracle-gated; q239 is a streaming re-run of
    # q237's plan (the q190/q195/q231 convention).
    "q241_exact_span_decontam",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="eventstream-spark-bench")
    queries = all_queries()

    # Warm-up: JVM, codegen, parquet footer caches, Arrow path — and the
    # Python worker-daemon pool (spark.python.worker.reuse keeps it alive),
    # so Pandas-UDF queries measure steady-state, not process fork.
    queries["q01_scan_count"](spark, sf_dir).toPandas()
    import pandas as _pd

    def _touch(it):
        for pdf in it:
            yield _pd.DataFrame({"n": [len(pdf)]})

    spark.range(64).repartition(8).mapInPandas(_touch, schema="n long").collect()

    # Each query is timed four times; profile.run_query precedes the first
    # with an untimed plan-warm run at sf0.001 (tiny data, same plan
    # structure): Janino compile is a per-plan ONE-TIME cost in any
    # long-lived service, and without it the widest lambda-heavy plans
    # charge ~4-9 s of compiler time to their first timed run — measuring
    # janino, not the query. The timed runs still include all I/O,
    # shuffles, and first-touch effects at the bench SF; the first run
    # pays those (page cache, AQE stat collection, broadcast builds) and
    # is recorded separately as `cold_*`. The PRIMARY metric
    # (`value`/`queries`) is the min of the three warm runs — the same
    # min-of-3 convention scripts/bench_duckdb.py uses for the oracle leg,
    # so both sides of BASELINE.md see identical noise exposure (the r9
    # asymmetry — cold single-run Spark vs min-of-3 duckdb — manufactured
    # a phantom text-family "regression" that did not reproduce on an idle
    # box). Per-query warm spread (max-min) makes inter-run noise visible
    # in the artifact itself.
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    spread: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name in HEADLINE:
        records = [run_query(spark, queries[name], sf_dir) for _ in range(4)]
        runs = [round(r["wall_s"], 3) for r in records]
        cold[name] = runs[0]
        # Steady state = min of the THREE warm runs: the box hits
        # multi-second virtualization stalls under full 32-thread load
        # (measured: the same warm run varying 2.3s vs 19.0s back-to-back
        # with ~1200s of /proc/stat CPU-steal accumulated, zero GC time);
        # min-of-N is the standard way to measure the query's actual cost
        # under transient external noise, and two warm samples proved too
        # few — both can land on a stall.
        steady[name] = min(runs[1:])
        spread[name] = round(max(runs[1:]) - min(runs[1:]), 3)
        layers[name] = min(records[1:], key=lambda r: r["wall_s"])

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_layers.json"), "w") as fh:
        json.dump({"sf": sf, "queries": layers}, fh, indent=1)

    # Field ORDER is part of the artifact contract: the driver's capture
    # tails the line with a bounded buffer, so the PRIMARY per-query dict
    # (`queries`, the min-of-3 steady times) goes LAST — BENCH_r10.json
    # lost the steady dict because warm_spread_queries happened to sit at
    # the end. metric_rev marks the round-10 redefinition of value/queries
    # from cold-first-run to min-of-3-warm, so trendline tooling can
    # detect the boundary instead of reading it as a step change.
    print(
        json.dumps(
            {
                "metric": "headline_suite_time",
                "metric_rev": 2,
                "value": round(sum(steady.values()), 3),
                "unit": "sec",
                "sf": sf,
                "cold_value": round(sum(cold.values()), 3),
                "cold_queries": cold,
                "warm_spread_queries": spread,
                "queries": steady,
            }
        )
    )


if __name__ == "__main__":
    main()
