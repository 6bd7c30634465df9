"""Scale-up smoke: does each relational plan's runtime grow ~linearly when
the fact tables grow 100x?

Builds (once) a derived dataset at ``/tmp/es_scale<N>``: fact tables
(lineitem, orders, customer, events) are replicated N times with key
offsets so join selectivities and per-key state stay CONSTANT while row
counts scale — orders gain new orderkeys/custkeys, events gain new
users with identical per-user timelines. Dimensions (region, nation,
supplier, part) stay 1x, as dimensions do. This measures engine scaling,
not artificial key skew: every query's per-key work is unchanged, there
is just N times more of it.

documents/embeddings (the dedup/ANN family) need more than a key offset —
verbatim replicas would make every doc an N-way exact+near duplicate and
every vector an N-way cosine-1 twin, blowing candidate pair counts up
QUADRATICALLY (artificial skew, not scale). Replicas are therefore made
mutually disjoint while preserving within-replica structure exactly:

- documents: every whitespace token gets a ``·<rep>`` suffix, so replica
  vocabularies (hence shingle/MinHash/SimHash spaces) never collide —
  each replica keeps the base corpus's internal near-dup relationships,
  and the corpus has N independent "domains" of identical shape.
- embeddings: each replica applies a deterministic ±1 sign mask (signs
  from hash(rep, i)). Within a replica the SAME mask multiplies both
  sides of every dot product, so cosines are preserved BIT-EXACTLY;
  across replicas the masked dot product is a random-sign sum ≈ 0, so
  cross-replica pairs stay below any near-dup threshold and out of
  top-k. Query sets pinned by vec_id predicates stay constant-size
  (only replica 0 keeps small ids) while the corpus scales.

Usage:
    python scripts/scale_smoke.py [N] [name_substr...]   # default N=100;
    # name substrings filter SCALE_QUERIES (iteration/triage aid)

Prints one JSON line: per-query seconds at sf0.1 and at N-times, the
time ratio (ideal = N / cores' spare capacity; at this size, ~N/1 for
single-stage scans down to well under N when the 1x run was
overhead-bound), and under ``records`` each measured run's
eventstream_spark.profile record (build/exec split, job counts, result
rows, spill, shuffle-write and peak-memory bytes) — the numbers that
attribute a superlinear ratio: flat work per row with spill going 0 -> GBs
at 100x is a fixed-memory harness artifact (one JVM), while output rows or
shuffle bytes growing faster than 100x is plan-inherent. Queries execute
via the "noop" sink so the measurement is the computation, not a
driver-side collect of N-times more rows.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from pyspark.sql.functions import col

from eventstream_spark.operators import all_queries
from eventstream_spark.profile import run_query
from eventstream_spark.session import get_spark

BASE = "/root/testdata/sf0.1"

# Key offsets chosen far above any real key in the fixtures.
OFF_ORDER = 100_000_000
OFF_CUST = 10_000_000
OFF_EVENT = 1_000_000_000
OFF_USER = 1_000_000
# Divisible by the doc_id mod gates (q116's %50, q120's %10) so every
# replica keeps the same benchmark/incoming membership pattern.
OFF_DOC = 10_000_000
OFF_VEC = 10_000_000

SCALE_QUERIES = [
    "q01_scan_count",
    "q02_scan_checksum",
    "q03_filter_project",
    "q05_join_rollup",
    "q08_range_join",
    "q09_request_response",
    "q10_pricing_summary",
    "q12_rollup",
    "q13_topk_per_group",
    "q14_running_sum",
    "q15_topn",
    "q21_hourly_window",
    "q22_dedup_count",
    "q25_asof_join",
    "q26_sessionization",
    "q71_order_priority",
    "q77_returned_items",
    "q79_customer_distribution",
    "q94_local_supplier_volume",
    "q97_large_volume_customers",
    "q98_late_shipments",
    "q118_event_transitions",
    "q119_cohort_retention",
    # dedup/ANN family (documents/embeddings scale with disjoint replicas)
    "q41_ngram_jaccard",
    "q42_minhash_lsh",
    # q44 (6-plane LSH) is deliberately absent: at a FIXED 64 buckets the
    # within-bucket pair count grows quadratically at 100x by pigeonhole —
    # measured >1 h wall on local[32], which is the documented reason the
    # grown-bits form exists. q44b (12 planes = 4096 buckets) is the form
    # a 100x corpus actually runs, and is what the smoke measures.
    "q44b_embedding_neardup_scaled",
    "q55_dedup_clusters",
    # q114 (6-plane multi-probe) excluded for the same pigeonhole reason
    # as q44; q114b is the grown-bits (12-plane) form the smoke measures.
    "q114b_multiprobe_scaled",
    "q116_contamination",
    "q120_incremental_dedup",
    # packing (two-level windows must parallelize the dominant strata)
    "q82_token_packing",
    "q89_training_pipeline",
    # round 4: corpus-pipeline additions. q123 (SemDeDup) is deliberately
    # absent: with a FIXED cell count, within-cell candidate pairs grow
    # quadratically at 100x by pigeonhole — the knob is cluster count
    # (grow K with N), the same argument measured for q44 vs q44b; see
    # SCALING.md.
    "q121_pii_scrub",
    "q122_span_coverage",
    # q219: the suffix-ordering form of q122 — ONE range exchange over the
    # per-position bounded-depth suffix keys (the ×depth key bytes are the
    # algorithm's working set) + lag/lead; the sort is what a suffix-array
    # build pays. q220 adds the per-doc coverage sweep (one doc_id hash
    # shuffle) on top.
    "q219_suffix_span_dedup",
    "q220_substring_removal",
    "q125_unigram_logprob",
    "q126_vocab_stats",
    "q51b_matmul_knn",
    "q129_quality_report",
    "q130_value_outliers",
    "q134_trend_per_type",
    # q133 (triangle count) and q139 (PageRank) are NOT run against this
    # dataset: the shared-hour replica construction puts 100x more users
    # into the SAME (event_type, hour) blocks, so co-occurrence pairs grow
    # quadratically — synthetic skew, not scale (real growth spreads across
    # time). They run instead against the GRAPH variant below
    # (GRAPH_QUERIES), whose replicas are time-shifted so blocks stay
    # replica-disjoint and the edge list grows linearly.
    # q131 (BPE training): replica vocabularies are disjoint, so the
    # pair-count shuffle grows linearly with the corpus while merge rounds
    # stay driver-coordinated — the measured iterative-training shape.
    "q131_bpe_learn",
    # round 4 (cont.): sketch / sampling / CDC / index additions. q138
    # (MAD) is excluded BY DESIGN at 100x: exact per-group medians buffer
    # the whole group in the aggregate state (12M values per event_type
    # here) — its docstring names approx_percentile as the scale path, and
    # the approx form is tolerance-tested instead.
    "q136_bloom_semi_join",
    "q137_heavy_hitters",
    "q140_rfm_segments",
    "q141_cdc_chunk_dedup",
    "q142_inverted_index",
    "q143_weighted_sample",
    "q144_skew_report",
    # round 4 (cont. 2). q148's exact global percentile holds ONE buffer of
    # all doc scores (500k doubles at 100x — fine; it is not per-group like
    # q138's exclusion). q147 cogroup is an API rung, not a scale claim.
    "q146_source_drift",
    "q148_adaptive_quality_filter",
    "q150_equidepth_histogram",
    "q151_corr_matrix",
    "q152_bigram_lm",
    "q153_snapshot_diff",
    "q154_fk_audit",
    # round 4 (cont. 3). q155 (fuzzy ER) is excluded: part is a DIMENSION
    # in this replica scheme (stays 1x), so there is nothing to measure —
    # its scale argument is the blocking-key equi-join itself (the block
    # key must grow with data, exactly the q42 band-width discipline).
    # q163 (6-plane mutual ANN) shares the q44/q114 fixed-plane pigeonhole
    # exclusion; q163b is the grown-bits form the smoke measures. q161
    # consults the same layouts as q159 (only 64-row stats work on top);
    # q162 re-runs q131's training rounds (vocab-linear, same shuffles) —
    # q159/q131 are the measured representatives.
    "q156_interval_concurrency",
    "q157_scd2_history",
    "q158_bm25_topk",
    "q159_zorder_layout",
    "q160_attribution",
    "q163b_mutual_ann_scaled",
    "q164_ohlc_bars",
    "q165_count_min",
    "q166_kmv_distinct",
    "q168_active_users",
    "q169_kmv_set_ops",
    "q170_temporal_join",
    "q174_ab_test",
    "q175_association_rules",
    "q176_decay_score",
    "q177_gini",
    # round 4 (cont. 4): stats/governance family. Replicas keep QI combos,
    # contingency cells, distinct value points, per-user timelines, and the
    # day spine CONSTANT while row counts scale — exactly the shapes these
    # operators claim are domain-bounded.
    "q178_hll_distinct",
    "q179_k_anonymity",
    "q180_mutual_info",
    "q181_ks_test",
    "q182_session_paths",
    "q183_acf",
    # recursion depth grows log(max user id): 100x users adds ~7 levels,
    # each one narrow frontier pass — the smoke measures that log growth.
    "q184_recursive_rollup",
    # q187 (winsorized mean) shares q138's exclusion: exact per-group
    # percentiles buffer the whole group; its docstring names
    # approx_percentile as the 100 TB swap. q185's windowed median buffers
    # one 7-row frame, not the group — it runs.
    "q185_rolling_median",
    "q186_int8_quant",
    # q189 (conversion lag) shares the exact-percentile exclusion (cohort
    # converts buffer; approx_percentile is the documented swap); q188's
    # CUSUM windows are day-bounded per type — it runs.
    "q188_cusum_changepoint",
    # q191's adjusted-variance pass reduces in DECIMAL(38)/HUGEINT, so the
    # 100x run stays exact where int64 would silently wrap.
    "q191_cuped",
    "q192_chi2_keywords",
    # q193's merge cost is O(delta + touched groups); q194 includes its
    # one-time bucketed layout write, like q159's measured layout build.
    "q193_incremental_rollup",
    "q194_bucketed_join",
    # q196's water-level search runs over the |sources| dimension — only
    # the token-count scan grows.
    "q196_budget_waterfill",
    # q197 runs on the |days| dimension after one per-user max; q198's
    # decile cut points are the exact-percentile aggregate (single global
    # buffer like q148 — fine; approx_percentile is the documented swap).
    "q197_survival_km",
    "q198_psi",
    # round 5: corpus-curation additions. q199's only corpus-wide shuffle is
    # the shingle first-seer agg (vocabulary-bounded, the q126 key class);
    # q200 runs q55's CC contraction plus one AQE-broadcast label join.
    "q199_novelty_curve",
    "q200_leakage_safe_split",
    # round 6: q201/q205/q208 are map-side flag/score passes (one 1-row or
    # per-source agg); q203's bigram table is vocabulary-bounded (replica
    # vocabularies disjoint → linear growth, the q131 key class); q202's
    # shuffle is the shard-key exchange; q204 is one groupBy(source).
    # q206's aggregation state is |labels|·dim; q207's batch count grows
    # with N so in-batch pairs stay linear; q209's dup table is bounded by
    # repeated-content volume (replica-disjoint segments).
    "q201_classifier_score",
    "q202_epoch_shuffle",
    "q203_bigram_backoff_lm",
    "q204_temperature_mix",
    "q205_gopher_funnel",
    "q206_mmd_drift",
    "q207_triplet_mining",
    "q208_span_corruption",
    "q209_segment_dedup",
    # round 7: TakeOrdered sample (per-partition heaps, K-row driver merge)
    # + one exact-percentile pass — the fact table never shuffles. q89b
    # composes the measured q201/q203/q209/q204/q202 stages in one plan —
    # the smoke checks the composition keeps each stage's bound.
    "q210_quantile_sketch",
    "q89b_curation_pipeline",
    # round 7 (cont.): q211's bucket stats are _DSIR_DIM-bounded and the
    # rank is range-partitioned; q212 emits d² partials per Arrow batch
    # (the corpus pass is one int64 GEMM per batch); q213's table is
    # vocabulary-bounded with a TakeOrdered top-64.
    "q211_dsir_select",
    "q212_embedding_gram",
    "q213_negative_sampling",
    # q214 adds one range exchange (the scalable rank) on top of q201's
    # map-side scoring; q215 is one map-side-partial groupBy.
    "q214_selection_curve",
    "q215_data_constrained",
    # q221 DoReMi step: one corpus (source, term) groupBy, vocabulary-
    # bounded LM table, dimension-side EG math. q224 RHO selection: the
    # (doc, term) groupBy + LM join + the q211-style range-partitioned
    # global cut.
    "q221_doremi_step",
    "q224_rho_select",
    # q223 curriculum: q125's LM passes + two range exchanges (stage
    # ntile, global position).
    "q223_curriculum_order",
    # q218: q212's batched-GEMM corpus pass + 3 power steps whose cost is
    # d²-bounded (corpus-independent) — the smoke verifies the iteration
    # overhead stays flat while the corpus grows 100x.
    "q218_pca_power",
    # round 8: q217 (fixed 16 cells) is deliberately absent — at a fixed
    # cell count, per-cell list length (hence probe candidates) grows
    # linearly by pigeonhole, the same knob argument as q44 vs q44b /
    # q114 vs q114b / q123. q217b is the grown form: cells = ceil(sqrt N),
    # probes = ceil(log2(cells+1)) — candidate work ~ sqrt(N)·log N.
    "q217b_ivfpq_ann_scaled",
    # q222: q217b's index build + one broadcast exact pass + tiny audit
    # joins — the recall measurement loop itself must scale with the
    # index it audits.
    "q222_ann_recall_audit",
    # round 9: q42b grown-bands MinHash — rows-per-band grows with
    # log10(N) so per-band collision occupancy stays ~constant (q42's
    # fixed split is deliberately absent — the q44-vs-q44b knob argument).
    "q42b_minhash_lsh_grown",
    # q201b LR training: per-epoch cost is one feature groupBy + one
    # dimension-bounded gradient groupBy; the corpus passes scale, the
    # weight handoff stays 2^18-bounded at the driver.
    "q201b_classifier_train",
    # q226 PCA projection-apply: q212's batched-GEMM covariance pass +
    # d²-bounded power iteration + ONE map-side projection GEMM pass —
    # zero shuffle beyond the component audit's K-row groupBy.
    "q226_pca_project",
    # q227 reduced-space recall audit: q226's reduction + a sqrt(N)-cell
    # IVF build in K=4 dims + the q222 audit joins.
    "q227_reduced_ivf_recall",
    # round 9: q228 concat-split packing — map-side token counts, one
    # shard exchange + per-shard running-sum window (the writer sort).
    "q228_sequence_pack",
    # q229 cluster-balanced selection: GEMM assignment (q217b's lesson)
    # + per-cell window over ~sqrt(N) rows.
    "q229_cluster_balanced_select",
    # q230 calibration: pure map-side scoring into a 10-row groupBy.
    "q230_calibration_ece",
    # q232 int8 recall: |dims|-row scale agg + two broadcast-query
    # brute-force passes — corpus-linear by construction.
    "q232_int8_recall_audit",
    # q233 threshold curve: q41's prefix-filtered pair join + one doc
    # groupBy + a 5-row broadcast curve.
    "q233_dedup_threshold_curve",
    # q234 transfer matrix: one corpus groupBy(source, term); the LM
    # table, floors, and scoring join are vocabulary-/K-bounded after.
    "q234_domain_transfer_matrix",
    # q235 DoReMi trajectory: q221's corpus passes + T constant-size
    # dimension steps — the smoke verifies the iteration stays flat.
    "q235_doremi_trajectory",
    # q236 mixture prediction: composes q234 + q221 (two corpus reads)
    # into K^2-bounded integer dot products.
    "q236_mixture_loss_predict",
    # q237 incremental IVF ingest: one GEMM pass over standing+delta,
    # one cell groupBy; per-ingest cost rides the assignment pass.
    "q237_incremental_ivf_ingest",
    # q238 trained-quantizer recall: iters x one-shuffle Lloyd steps +
    # map-side assignments; the smoke verifies training stays corpus-
    # linear per step.
    "q238_ivf_trained_recall",
    # q240 trained-PQ recall: two GEMM encode passes + one dim*K-bounded
    # training groupBy + broadcast-LUT ADC rankings.
    "q240_pq_trained_recall",
    # q242 trained-grown-IVF recall: 2 integer-milli Lloyd rounds (GEMM
    # assignment + sqrt(N)*dim-bounded mean groupBy each) + 3 GEMM
    # assignment passes + the q51-shape exact side.
    "q242_ivf_trained_grown_recall",
    # q243 hybrid RRF: both channels top-5-bounded before fusion; cost =
    # q158's postings + q51's broadcast-query scan.
    "q243_hybrid_rrf",
    # q245 image near-dup: dHash via real PNG encode+decode+resample in
    # mapInPandas (Arrow-batched), then the 4x16-bit band join — the
    # candidate join is bucket-bounded, never all-pairs.
    "q245_image_phash_neardup",
    # q246 audio near-dup is deliberately NOT smoked here: this corpus's
    # replica disjointness (token '·<rep>' suffixes) decorrelates shingle
    # and pixel spaces but NOT coarse byte-level energy envelopes — every
    # doc has ~N cross-replica fingerprint twins, so the pair OUTPUT is
    # quadratic by construction (artificial saturation, not scale). The
    # operator's _fp_saturation_guard fails loud on exactly this corpus
    # (test-pinned); its plan shape is q245's, whose smoke row stands.
    # q241 exact-span decontamination: benchmark window set broadcasts;
    # corpus windows explode map-side and never shuffle — one source
    # rollup exchange.
    "q241_exact_span_decontam",
]

# Graph queries measure against a SEPARATE events replica set: each replica
# keeps the base per-user timelines but is time-shifted by rep·1000 days, so
# (event_type, hour) co-occurrence blocks are replica-DISJOINT — the graph
# becomes N disjoint copies of the base graph (edges grow linearly), which is
# what organic growth looks like (new users co-occur with their contemporaries,
# not with all of history). Shared-hour replication would instead densify
# every block 100x (quadratic pairs — synthetic skew the degree-ordered
# orientation is not meant to absorb; the hub property is unit-tested in
# tests/test_graph.py).
GRAPH_QUERIES = [
    "q133_triangle_count",
    "q139_pagerank",
]

# Streaming (availableNow file-source) pipelines, drained at 100x with
# maxFilesPerTrigger bounding each micro-batch (SPARK_GRAFT_STREAM_MAX_FILES
# — the catch-up knob a backlogged landing zone needs); per-run micro-batch
# counts, peak stateful-operator rows and state-store counts are recorded
# alongside the timings (streaming_queries.LAST_RUN_INFO). State stays
# bounded by construction: these aggregate into per-source / per-bucket
# grids, never per-row state.
STREAM_QUERIES = [
    # q244 streaming decontamination: frozen benchmark window set in a
    # UDF closure, per-doc hits map-side, |sources|x4 additive state.
    "q244_stream_decontam",
    "q128_stream_scrub",
    "q132_stream_vector_ingest",
    "q135_stream_incremental_dedup",
    # bottom-k sample state: exactly ONE state row (the K-row sample
    # arrays) regardless of corpus size; the per-batch pre-reduce caps
    # what the stateful merge sees at K rows per Arrow batch.
    "q216_stream_quantile_sketch",
    # DoReMi sums: state = |sources| rows of three additive longs —
    # bounded forever; the LM build side is vocabulary-sized static.
    "q225_stream_doremi",
    # quality-gate counters: state = |sources| rows of four scalars
    # (three sum-merged, one min-merged) — bounded forever.
    "q231_stream_quality_gate",
    # IVF-ingest counters: state = one row per INDEX CELL (ceil(sqrt(N))
    # of the standing corpus) of two additive longs — bounded by the
    # index geometry, not the delta volume.
    "q239_stream_ivf_ingest",
]
_STREAM_MAX_FILES = "4"


def _replicate(df, n, offsets):
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    out = df.select("*", rep)
    for c, off in offsets.items():
        out = out.withColumn(c, col(c) + col("rep").cast("long") * off)
    return out.drop("rep")


def build(spark, n: int) -> str:
    out = f"/tmp/es_scale{n}"
    # v2: documents/embeddings now scale with disjoint replicas (the v1
    # dataset kept them 1x); v3: documents/embeddings are written as
    # 16-file datasets (a realistic landing-zone layout — and what gives
    # the streaming rows' maxFilesPerTrigger real batches to bound).
    # Bumping the marker rebuilds in place.
    marker = os.path.join(out, "_BUILT_v3")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    rd = lambda t: spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))  # noqa: E731
    wr = lambda df, t: df.write.mode("overwrite").parquet(  # noqa: E731
        os.path.join(out, f"{t}.parquet")
    )
    wr(_replicate(rd("lineitem"), n, {"l_orderkey": OFF_ORDER}), "lineitem")
    wr(
        _replicate(
            rd("orders"), n, {"o_orderkey": OFF_ORDER, "o_custkey": OFF_CUST}
        ),
        "orders",
    )
    wr(_replicate(rd("customer"), n, {"c_custkey": OFF_CUST}), "customer")
    # events.ts is naive TIMESTAMP(MICROS) in the fixture; it reads as
    # timestamp_ntz and replicates unchanged — catalog.load's normalization
    # (fix_nanos_ts) handles NTZ and legacy int64-nanos spellings alike.
    wr(
        _replicate(
            rd("events"), n, {"event_id": OFF_EVENT, "user_id": OFF_USER}
        ),
        "events",
    )
    # documents: disjoint replica vocabularies (see module docstring).
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    docs = (
        rd("documents")
        .select("*", rep)
        .withColumn("doc_id", col("doc_id") + col("rep").cast("long") * OFF_DOC)
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(col("text"), " "),
                    lambda t: F.concat(t, F.lit("·"), col("rep").cast("string")),
                ),
                " ",
            ),
        )
        .drop("rep")
    )
    wr(docs.repartition(16, "doc_id"), "documents")
    # embeddings: per-replica ±1 sign mask preserves within-replica cosine
    # bit-exactly and decorrelates replicas (see module docstring).
    emb = (
        rd("embeddings")
        .select("*", rep)
        .withColumn("vec_id", col("vec_id") + col("rep").cast("long") * OFF_VEC)
        .withColumn(
            "embedding",
            F.transform(
                col("embedding"),
                lambda x, i: F.when(
                    F.pmod(F.hash(col("rep"), i), 2) == 0, x
                ).otherwise(-x),
            ),
        )
        .drop("rep")
    )
    wr(emb.repartition(16, "vec_id"), "embeddings")
    for t in ("region", "nation", "supplier", "part"):
        wr(rd(t), t)
    open(marker, "w").close()
    return out


def build_graph(spark, n: int) -> str:
    """Graph-variant events replica set (see GRAPH_QUERIES): user ids offset
    AND timestamps shifted by rep·1000 days per replica, so co-occurrence
    blocks are replica-disjoint and the co-occurrence graph is n disjoint
    copies of the base graph. Only events.parquet is written — q133/q139
    read nothing else."""
    out = f"/tmp/es_scale{n}_graph"
    marker = os.path.join(out, "_BUILT_v1")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    ev = spark.read.parquet(os.path.join(BASE, "events.parquet"))
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    shifted = (
        ev.select("*", rep)
        .withColumn("event_id", col("event_id") + col("rep").cast("long") * OFF_EVENT)
        .withColumn("user_id", col("user_id") + col("rep").cast("long") * OFF_USER)
        .withColumn("ts", F.timestamp_add("HOUR", col("rep") * 24_000, col("ts")))
        .drop("rep")
    )
    shifted.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    open(marker, "w").close()
    return out


def _run(queries, name, spark, sf_dir) -> dict:
    # Two runs, the second recorded (warm: the first compiled the plan at
    # this scale). run_query releases operator-internal persists before
    # each run, so the second recomputes the persisted lineage instead of
    # reading the first run's cache — otherwise any query whose persist
    # sits upstream of everything (q89b's token projection, the LSH bucket
    # tables) measures a cache read instead of the plan. Found in round 7
    # when q89b's 100x run came back FASTER than 1x.
    run_query(spark, queries[name], sf_dir, drain="noop")
    return run_query(spark, queries[name], sf_dir, drain="noop")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    wanted = sys.argv[2:]
    spark = get_spark(app_name="scale-smoke")
    scaled = build(spark, n)
    queries = all_queries()
    selected = [
        q for q in SCALE_QUERIES if not wanted or any(w in q for w in wanted)
    ]
    g_selected = [
        q for q in GRAPH_QUERIES if not wanted or any(w in q for w in wanted)
    ]
    s_selected = [
        q for q in STREAM_QUERIES if not wanted or any(w in q for w in wanted)
    ]
    g_scaled = build_graph(spark, n) if g_selected else None
    base_t, scaled_t, ratio, stream_info, records = {}, {}, {}, {}, {}

    def measure(name, sdir):
        rec = records[name] = {
            "base": _run(queries, name, spark, BASE),
            "scaled": _run(queries, name, spark, sdir),
        }
        base_t[name] = round(rec["base"]["wall_s"], 3)
        scaled_t[name] = round(rec["scaled"]["wall_s"], 3)
        ratio[name] = round(scaled_t[name] / max(base_t[name], 1e-9), 1)

    for name in selected + g_selected:
        measure(name, g_scaled if name in g_selected else scaled)
    if s_selected:
        from eventstream_spark.operators import streaming_queries as sq

        os.environ["SPARK_GRAFT_STREAM_MAX_FILES"] = _STREAM_MAX_FILES
        try:
            for name in s_selected:
                measure(name, scaled)
                stream_info[name] = dict(sq.LAST_RUN_INFO)
        finally:
            os.environ.pop("SPARK_GRAFT_STREAM_MAX_FILES", None)
    print(
        json.dumps(
            {
                "metric": "scale_smoke",
                "scale": n,
                "base_sec": base_t,
                "scaled_sec": scaled_t,
                "time_ratio": ratio,
                "base_total": round(sum(base_t.values()), 2),
                "scaled_total": round(sum(scaled_t.values()), 2),
                **({"streaming": stream_info} if stream_info else {}),
                "records": records,
            }
        )
    )


if __name__ == "__main__":
    main()
