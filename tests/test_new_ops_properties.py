"""Property-style checks for the round-4-cont.-3 helpers: the two-level
sweep-line against a brute-force overlap counter on randomized intervals,
and the Morton interleave's structural guarantees."""

from __future__ import annotations

import random

import pytest


@pytest.mark.parametrize("seed", [7, 42, 99])
def test_sweep_concurrency_matches_brute_force(spark, seed):
    """sweep_concurrency's max prefix sum per type == the O(n²)-checkable
    max overlap count of the interval set (end-exclusive), on random
    intervals that straddle bucket boundaries."""
    import pyspark.sql.functions as F

    from eventstream_spark.operators.analytics import sweep_concurrency

    rng = random.Random(seed)
    rows = []
    intervals: dict[str, list[tuple[int, int]]] = {"a": [], "b": []}
    for _ in range(200):
        typ = rng.choice(["a", "b"])
        s = rng.randrange(0, 10_000)
        e = s + rng.randrange(1, 3_000)
        intervals[typ].append((s, e))
        rows.append((typ, s, 1))
        rows.append((typ, e, -1))
    pts = spark.createDataFrame(rows, "event_type string, t long, delta int")
    got = {
        r.event_type: r.mx
        for r in sweep_concurrency(pts, bucket_width_us=1_000)
        .groupBy("event_type")
        .agg(F.max("conc").alias("mx"))
        .collect()
    }

    def brute(iv: list[tuple[int, int]]) -> int:
        best = 0
        for s, _ in iv:  # max overlap is attained at some interval start
            best = max(best, sum(1 for s2, e2 in iv if s2 <= s < e2))
        return best

    assert got == {t: brute(iv) for t, iv in intervals.items()}


def test_morton_interleave_is_bijective_and_positional(spark):
    """_interleave_bits maps 32x32 bucket pairs to 1024 DISTINCT z-values,
    and bit j of x lands at z bit 2j (y at 2j+1) — the property that makes
    z-range prefixes axis-aligned boxes."""
    import pyspark.sql.functions as F

    from eventstream_spark.operators.merge import _interleave_bits

    df = (
        spark.range(32)
        .select(F.col("id").alias("x"))
        .crossJoin(spark.range(32).select(F.col("id").alias("y")))
        .select("x", "y", _interleave_bits(F.col("x"), F.col("y"), 5).alias("z"))
    )
    rows = df.collect()
    assert len({r.z for r in rows}) == 1024
    for r in rows:
        for j in range(5):
            assert (r.z >> (2 * j)) & 1 == (r.x >> j) & 1
            assert (r.z >> (2 * j + 1)) & 1 == (r.y >> j) & 1


@pytest.mark.parametrize("n_ids", [50, 500, 5000])
def test_hll_within_theoretical_error(spark, n_ids):
    """The 256-register HLL estimate lands within 5x the theoretical
    relative standard error (1.04/sqrt(m) ~ 6.5%) across two orders of
    magnitude of true cardinality — including the linear-counting range."""
    import pyspark.sql.functions as F

    from eventstream_spark.functions import hash48
    from eventstream_spark.operators.sketch import (
        _HLL_EMPTY_W,
        _HLL_M,
        _HLL_NUM,
        _HLL_RBITS,
        _HLL_RMASK,
        _HLL_SMALL,
    )

    hv = (
        spark.range(n_ids)
        .select(hash48(F.col("id").cast("string")).alias("hv"))
        .distinct()
    )
    r = F.col("hv").bitwiseAND(F.lit(_HLL_RMASK))
    reg = (
        hv.select(
            F.shiftright(F.col("hv"), _HLL_RBITS).alias("bucket"),
            F.when(r == 0, _HLL_RBITS + 1)
            .otherwise(F.lit(_HLL_RBITS + 1) - F.length(F.bin(r)))
            .alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("mreg"))
    )
    row = reg.agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RBITS + 1} - mreg AS INT))"
            )
        ).alias("s_obs"),
        F.count("*").alias("c"),
    ).first()
    raw = _HLL_NUM / float(row.s_obs + (_HLL_M - row.c) * _HLL_EMPTY_W)
    import math

    est = (
        _HLL_M * math.log(_HLL_M / (_HLL_M - row.c))
        if raw <= _HLL_SMALL and row.c < _HLL_M
        else raw
    )
    rse = 1.04 / math.sqrt(_HLL_M)
    assert abs(est - n_ids) / n_ids < 5 * rse, (n_ids, est)


def test_ks_identical_samples_is_zero(spark, sf_dir):
    """KS on two identical samples must report D = 0 and not reject —
    feed the same value set through both sides via a relabeled union."""
    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load
    from eventstream_spark.operators import stats as S

    ev = load(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    both = ev.select(
        F.explode(F.array(F.lit("purchase"), F.lit("click"))).alias(
            "event_type"
        ),
        "value",
    )
    g = (
        both.select(
            F.round(F.col("value") * 1e6).cast("long").alias("vm"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("i1"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("i2"),
        )
        .groupBy("vm")
        .agg(F.sum("i1").alias("c1"), F.sum("i2").alias("c2"))
    )
    row = g.agg(
        F.max(F.abs(F.col("c1") - F.col("c2"))).alias("gap")
    ).first()
    assert row.gap == 0


def test_winsorized_mean_is_bounded_by_cutpoints(spark, sf_dir):
    """For every event type the winsorized mean lies inside [p05, p95] and
    clips at most ~10% of rows (5% per tail, plus interpolation ties)."""
    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.stats import q187_winsorized_mean

    out = {r.event_type: r for r in q187_winsorized_mean(spark, sf_dir).collect()}
    cuts = {
        r.event_type: r
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.05)").alias("p05"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    for t, r in out.items():
        assert cuts[t].p05 <= r.wins_mean <= cuts[t].p95, t
        assert r.n_clipped <= 0.11 * r.n, t


def test_cusum_constant_series_has_zero_deviation(spark):
    """A constant daily series has CUSUM == 0 everywhere: n*v - S == 0 per
    day, so the reported max deviation must be exactly 0."""
    import pyspark.sql.functions as F

    rows = [("a", d, 100) for d in range(10)]
    s = spark.createDataFrame(rows, "event_type string, d int, vm long")
    tot = s.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("vm").alias("stot")
    )
    j = s.join(tot, "event_type").select(
        (F.col("n") * F.col("vm") - F.col("stot")).alias("term")
    )
    assert j.agg(F.max(F.abs(F.col("term")))).first()[0] == 0


def test_int8_quant_error_bounded_by_half_scale(spark, sf_dir):
    """Symmetric absmax INT8: every element's reconstruction error is at
    most scale/2 (round-to-nearest), so the reported worst element must
    be <= max_dim_scale / 2 + quantization-of-report slack."""
    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.stats import q186_int8_quant

    row = q186_int8_quant(spark, sf_dir).first()
    max_scale = (
        load(spark, sf_dir, "embeddings")
        .select(F.explode("embedding").alias("x"))
        .agg((F.max(F.abs(F.col("x").cast("double"))) / 127.0).alias("s"))
        .first()
        .s
    )
    assert row.max_abs_err <= max_scale / 2 + 1e-6
    assert row.rmse <= row.max_abs_err


def test_waterfill_allocation_is_exact_and_feasible(spark, sf_dir):
    """Water-filling must (a) never allocate past a source's capacity,
    (b) spend EXACTLY the integer budget when demand exceeds it, and
    (c) give every uncapped source at least as much as any capped one."""
    import pyspark.sql.functions as F

    from eventstream_spark.operators.stats import (
        _WF_BUDGET_PCT,
        q196_budget_waterfill,
    )

    rows = q196_budget_waterfill(spark, sf_dir).collect()
    total_cap = sum(r.capacity for r in rows)
    budget = total_cap * _WF_BUDGET_PCT // 100
    assert all(r.allocated <= r.capacity for r in rows)
    assert sum(r.allocated for r in rows) == min(budget, total_cap)
    capped_max = max((r.allocated for r in rows if r.at_capacity), default=0)
    uncapped_min = min(
        (r.allocated for r in rows if not r.at_capacity), default=None
    )
    if uncapped_min is not None:
        assert uncapped_min >= capped_max


def test_leakage_safe_split_keeps_clusters_whole(spark, sf_dir):
    """q200's invariant: every near-dup cluster lands WHOLLY inside one
    split (the leakage mode it exists to prevent), totals cover the corpus
    exactly once, and the split of each doc equals hash48(representative)
    % 10 recomputed independently in Python (md5 is engine-neutral)."""
    import hashlib

    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.dedup import (
        cc_labels,
        q200_leakage_safe_split,
    )

    docs = load(spark, sf_dir, "documents")
    rows = q200_leakage_safe_split(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == docs.count()

    labels = {r.node: r.label for r in cc_labels(docs).collect()}
    doc_ids = [r.doc_id for r in docs.select("doc_id").collect()]

    def split_of(doc_id: int) -> str:
        rep = labels.get(doc_id, doc_id)
        b = int(hashlib.md5(str(rep).encode()).hexdigest()[:12], 16) % 10
        return "train" if b <= 7 else ("val" if b == 8 else "test")

    want = {"train": 0, "val": 0, "test": 0}
    for d in doc_ids:
        want[split_of(d)] += 1
    got = {r.split: r.n_docs for r in rows}
    for s in want:
        assert got.get(s, 0) == want[s], s

    # cluster integrity: all members of one label share one split
    by_label: dict[int, set[str]] = {}
    for node, label in labels.items():
        by_label.setdefault(label, set()).add(split_of(node))
    assert all(len(s) == 1 for s in by_label.values())


def test_novelty_curve_is_cumulative_and_complete(spark, sf_dir):
    """q199's invariants: cum_shingles is the running sum of new_shingles,
    the final cumulative count equals the corpus's distinct-shingle count,
    and every decile is within [0, 9]."""
    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.operators.dedup import (
        q199_novelty_curve,
        shingle_table,
    )

    rows = q199_novelty_curve(spark, sf_dir).collect()
    run = 0
    for r in rows:
        assert 0 <= r.decile <= 9
        run += r.new_shingles
        assert r.cum_shingles == run
    distinct = (
        shingle_table(spread(load(spark, sf_dir, "documents")))
        .select("s")
        .distinct()
        .count()
    )
    assert rows[-1].cum_shingles == distinct


def test_mmd_zero_for_identical_groups_positive_for_shifted(spark, tmp_path):
    """q206: linear-kernel MMD^2 is 0 when two label groups hold identical
    vector sets, and ~dim * shift^2 when one group is a constant shift of
    the other — the two calibration points that catch a wrong mean or a
    dropped dimension."""
    from pyspark.sql import Row

    from eventstream_spark.operators.similarity import q206_mmd_drift

    dim = 4
    base = [[(i * 7 + j) % 5 / 10.0 for j in range(dim)] for i in range(6)]
    rows = []
    vid = 0
    for label, shift in ((0, 0.0), (1, 0.0), (2, 0.25)):
        for v in base:
            rows.append(Row(vec_id=vid, embedding=[x + shift for x in v], label=label))
            vid += 1
    d = str(tmp_path / "mmd")
    spark.createDataFrame(rows).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    out = {(r.label_a, r.label_b): r for r in q206_mmd_drift(spark, d).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 1)].mmd2 == 0.0
    expect = dim * 0.25**2
    assert abs(out[(0, 2)].mmd2 - expect) < 1e-4
    assert abs(out[(1, 2)].mmd2 - expect) < 1e-4
    assert out[(0, 1)].dims == dim


def test_triplet_mining_picks_hardest_pair(spark, tmp_path):
    """q207 on a corpus that fits one mini-batch: the positive is the
    same-label vector with the LOWEST cosine, the negative the other-label
    vector with the HIGHEST cosine, and the hard flag fires exactly when
    the negative outranks the positive. Anchors with no same-label partner
    in the batch drop out."""
    from pyspark.sql import Row

    from eventstream_spark.operators.similarity import q207_triplet_mining

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),   # anchor under test
        Row(vec_id=1, embedding=[1.0, 0.2], label=0),   # easy positive
        Row(vec_id=2, embedding=[0.0, 1.0], label=0),   # hardest positive
        Row(vec_id=3, embedding=[1.0, 0.05], label=1),  # hardest negative
        Row(vec_id=4, embedding=[-1.0, 0.0], label=1),  # easy negative
        Row(vec_id=5, embedding=[0.5, 0.5], label=2),   # no same-label peer
    ]
    d = str(tmp_path / "triplets")
    spark.createDataFrame(rows).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    out = {r.anchor: r for r in q207_triplet_mining(spark, d).collect()}
    assert 5 not in out  # lone label has no positive
    r0 = out[0]
    assert r0.pos_id == 2 and r0.neg_id == 3
    assert r0.cos_neg > r0.cos_pos and r0.hard == 1
    r2 = out[2]  # orthogonal anchor: negatives all score below its positives
    assert r2.hard in (0, 1)


def test_dsir_selects_exact_budget_and_favors_target_like_docs(spark, sf_dir):
    """DSIR (q211): the global selection is EXACTLY ceil(n/4) docs, and
    the held-in target slice (doc_id % 4 == 0) scores a higher mean
    importance weight than the rest — the λ log-ratios are trained to
    recognize exactly that slice's gram distribution."""
    import math

    from eventstream_spark.operators.text import q211_dsir_select

    out = q211_dsir_select(spark, sf_dir).collect()
    n = sum(r.n_docs for r in out)
    assert sum(r.n_selected for r in out) == math.ceil(n / 4)
    # selected mean weight dominates the per-source overall mean wherever
    # anything was selected (selection is a global top-fraction by weight)
    for r in out:
        if r.n_selected and r.n_selected < r.n_docs:
            assert r.avg_w_sel >= r.avg_w


def test_embedding_gram_matches_numpy_exactly(spark, sf_dir):
    """q212's distributed int64-matmul partials reduce to EXACTLY the
    single-machine quantized Gram/covariance — no float drift anywhere."""
    import numpy as np
    from pyspark.sql.functions import col

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import q212_embedding_gram

    emb = spread(load(spark, sf_dir, "embeddings"))
    vecs = [
        list(r.v)
        for r in emb.select(as_double_array(col("embedding")).alias("v")).collect()
    ]
    X = np.floor(np.array(vecs, dtype=np.float64) * 1000.0 + 0.5).astype(np.int64)
    n, d = X.shape
    G = X.T @ X
    S = X.sum(axis=0)
    got = q212_embedding_gram(spark, sf_dir).collect()
    assert len(got) == d * (d + 1) // 2
    for r in got:
        assert r.gram == G[r.i, r.j], (r.i, r.j)
        # mirror the engines' float64 op tree exactly: Sij/n - (Si/n)(Sj/n)
        # (the int64 spelling n*Sij - Si*Sj wraps past n ~ 3e6 — ADVICE r7)
        expect_cov = int(
            np.floor(
                np.float64(G[r.i, r.j]) / np.float64(n)
                - (np.float64(S[r.i]) / np.float64(n))
                * (np.float64(S[r.j]) / np.float64(n))
                + 0.5
            )
        )
        assert r.cov_m2 == expect_cov, (r.i, r.j)


def test_negative_sampling_table_is_flattened_and_monotone(spark, sf_dir):
    """q213: cum_prob is strictly increasing in rank and <= 1; the 0.75
    exponent FLATTENS the distribution (probability ratios are damped
    below raw count ratios for every adjacent pair with distinct counts)."""
    from eventstream_spark.operators.text import q213_negative_sampling

    rows = q213_negative_sampling(spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r.rank)
    cums = [r.cum_prob for r in rows]
    assert all(b > a for a, b in zip(cums, cums[1:]))
    assert cums[-1] <= 1.0 + 1e-9
    for a, b in zip(rows, rows[1:]):
        if a.cnt > b.cnt and b.prob > 0:
            assert a.prob / b.prob < a.cnt / b.cnt + 1e-9


def test_selection_curve_is_monotone_and_exhaustive(spark, sf_dir):
    """q214: the operating curve is a valid cumulative frontier — the
    decile threshold and the cumulative mean quality both fall as the cut
    loosens, and decile 10 covers the whole corpus exactly."""
    from eventstream_spark.catalog import load
    from eventstream_spark.operators.text import q214_selection_curve

    rows = q214_selection_curve(spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    thrs = [r.thr_logit for r in rows]
    assert all(a >= b for a, b in zip(thrs, thrs[1:]))
    means = [r.cum_avg_logit for r in rows]
    assert all(a >= b for a, b in zip(means, means[1:]))
    n_docs = load(spark, sf_dir, "documents").count()
    assert rows[-1].cum_docs == n_docs
    assert abs(rows[-1].cum_tok_share - 1.0) < 1e-9
    cd = [r.cum_docs for r in rows]
    assert all(b > a for a, b in zip(cd, cd[1:]))


def test_data_constrained_budget_identities(spark, sf_dir):
    """q215: uniform budget split, effective tokens never exceed the
    allocation, a source that fits inside its allocation yields 1.0, and
    any repeated source still yields at least one full pass (D' >= U)
    but strictly less than the raw allocation (repetition decays)."""
    from eventstream_spark.operators.text import q215_data_constrained

    rows = q215_data_constrained(spark, sf_dir).collect()
    allocs = {r.alloc_tokens for r in rows}
    assert len(allocs) == 1  # uniform split
    for r in rows:
        assert r.eff_tokens <= r.alloc_tokens
        if r.epochs <= 1.0:
            assert r.eff_tokens == r.alloc_tokens and r.budget_yield == 1.0
        else:
            assert r.eff_tokens >= r.u_tok
            assert r.budget_yield < 1.0


def test_ivfpq_candidates_are_cell_bounded(spark, sf_dir):
    """q217's defining structural property vs q85's corpus-wide ADC scan:
    every reported neighbor lives in one of the query's n_probe probed
    cells (the inverted-file bound), ranks are complete 1..5 with ADC
    non-decreasing, and no query reports itself."""
    import numpy as np
    from pyspark.sql.functions import col

    from eventstream_spark.catalog import load
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import (
        _IVF_CELLS,
        _IVF_PROBE,
        ivf_assign,
        q217_ivfpq_ann,
    )

    emb = load(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select("vec_id", as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    centroids = [(int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)]
    cell_of = {
        r.vec_id: r.cell
        for r in ivf_assign(emb, centroids).select("vec_id", "cell").collect()
    }
    C = np.array([cv for _, cv in centroids])
    ids = np.array([cid for cid, _ in centroids])
    qv = {
        r.vec_id: np.array(list(r.v))
        for r in emb.select(
            "vec_id", as_double_array(col("embedding")).alias("v")
        ).where(col("vec_id").isin(100, 101, 102)).collect()
    }
    probed = {
        q: set(ids[np.argsort(((C - v) ** 2).sum(axis=1), kind="stable")[: _IVF_PROBE]])
        for q, v in qv.items()
    }
    out = q217_ivfpq_ann(spark, sf_dir).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {100, 101, 102}
    for q, rows in by_q.items():
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        adcs = [r.adc for r in rows]
        assert all(a <= b for a, b in zip(adcs, adcs[1:]))
        for r in rows:
            assert r.neighbor_id != q
            assert cell_of[r.neighbor_id] in probed[q]


def test_pca_power_matches_numpy_integer_walk(spark, sf_dir):
    """q218's distributed quantized power iteration must walk EXACTLY the
    single-machine integer sequence (same quantized covariance, same
    all-ones start, same FLOOR renormalization), and the final iterate is
    max-normalized (some |v_micro| == 1e6) with a positive eigenvalue
    estimate for real data."""
    import numpy as np
    from pyspark.sql.functions import col

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import _PCA_ITERS, q218_pca_power

    emb = spread(load(spark, sf_dir, "embeddings"))
    vecs = [
        list(r.v)
        for r in emb.select(as_double_array(col("embedding")).alias("v")).collect()
    ]
    X = np.floor(np.array(vecs, dtype=np.float64) * 1000.0 + 0.5).astype(np.int64)
    n, d = X.shape
    G = X.T @ X
    S = X.sum(axis=0)
    # mirror the engines' float64 tree (ADVICE r7): Sij/n - (Si/n)(Sj/n)
    Sn = S.astype(np.float64) / np.float64(n)
    C = np.floor(
        G.astype(np.float64) / np.float64(n) - np.outer(Sn, Sn) + 0.5
    ).astype(np.int64)
    v = np.full(d, 1_000_000, dtype=np.int64)
    for _ in range(_PCA_ITERS):
        w = C @ v
        m = np.abs(w).max()
        v = np.floor(1e6 * w / m + 0.5).astype(np.int64)
    got = q218_pca_power(spark, sf_dir).collect()
    assert len(got) == d
    for r in got:
        assert r.v_micro == v[r.i], r.i
    assert max(abs(r.v_micro) for r in got) == 1_000_000
    expect_eig = int(np.floor(m / 1e6 + 0.5))
    assert all(r.eig_m2 == expect_eig and r.eig_m2 > 0 for r in got)


def test_suffix_repeat_lengths_vs_bruteforce(spark, sf_dir):
    """q219 (suffix-ordering exact-substring dedup) vs a single-machine
    brute force over the fixture corpus — the round-7 VERDICT property
    spec: (a) every detected length-L repeat at (doc, pos) IS a verbatim
    repeat (its L-gram occurs at >= 2 distinct positions corpus-wide),
    (b) it is MAXIMAL below the depth cap (the (L+1)-gram, where one
    exists, occurs once), and (c) no fixed-width-detectable repeat is
    missed (every position whose _SPAN_N-gram repeats scores
    rep_len >= _SPAN_N) — plus rep_len == 0 means even the unigram is
    unique."""
    from collections import Counter

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.dedup import (
        _SFX_DEPTH,
        _SPAN_N,
        suffix_repeat_lengths,
    )

    docs = load(spark, sf_dir, "documents")
    toks = {
        r.doc_id: [t for t in r.text.split() if t]
        for r in docs.select("doc_id", "text").collect()
    }
    cnt: dict[int, Counter] = {l: Counter() for l in range(1, _SFX_DEPTH + 2)}
    for t in toks.values():
        for l in cnt:
            for p in range(len(t) - l + 1):
                cnt[l][tuple(t[p : p + l])] += 1
    got = suffix_repeat_lengths(docs).collect()
    assert len(got) == sum(len(t) for t in toks.values())
    n_dup = 0
    for r in got:
        t = toks[r.doc_id]
        p0 = r.pos - 1
        if r.rep_len > 0:
            g = tuple(t[p0 : p0 + r.rep_len])
            assert len(g) == r.rep_len and cnt[r.rep_len][g] >= 2, (r, g)
            n_dup += 1
            if r.rep_len < _SFX_DEPTH and p0 + r.rep_len < len(t):
                g1 = tuple(t[p0 : p0 + r.rep_len + 1])
                assert cnt[r.rep_len + 1][g1] == 1, (r, g1)
        else:
            assert cnt[1][(t[p0],)] == 1, r
        if p0 + _SPAN_N <= len(t) and cnt[_SPAN_N][tuple(t[p0 : p0 + _SPAN_N])] >= 2:
            assert r.rep_len >= _SPAN_N, r
    assert n_dup > 0  # the fixture's near-dup docs guarantee real repeats


def test_suffix_window_exchange_is_one_to_one(spark):
    """The suffix stage tags range partition p with _partition_keys(n)[p]
    and hash-repartitions on the tag into n partitions before its window:
    every tag must land in its own partition. The Python port of Spark's
    int hash must agree with F.hash, extremes included, and the raw
    partition ids must NOT be one to one (the collision the tags avoid)."""
    import pyspark.sql.functions as F

    from eventstream_spark.operators.dedup import _partition_keys, _spark_hash_int

    vals = list(range(-300, 300)) + [2**31 - 1, -(2**31), 123_456_789]
    got = spark.createDataFrame([(v,) for v in vals], "v int").select(F.hash("v"))
    assert [r[0] for r in got.collect()] == [_spark_hash_int(v) for v in vals]

    def landing(tags: list[int], n: int) -> list[int]:
        df = spark.createDataFrame([(t,) for t in tags], "t int")
        rows = df.repartition(n, "t").select("t", F.spark_partition_id()).collect()
        where = {r[0]: r[1] for r in rows}
        return [where[t] for t in tags]

    for n in (1, 3, 4, 25, 32):
        assert landing(_partition_keys(n), n) == list(range(n)), n
    assert len(set(landing(list(range(4)), 4))) < 4


def test_q217b_grown_geometry(spark, sf_dir):
    """q217b: the corpus-derived IVF geometry follows the pinned rules
    (cells = ceil(sqrt N), probes = max(2, ceil(log2(cells+1)))), and the
    result is a full top-5 per probe query with non-negative de-scaled
    integer ADC."""
    from eventstream_spark.operators.similarity import (
        auto_cells,
        auto_probe,
        q217b_ivfpq_ann_scaled,
    )

    assert auto_cells(1) == 1 and auto_cells(500) == 23 and auto_cells(200_000) == 448
    assert auto_probe(1) == 2 and auto_probe(23) == 5 and auto_probe(448) == 9
    rows = q217b_ivfpq_ann_scaled(spark, sf_dir).collect()
    assert {r.q_id for r in rows} == {100, 101, 102}
    for q in (100, 101, 102):
        rr = sorted((r for r in rows if r.q_id == q), key=lambda r: r.rank)
        assert [r.rank for r in rr] == [1, 2, 3, 4, 5]
        assert all(r.adc >= 0 and r.neighbor_id != q for r in rr)
        assert [r.adc for r in rr] == sorted(r.adc for r in rr)


def test_substring_removal_is_interval_union(spark, sf_dir):
    """q220's removal accounting equals the interval union computed
    directly from the per-position repeat lengths: a position is removed
    iff some qualifying span (rep_len >= _SPAN_N) starting at or before it
    reaches past it — in particular the TRAILING positions of a long
    repeat (whose own rep_len sits below the threshold) are removed, and
    every qualifying start is removed."""
    from collections import defaultdict

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.dedup import (
        _SPAN_N,
        q220_substring_removal,
        suffix_repeat_lengths,
    )

    docs = load(spark, sf_dir, "documents")
    per_doc: dict = defaultdict(list)
    src_of = {}
    for r in suffix_repeat_lengths(docs).collect():
        per_doc[r.doc_id].append((r.pos, r.rep_len))
        src_of[r.doc_id] = r.source
    exp: dict = defaultdict(lambda: [0, 0, 0, 0])  # docs, tok, removed, gone
    saw_trailing_removal = False
    for d, lst in per_doc.items():
        lst.sort()
        end, rm = 0, 0
        for pos, l in lst:
            if l >= _SPAN_N:
                end = max(end, pos + l)
            if end > pos:
                rm += 1
                if l < _SPAN_N:
                    saw_trailing_removal = True
        e = exp[src_of[d]]
        e[0] += 1
        e[1] += len(lst)
        e[2] += rm
        e[3] += rm == len(lst)
    got = {r.source: r for r in q220_substring_removal(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for s, e in exp.items():
        g = got[s]
        assert (g.n_docs, g.total_tokens, g.removed_tokens, g.n_docs_gone) == tuple(e), s
        assert abs(g.removal_rate - e[2] / e[1]) < 1e-3
    assert saw_trailing_removal  # the interval union did real work


def test_doremi_step_is_a_smoothed_distribution(spark, sf_dir):
    """q221: the reweighted domain distribution sums to 1, respects the
    uniform smoothing floor c/K on every domain, excess is non-negative,
    and a domain with zero excess gets weight <= its EG-boosted peers'
    relative to base share (the EG step only UP-weights via exp(eta *
    excess) >= 1)."""
    from eventstream_spark.operators.text import (
        _DRM_SMOOTH,
        q221_doremi_step,
    )

    rows = q221_doremi_step(spark, sf_dir).collect()
    k = len(rows)
    assert k >= 3
    assert abs(sum(r.doremi_weight for r in rows) - 1.0) < 1e-2
    assert abs(sum(r.base_share for r in rows) - 1.0) < 1e-2
    floor = _DRM_SMOOTH / k
    for r in rows:
        assert r.excess >= 0
        assert r.doremi_weight >= floor - 1e-4, r
        assert r.nll_full > 0 and r.nll_ref > 0
    # EG monotonicity: among equal-share domains, higher excess never
    # yields a lower weight (check via weight/share ordering vs excess)
    by_excess = sorted(rows, key=lambda r: (r.excess, r.source))
    ratios = [r.doremi_weight / r.base_share for r in by_excess if r.base_share > 0]
    # allow ties/noise at 4dp; overall trend must be non-decreasing ends
    assert ratios[-1] >= ratios[0] - 1e-3


def test_ann_recall_audit_matches_numpy_ground_truth(spark, sf_dir):
    """q222 against a full single-machine recomputation: candidate hits
    equal the count of exact-5 neighbors whose assigned cell is among the
    query's probed cells, and end-to-end hits can never exceed the
    candidate ceiling (ADC candidates come only from probed cells)."""
    import numpy as np

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.similarity import (
        auto_cells,
        auto_probe,
        q222_ann_recall_audit,
    )

    rows = {r.q_id: r for r in q222_ann_recall_audit(spark, sf_dir).collect()}
    assert set(rows) == {100, 101, 102}
    d = sorted(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in d])
    X = np.floor(
        np.array([list(r.embedding) for r in d], dtype=np.float64) * 1000.0 + 0.5
    )
    n = len(ids)
    nc, npb = auto_cells(n), auto_probe(auto_cells(n))
    C, cell_ids = X[:nc], ids[:nc]
    D = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
    asn = D.argmin(axis=1)
    for q in (100, 101, 102):
        qi = int(np.where(ids == q)[0][0])
        dq = ((X - X[qi]) ** 2).sum(1)
        dq[qi] = np.inf
        exact5 = np.lexsort((ids, dq))[:5]
        probed = set(np.lexsort((cell_ids, D[qi]))[:npb])
        exp_cand = sum(1 for e in exact5 if asn[e] in probed)
        r = rows[q]
        assert r.n_cand_hits == exp_cand, (q, r, exp_cand)
        assert abs(r.cand_recall - exp_cand / 5.0) < 1e-6
        assert 0 <= r.n_hits <= r.n_cand_hits


def test_rho_select_cuts_exact_global_quarter(spark, sf_dir):
    """q224: the selection is a GLOBAL top-ceil(n/4) cut — per-source
    selected counts sum to exactly that, every rate is consistent, and
    selected docs exist in more than one source (the cut is global, not
    stratified)."""
    from eventstream_spark.operators.text import _RHO_KEEP_DEN, q224_rho_select

    out = q224_rho_select(spark, sf_dir).collect()
    n = sum(r.n_docs for r in out)
    k = sum(r.n_selected for r in out)
    assert k == (n + _RHO_KEEP_DEN - 1) // _RHO_KEEP_DEN
    assert sum(1 for r in out if r.n_selected > 0) >= 2
    for r in out:
        assert 0 <= r.n_selected <= r.n_docs
        assert abs(r.sel_rate - r.n_selected / r.n_docs) < 1e-3
        assert (r.kept_tokens > 0) == (r.n_selected > 0)


def test_curriculum_order_is_staged_and_contiguous(spark, sf_dir):
    """q223: the epoch order is a true curriculum — each stage occupies a
    CONTIGUOUS global position range (last - first + 1 == n_docs), stages
    are strictly ordered (stage s ends before s+1 begins, covering
    1..N with no gaps), and mean difficulty is monotone (avg_logp
    non-increasing: easy/typical docs first)."""
    from eventstream_spark.operators.text import _CURR_K, q223_curriculum_order

    rows = sorted(q223_curriculum_order(spark, sf_dir).collect(), key=lambda r: r.stage)
    assert [r.stage for r in rows] == list(range(1, _CURR_K + 1))
    expect_first = 1
    for r in rows:
        assert r.last_pos - r.first_pos + 1 == r.n_docs, r
        assert r.first_pos == expect_first, r
        expect_first = r.last_pos + 1
    logs = [r.avg_logp for r in rows]
    assert all(a >= b for a, b in zip(logs, logs[1:]))


def test_sequence_pack_matches_bruteforce_packing(spark, sf_dir):
    """q228: per-shard totals, sequence counts, straddle counts, and the
    (doc -> first sequence) assignment checksum all equal a Python
    brute-force replay of the concat-and-split layout (same hash order,
    same running sum, same C)."""
    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import tokens
    from eventstream_spark.operators.similarity import _h48_py
    from eventstream_spark.operators.text import (
        _PACK_C,
        _PACK_SHARDS,
        q228_sequence_pack,
    )

    docs = spread(load(spark, sf_dir, "documents"))
    toks = {
        int(r.doc_id): int(r.n)
        for r in docs.select(
            "doc_id", F.size(tokens("text")).alias("n")
        ).collect()
        if int(r.n) > 0
    }
    by_shard: dict[int, list[tuple[int, int, int]]] = {}
    for doc_id, n in toks.items():
        k = _h48_py(f"pack:{doc_id}")
        by_shard.setdefault(k % _PACK_SHARDS, []).append((k, doc_id, n))
    expect = {}
    for shard, items in by_shard.items():
        items.sort()
        cum = 0
        straddle = 0
        assign = 0
        for k, doc_id, n in items:
            first = cum // _PACK_C
            last = (cum + n - 1) // _PACK_C
            straddle += 1 if last > first else 0
            assign += _h48_py(f"{doc_id}:{first}") % 1000003
            cum += n
        expect[shard] = (
            len(items),
            cum,
            -(-cum // _PACK_C),
            straddle,
            assign,
        )
    got = {
        int(r.shard): (
            int(r.n_docs),
            int(r.total_tokens),
            int(r.n_seqs),
            int(r.n_straddle),
            int(r.assign_sum),
        )
        for r in q228_sequence_pack(spark, sf_dir).collect()
    }
    assert got == expect


def test_calibration_bins_are_consistent(spark, sf_dir):
    """q230: bins partition the corpus, each bin's mean prediction sits
    inside the bin's probability range, and gap_m = |mean_pred - emp|."""
    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load
    from eventstream_spark.operators.text import q230_calibration_ece

    rows = q230_calibration_ece(spark, sf_dir).collect()
    n_corpus = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_corpus
    for r in rows:
        lo, hi = r.bin * 100, r.bin * 100 + 99
        assert lo <= r.mean_pred_m <= hi + 1, r
        assert 0 <= r.n_pos <= r.n_docs
        emp = 1000.0 * r.n_pos / r.n_docs
        assert abs(r.gap_m - abs(r.mean_pred_m - round(emp, 3))) < 0.01, r


def test_cluster_balanced_select_matches_numpy(spark, sf_dir):
    """q229: per-cell membership, quota (ceil sqrt), and the kept-id
    checksum equal a numpy replay of the milli-quantized assignment +
    closest-first selection."""
    import math

    import numpy as np

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import (
        _h48_py,
        auto_cells,
        q229_cluster_balanced_select,
    )
    from pyspark.sql.functions import col

    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        "vec_id", as_double_array(col("embedding")).alias("v")
    )
    rows = sorted((int(r.vec_id), list(r.v)) for r in e.collect())
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    X = np.floor(np.array([v for _, v in rows]) * 1000.0 + 0.5)
    n_cells = auto_cells(len(rows))
    C = X[:n_cells]  # seeds = lowest vec_ids, rows sorted
    cell_ids = ids[:n_cells]
    D = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
    ci = D.argmin(1)
    d = D.min(1).astype(np.int64)
    expect = {}
    for c_pos in set(ci):
        mask = ci == c_pos
        members = sorted(zip(d[mask], ids[mask]))
        quota = math.ceil(math.sqrt(len(members)))
        kept = members[:quota]
        expect[int(cell_ids[c_pos])] = (
            len(members),
            quota,
            sum(_h48_py(str(int(v))) % 1000003 for _, v in kept),
        )
    got = {
        int(r.cell): (int(r.n_members), int(r.n_kept), int(r.kept_sum))
        for r in q229_cluster_balanced_select(spark, sf_dir).collect()
    }
    assert got == expect


def test_int8_recall_matches_numpy(spark, sf_dir):
    """q232: recall@5 equals a numpy replay of absmax-int8 quantization
    and both exact 5-NN rankings (vec_id tiebreak)."""
    import numpy as np

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import q232_int8_recall_audit
    from pyspark.sql.functions import col

    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        "vec_id", as_double_array(col("embedding")).alias("v")
    )
    rows = sorted((int(r.vec_id), list(r.v)) for r in e.collect())
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    X = np.array([v for _, v in rows])
    scales = np.maximum(np.abs(X).max(0), 1e-12) / 127.0
    # numpy rounds half-to-even; Spark/duckdb ROUND is half-away-from-zero
    Q = np.clip(np.floor(np.abs(X / scales) + 0.5) * np.sign(X), -127, 127)
    M = np.floor(X * 1000.0 + 0.5)

    def top5(mat, qi):
        dd = ((mat - mat[qi]) ** 2).sum(1)
        order = sorted((dd[j], ids[j]) for j in range(len(ids)) if j != qi)
        return [v for _, v in order[:5]]

    expect = {}
    for q in (100, 101, 102):
        qi = int(np.where(ids == q)[0][0])
        hits = len(set(top5(Q, qi)) & set(top5(M, qi)))
        expect[q] = (hits, round(hits / 5.0, 4))
    got = {
        int(r.q_id): (int(r.hits), float(r.recall_at_5))
        for r in q232_int8_recall_audit(spark, sf_dir).collect()
    }
    assert got == expect
    # The audit pins query ids 100/101/102; a fixture or scale generator
    # that dropped them would make the recall gate silently measure
    # nothing (zero rows, both engines trivially agree) — fail LOUD here
    # instead (round-9 ADVICE).
    assert set(got) == {100, 101, 102}


def test_stream_quality_gate_equals_batch_and_bounded_state(spark, sf_dir):
    """q231: the drained streaming gate equals q201's batch aggregate
    row-for-row, the drain is genuinely multi-batch, and peak state is
    exactly |sources| rows."""
    from eventstream_spark.operators.streaming_queries import (
        LAST_RUN_INFO,
        q231_stream_quality_gate,
    )
    from eventstream_spark.operators.text import q201_classifier_score

    got = [tuple(r) for r in q231_stream_quality_gate(spark, sf_dir).collect()]
    info = dict(LAST_RUN_INFO)
    expect = [tuple(r) for r in q201_classifier_score(spark, sf_dir).collect()]
    assert got == expect
    assert info["n_batches"] >= 2
    assert info["state_rows_peak"] == len(expect)


def test_dedup_threshold_curve_is_monotone_and_anchored(spark, sf_dir):
    """q233: flagged counts are non-increasing in the threshold, and the
    t=500 row equals the number of distinct higher-id docs in q41's exact
    pair table (the curve's anchor)."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.dedup import (
        q41_ngram_jaccard,
        q233_dedup_threshold_curve,
    )

    rows = sorted(
        q233_dedup_threshold_curve(spark, sf_dir).collect(),
        key=lambda r: r.t_milli,
    )
    release_cached()
    flagged = {int(r.d2) for r in q41_ngram_jaccard(spark, sf_dir).collect()}
    assert rows[0].t_milli == 500 and rows[0].n_flagged == len(flagged)
    for a, b in zip(rows, rows[1:]):
        assert a.n_flagged >= b.n_flagged
        assert a.flagged_tokens >= b.flagged_tokens
    for r in rows:
        assert 0 <= r.pct_docs_m <= 1000
        assert 0 <= r.pct_tokens_m <= 1000


def test_suffix_memo_survives_out_of_band_cache_clear(spark, sf_dir):
    """Regression: spark.catalog.clearCache() (which bypasses
    release_cached's memo flush) must NOT leave the q219/q220 shared
    suffix stage poisoned — a stale memo hit would recompute the range
    exchange under a new RDD id (fresh sampled boundaries) while keeping
    the previous materialization's collected edge literals, silently
    corrupting rep_len. The memo must detect the dropped cache and
    rebuild; results before and after the clear must be identical."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.catalog import load, spread
    from eventstream_spark.operators.dedup import (
        q219_suffix_span_dedup,
        suffix_repeat_lengths,
    )

    release_cached()
    before = [tuple(r) for r in q219_suffix_span_dedup(spark, sf_dir).collect()]
    docs = spread(load(spark, sf_dir, "documents"))
    memo_hit = suffix_repeat_lengths(docs)
    spark.catalog.clearCache()
    rebuilt = suffix_repeat_lengths(docs)
    assert rebuilt is not memo_hit  # stale (uncached) memo must not serve
    after = [tuple(r) for r in q219_suffix_span_dedup(spark, sf_dir).collect()]
    release_cached()
    assert after == before


def test_pq_trained_recall_matches_numpy(spark, sf_dir):
    """q240: both variants' recall@5 equal a numpy replay of the milli
    metric, the seeded codebooks, the one-Lloyd-round training (integer
    re-quantized means), and the ADC rankings (vec_id tiebreak)."""
    import numpy as np

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        q240_pq_trained_recall,
    )
    from pyspark.sql.functions import col

    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        "vec_id", as_double_array(col("embedding")).alias("v")
    )
    rows = sorted((int(r.vec_id), list(r.v)) for r in e.collect())
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    X = np.floor(np.array([v for _, v in rows]) * 1000.0 + 0.5)
    dim = X.shape[1]
    dsub = dim // _PQ_M
    S0 = X[np.argsort(ids)[: _PQ_K]]  # ids sorted already; lowest K

    def encode(cbs):
        codes = np.zeros((len(ids), _PQ_M), dtype=np.int64)
        for m, (kids, M) in enumerate(cbs):
            sub = X[:, m * dsub : (m + 1) * dsub]
            D = ((sub[:, None, :] - M[None, :, :]) ** 2).sum(2)
            codes[:, m] = kids[D.argmin(1)]
        return codes

    cb0 = [
        (np.arange(_PQ_K, dtype=np.int64), S0[:, m * dsub : (m + 1) * dsub])
        for m in range(_PQ_M)
    ]
    codes0 = encode(cb0)
    cb1 = []
    for m in range(_PQ_M):
        kids, mats = [], []
        for k in range(_PQ_K):
            members = X[codes0[:, m] == k][:, m * dsub : (m + 1) * dsub]
            if len(members):
                kids.append(k)
                mats.append(
                    np.floor(members.sum(0) / len(members) + 0.5)
                )
        cb1.append((np.array(kids, dtype=np.int64), np.array(mats)))
    codes1 = encode(cb1)

    def top5_adc(codes, cbs, qi):
        adc = np.zeros(len(ids))
        for m, (kids, M) in enumerate(cbs):
            qsub = X[qi, m * dsub : (m + 1) * dsub]
            lut = ((M - qsub[None, :]) ** 2).sum(1)
            pos = {int(k): j for j, k in enumerate(kids)}
            adc += np.array([lut[pos[int(c)]] for c in codes[:, m]])
        order = sorted(
            (adc[j], ids[j]) for j in range(len(ids)) if j != qi
        )
        return {v for _, v in order[:5]}

    def top5_exact(qi):
        d = ((X - X[qi]) ** 2).sum(1)
        order = sorted((d[j], ids[j]) for j in range(len(ids)) if j != qi)
        return {v for _, v in order[:5]}

    expect = {}
    for q in (100, 101, 102):
        qi = int(np.where(ids == q)[0][0])
        ex = top5_exact(qi)
        expect[("seeded", q)] = len(ex & top5_adc(codes0, cb0, qi))
        expect[("trained", q)] = len(ex & top5_adc(codes1, cb1, qi))
    got = {
        (r.variant, int(r.q_id)): int(r.n_hits)
        for r in q240_pq_trained_recall(spark, sf_dir).collect()
    }
    assert got == expect
    assert set(got) == {(v, q) for v in ("seeded", "trained") for q in (100, 101, 102)}


def test_stream_ivf_ingest_equals_batch_and_bounded_state(spark, sf_dir):
    """q239: the drained streaming IVF ingest equals q237's batch
    maintenance view row-for-row, and peak state is bounded by the cell
    count (one counter row per cell with delta members), never the
    delta's row count."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.similarity import (
        q237_incremental_ivf_ingest,
    )
    from eventstream_spark.operators.streaming_queries import (
        LAST_RUN_INFO,
        q239_stream_ivf_ingest,
    )

    got = [tuple(r) for r in q239_stream_ivf_ingest(spark, sf_dir).collect()]
    info = dict(LAST_RUN_INFO)
    release_cached()
    expect = [
        tuple(r) for r in q237_incremental_ivf_ingest(spark, sf_dir).collect()
    ]
    assert got == expect
    n_cells_with_delta = sum(1 for r in expect if r[2] > 0)
    assert 0 < info["state_rows_peak"] <= n_cells_with_delta
    assert info["rows_per_sec"] > 0 and info["drain_sec"] > 0


def test_jaccard_pairs_heavy_shingle_paths_match_bruteforce(spark):
    """jaccard_pairs df-cap escape hatches: with df_cap=2 on a synthetic
    boilerplate corpus, heavy shingles (df > 2) flow through BOTH side
    paths — the per-pair heavy-array completion (pairs with light
    evidence) and the heavy-dominated posting inclusion (pairs whose
    overlap is pure boilerplate) — and every pair still matches a
    brute-force Python Jaccard over the same distinct-trigram sets. The
    fixtures never exercise these paths (max df 25 < 256), so this test
    is their only pin."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.dedup import jaccard_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    prose = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"  # 11 shared prose tokens
    docs = [
        # pure-boilerplate near-identical group: ALL shared shingles are
        # heavy AND every doc is heavy-dominated (nh >= t'*n) — the
        # heavy-dominated posting-inclusion path
        (0, boiler),
        (1, boiler + " extra"),
        (2, boiler + " other tail"),
        # majority-light pair sharing the heavy boilerplate run: nh=10 <
        # t'*n=0.499*22, so NOT heavy-dominated — the per-pair
        # heavy-array completion path (need_hv)
        (3, prose + " x3 " + boiler),
        (4, prose + " x4 " + boiler),
        # light-only near-dup pair, no boilerplate at all
        (5, "one two three four five six seven eight nine ten"),
        (6, "one two three four five six seven eight nine eleven"),
        # unrelated doc
        (7, "completely different text with no overlap whatsoever here"),
    ]

    def trigrams(text):
        w = text.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expect = {}
    for i, (d1, t1) in enumerate(docs):
        for d2, t2 in docs[i + 1 :]:
            s1, s2 = trigrams(t1), trigrams(t2)
            jac = round(len(s1 & s2) / len(s1 | s2), 6)
            if jac >= 0.5:
                expect[(d1, d2)] = jac

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.d1, r.d2): r.jac
        for r in jaccard_pairs(df, 0.5, df_cap=2).collect()
    }
    release_cached()
    assert got == expect
    # sanity: the synthetic corpus really exercises both escape hatches
    assert expect, "test corpus must contain qualifying pairs"
    assert (0, 1) in expect  # heavy-dominated (pure-boilerplate) path
    assert (3, 4) in expect  # light evidence + heavy completion path


def test_domain_transfer_matrix_matches_python_replay(spark, sf_dir):
    """q234: the K×K matrix equals an exact Python replay of the
    milli-nat Laplace LMs (shared union vocab, per-train floors), and
    every diagonal cell is its row's minimum on the fixture (each
    source's own LM explains it best)."""
    import math

    import pyspark.sql.functions as F

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import tokens
    from eventstream_spark.operators.text import q234_domain_transfer_matrix

    def r_away(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    docs = spread(load(spark, sf_dir, "documents"))
    st = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .count()
        .collect()
    )
    counts: dict[str, dict[str, int]] = {}
    for r in st:
        counts.setdefault(r.source, {})[r.term] = int(r["count"])
    vocab = len({t for d in counts.values() for t in d})
    tot = {s: sum(d.values()) for s, d in counts.items()}
    lp = {
        s: {t: r_away(math.log((c + 1.0) / (tot[s] + vocab)) * 1e3)
            for t, c in d.items()}
        for s, d in counts.items()
    }
    fl = {s: r_away(math.log(1.0 / (tot[s] + vocab)) * 1e3) for s in counts}
    expect = {}
    for ts in counts:
        for es in counts:
            num = sum(
                c * lp[ts].get(t, fl[ts]) for t, c in counts[es].items()
            )
            expect[(ts, es)] = round(-num / tot[es] / 1e3, 4)
    got = {
        (r.train_source, r.eval_source): r.ce
        for r in q234_domain_transfer_matrix(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    assert all(abs(got[k] - expect[k]) < 5e-4 for k in expect)
    for es in counts:
        row_min = min(got[(ts, es)] for ts in counts)
        assert got[(es, es)] == row_min, es


def test_doremi_trajectory_is_a_converging_distribution(spark, sf_dir):
    """q235: every step's weights form a (quantized) distribution with the
    smoothing floor, step 0 is the base share, and the maximum-excess
    source's weight is non-decreasing across steps (EG concentrates)."""
    from eventstream_spark.operators.text import (
        _DRM_SMOOTH,
        _TRAJ_T,
        q221_doremi_step,
        q235_doremi_trajectory,
    )

    rows = q235_doremi_trajectory(spark, sf_dir).collect()
    by_step: dict[int, dict[str, float]] = {}
    for r in rows:
        by_step.setdefault(int(r.step), {})[r.source] = float(r.alpha)
    assert sorted(by_step) == list(range(_TRAJ_T + 1))
    k = len(by_step[0])
    for step, w in by_step.items():
        assert len(w) == k
        assert abs(sum(w.values()) - 1.0) < k * 1e-4
        if step > 0:
            assert all(a >= _DRM_SMOOTH / k - 1e-4 for a in w.values())
    q221 = {r.source: (r.excess, r.base_share) for r in
            q221_doremi_step(spark, sf_dir).collect()}
    for s, (_, share) in q221.items():
        assert abs(by_step[0][s] - share) < 1e-3
    hot = max(q221, key=lambda s: q221[s][0])
    traj = [by_step[t][hot] for t in range(_TRAJ_T + 1)]
    assert all(b >= a - 1e-4 for a, b in zip(traj, traj[1:])), traj


def test_mixture_loss_predict_is_the_integer_dot_product(spark, sf_dir):
    """q236: every prediction equals the integer dot product of q221's
    quantized mixture weights with q234's quantized matrix row, and the
    uniform mixture's prediction is the (quantized) row mean."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.text import (
        q221_doremi_step,
        q234_domain_transfer_matrix,
        q236_mixture_loss_predict,
    )

    got = {
        (r.mixture, r.eval_source): r.pred_nats
        for r in q236_mixture_loss_predict(spark, sf_dir).collect()
    }
    release_cached()
    m = {
        (r.train_source, r.eval_source): round(r.ce * 1e4)
        for r in q234_domain_transfer_matrix(spark, sf_dir).collect()
    }
    release_cached()
    w = {r.source: r for r in q221_doremi_step(spark, sf_dir).collect()}
    k = len(w)
    srcs = sorted(w)
    evals = sorted({e for _, e in m})
    mixes = {
        "uniform": {s: round(10000.0 / k) for s in srcs},
        "token_share": {s: round(w[s].base_share * 1e4) for s in srcs},
        "doremi": {s: round(w[s].doremi_weight * 1e4) for s in srcs},
    }
    for mix, a in mixes.items():
        for e in evals:
            pred = round(sum(a[s] * m[(s, e)] for s in srcs) / 1e8, 4)
            assert abs(got[(mix, e)] - pred) < 1e-9, (mix, e)
    for a in mixes.values():
        assert abs(sum(a.values()) - 10000) <= k  # quantized distribution


def test_incremental_ivf_ingest_matches_numpy(spark, sf_dir):
    """q237: standing/delta occupancy, growth, and both mean distances
    equal a numpy replay of assignment against the FROZEN standing
    centroids; totals partition the corpus by the %10 gate."""
    import math

    import numpy as np

    from eventstream_spark.catalog import load, spread
    from eventstream_spark.functions import as_double_array
    from eventstream_spark.operators.similarity import (
        auto_cells,
        q237_incremental_ivf_ingest,
    )
    from pyspark.sql.functions import col

    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        "vec_id", as_double_array(col("embedding")).alias("v")
    )
    rows = sorted((int(r.vec_id), list(r.v)) for r in e.collect())
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    X = np.floor(np.array([v for _, v in rows]) * 1000.0 + 0.5)
    st_mask = ids % 10 != 0
    st_ids = ids[st_mask]
    n_cells = auto_cells(int(st_mask.sum()))
    seed_idx = np.where(st_mask)[0][:n_cells]  # lowest standing vec_ids
    C = X[seed_idx]
    cell_ids = ids[seed_idx]
    D = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
    ci = D.argmin(1)
    d = D.min(1).astype(np.int64)
    expect = {}
    for c_pos in set(ci):
        mask = ci == c_pos
        isd = (ids[mask] % 10 == 0)
        ns, nd = int((~isd).sum()), int(isd.sum())
        ds = round(float(d[mask][~isd].sum()) / ns / 1e6, 4)
        dd = round(float(d[mask][isd].sum()) / nd / 1e6, 4) if nd else None
        expect[int(cell_ids[c_pos])] = (
            ns, nd, round(1000.0 * nd / ns, 3), ds, dd,
        )
    got = {
        int(r.cell): (
            int(r.n_standing),
            int(r.n_delta),
            float(r.growth_m),
            float(r.d_standing),
            None if r.d_delta is None or (isinstance(r.d_delta, float) and math.isnan(r.d_delta)) else float(r.d_delta),
        )
        for r in q237_incremental_ivf_ingest(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(v[0] for v in got.values()) == int(st_mask.sum())
    assert sum(v[1] for v in got.values()) == int((~st_mask).sum())


def test_clf_scored_memo_shared_and_liveness_guarded(spark, sf_dir):
    """The q201-family shared scoring stage (round-11): a second caller
    must reuse the SAME persisted DataFrame; release_cached must flush the
    memo; an out-of-band spark.catalog.clearCache() must force a rebuild
    (the suffix-memo liveness contract) — and results stay identical
    throughout."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.catalog import load, spread
    from eventstream_spark.operators.text import clf_scored_docs

    release_cached()
    docs = spread(load(spark, sf_dir, "documents"))
    first = clf_scored_docs(docs)
    before = sorted(tuple(r) for r in first.collect())
    assert clf_scored_docs(docs) is first  # memo hit, same persisted stage
    spark.catalog.clearCache()
    rebuilt = clf_scored_docs(docs)
    assert rebuilt is not first  # dropped blocks must not serve
    after = sorted(tuple(r) for r in rebuilt.collect())
    release_cached()
    assert clf_scored_docs(docs) is not rebuilt  # flush clears the memo
    release_cached()
    assert after == before


def test_clf_consumers_share_one_scoring_stage(spark, sf_dir):
    """q201 -> q230 -> q214 in one session: after the first call the memo
    holds the scored stage, and each later consumer's plan reuses the
    SAME cached table (InMemoryTableScan over one materialization), not a
    re-tokenize."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.text import (
        _CLF_MEMO,
        q201_classifier_score,
        q214_selection_curve,
        q230_calibration_ece,
    )

    release_cached()
    q201_classifier_score(spark, sf_dir).collect()
    assert len(_CLF_MEMO) == 1
    stage = next(iter(_CLF_MEMO.values())).out
    assert stage.storageLevel.useMemory or stage.storageLevel.useDisk
    for fn in (q230_calibration_ece, q214_selection_curve):
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    assert len(_CLF_MEMO) == 1  # no second stage was built
    release_cached()
    assert len(_CLF_MEMO) == 0


def test_jaccard_heavy_table_broadcast_guard_raises(spark):
    """jaccard_pairs on a boilerplate-saturated corpus must fail with the
    actionable size-guard error, not a broadcast/driver OOM (round-11
    ADVICE). A tiny cap forces the guard on a corpus where every doc is
    mostly one shared heavy shingle set."""
    import pytest as _pytest

    from eventstream_spark.operators import dedup

    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [(i, f"{boiler} u{i} v{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = dedup._HV_BROADCAST_CAP
    dedup._HV_BROADCAST_CAP = 64  # bytes — force the guard
    try:
        with _pytest.raises(ValueError, match="boilerplate-saturated"):
            dedup.jaccard_pairs(docs, 0.5, df_cap=2).collect()
    finally:
        dedup._HV_BROADCAST_CAP = old


def test_bm25_grow_path_equals_base_plan(spark, sf_dir):
    """q158's corpus-scale plan (windowed postings enrichment + scored-
    volume partitioning) must produce byte-identical rows to the bench-
    scale broadcast-stats plan — forced here by zeroing the pre-gate and
    shrinking rows-per-task so `grow` triggers at sf0.001."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators import text

    release_cached()
    base = sorted(
        tuple(r) for r in text.q158_bm25_topk(spark, sf_dir).collect()
    )
    release_cached()
    old_gate, old_rpt = text._BM25_EST_TOK_GATE, text._BM25_SCORED_ROWS_PER_TASK
    text._BM25_EST_TOK_GATE = 0
    text._BM25_SCORED_ROWS_PER_TASK = 1_000
    try:
        grown = sorted(
            tuple(r) for r in text.q158_bm25_topk(spark, sf_dir).collect()
        )
    finally:
        text._BM25_EST_TOK_GATE = old_gate
        text._BM25_SCORED_ROWS_PER_TASK = old_rpt
        release_cached()
    assert grown == base


def test_ivf_trained_grown_recall_shape_and_bounds(spark, sf_dir):
    """q242: 2 variants x 3 pinned queries; hits in [0, 5] with
    recall = hits/5; the trained variant's centroids come from real Lloyd
    rounds (the exact values are pinned by the differential oracle at two
    SFs — this guards the structural contract)."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.similarity import (
        q242_ivf_trained_grown_recall,
    )

    rows = q242_ivf_trained_grown_recall(spark, sf_dir).collect()
    release_cached()
    assert [(r.variant, r.q_id) for r in rows] == [
        (v, q) for v in ("seeded", "trained") for q in (100, 101, 102)
    ]
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall_at_5 - r.n_hits / 5.0) < 1e-9


def test_hybrid_rrf_fuses_both_channels(spark, sf_dir):
    """q243: every fused row comes from at least one channel; RRF scores
    match the channel-rank replay; both channels' #1 hits survive into
    the fused candidate pool for every panel query."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.text import (
        _RRF_K,
        q158_bm25_topk,
        q243_hybrid_rrf,
    )
    from eventstream_spark.operators.similarity import matmul_topk_per_query as topk_per_query
    from eventstream_spark.catalog import load
    from pyspark.sql.functions import col

    rows = q243_hybrid_rrf(spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings")
    # Replay the channel's quantized re-rank: within the raw top-5, order
    # by the published 4-decimal cosine desc, tie-break neighbor_id (the
    # round-11 ADVICE rank-stability fix q243 ships).
    cand: dict[int, list[tuple[float, int]]] = {}
    for r in topk_per_query(emb, col("vec_id") % 211 == 0, k=5).collect():
        cand.setdefault(r.q_id, []).append((r.cos, r.neighbor_id))
    vec = {
        (q, n): i
        for q, lst in cand.items()
        for i, (_, n) in enumerate(
            sorted(lst, key=lambda t: (-t[0], t[1])), start=1
        )
    }
    emb_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    lex = {
        (r.query_id, r.doc_id): r.rnk
        for r in q158_bm25_topk(spark, sf_dir).collect()
        if r.query_id in emb_ids
    }
    release_cached()
    assert rows
    for r in rows:
        assert r.in_lex + r.in_vec >= 1
        expect = 0
        if (r.query_id, r.doc_id) in lex:
            expect += round(1e6 / (_RRF_K + lex[(r.query_id, r.doc_id)]))
        if (r.query_id, r.doc_id) in vec:
            expect += round(1e6 / (_RRF_K + vec[(r.query_id, r.doc_id)]))
        assert r.rrf_micro == expect
        assert r.in_lex == int((r.query_id, r.doc_id) in lex)
        assert r.in_vec == int((r.query_id, r.doc_id) in vec)
    assert {r.query_id for r in rows} == {q for q, _ in vec} | {
        q for q, _ in lex
    }


def test_stream_decontam_equals_batch_and_bounded_state(spark, sf_dir):
    """q244: the drained streaming decontamination gate equals q241's
    batch rollup row-for-row, the drain is genuinely multi-batch, and
    peak state is exactly |sources| rows (four additive counters each)."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.dedup import q241_exact_span_decontam
    from eventstream_spark.operators.streaming_queries import (
        LAST_RUN_INFO,
        q244_stream_decontam,
    )

    got = [tuple(r) for r in q244_stream_decontam(spark, sf_dir).collect()]
    info = dict(LAST_RUN_INFO)
    expect = [tuple(r) for r in q241_exact_span_decontam(spark, sf_dir).collect()]
    release_cached()
    assert got == expect
    assert info["n_batches"] >= 2
    assert info["state_rows_peak"] == len(expect)


def test_bm25_rankings_memo_shared_across_consumers(spark, sf_dir):
    """q158 -> q173 -> q243 in one session: after the first call the memo
    holds the persisted ranking stage; each later consumer's plan reuses
    the SAME cached table (InMemoryRelation, not a re-tokenize); dropped
    blocks must not serve; release_cached flushes the memo."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.catalog import load, spread
    from eventstream_spark.operators.text import (
        _BM25_MEMO,
        bm25_rankings,
        q158_bm25_topk,
        q173_ir_eval,
        q243_hybrid_rrf,
    )

    release_cached()
    before = sorted(tuple(r) for r in q158_bm25_topk(spark, sf_dir).collect())
    assert len(_BM25_MEMO) == 1
    stage = next(iter(_BM25_MEMO.values())).out
    assert stage.storageLevel.useMemory or stage.storageLevel.useDisk
    for fn in (q173_ir_eval, q243_hybrid_rrf):
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    assert len(_BM25_MEMO) == 1  # no second stage was built
    docs = spread(load(spark, sf_dir, "documents"))
    assert bm25_rankings(docs) is stage  # memo hit, same persisted stage
    spark.catalog.clearCache()
    rebuilt = bm25_rankings(docs)
    assert rebuilt is not stage  # dropped blocks must not serve
    after = sorted(
        tuple(r) for r in rebuilt.orderBy("query_id", "rnk").collect()
    )
    release_cached()
    assert len(_BM25_MEMO) == 0  # flush clears the memo
    assert after == before


def test_bm25_qterms_broadcast_guard_falls_back(spark, sf_dir):
    """The corpus-proportional query-panel broadcast is size-gated
    (round-11 VERDICT ask #2): with the cap forced to zero the plan drops
    the broadcast HINT on qterms (falling back to a shuffle join riding
    the grow-path postings' term partitioning) and still produces
    byte-identical rows."""
    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators import text

    release_cached()
    base = sorted(
        tuple(r) for r in text.q158_bm25_topk(spark, sf_dir).collect()
    )
    release_cached()
    old = (
        text._BM25_EST_TOK_GATE,
        text._BM25_SCORED_ROWS_PER_TASK,
        text._BM25_QTERMS_BROADCAST_CAP,
    )
    text._BM25_EST_TOK_GATE = 0
    text._BM25_SCORED_ROWS_PER_TASK = 1_000
    text._BM25_QTERMS_BROADCAST_CAP = 0  # force the fallback
    try:
        guarded = sorted(
            tuple(r) for r in text.q158_bm25_topk(spark, sf_dir).collect()
        )
    finally:
        (
            text._BM25_EST_TOK_GATE,
            text._BM25_SCORED_ROWS_PER_TASK,
            text._BM25_QTERMS_BROADCAST_CAP,
        ) = old
        release_cached()
    assert guarded == base


def test_phash_neardup_banding_is_exhaustive(spark, sf_dir):
    """q245: the band-blocked pair set must equal the brute-force Hamming
    scan over the same dHash table (banding with 4 x 16-bit bands is
    exhaustive for distance <= 3 by pigeonhole — zero false negatives,
    and the exact verify kills every false positive); asking for a
    threshold the banding cannot guarantee raises."""
    import pytest as _pytest

    from eventstream_spark.cache import release_cached
    from eventstream_spark.catalog import load
    from eventstream_spark.operators.multimodal import (
        _DHASH_MAX_HAM,
        dhash_table,
        phash_neardup_pairs,
        png_media,
    )

    docs = load(spark, sf_dir, "documents")
    got = sorted(
        tuple(r) for r in phash_neardup_pairs(docs).collect()
    )
    hashes = {
        r.doc_id: r.phash for r in dhash_table(png_media(docs)).collect()
    }
    release_cached()
    ids = sorted(hashes)
    brute = sorted(
        (a, b, bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        <= _DHASH_MAX_HAM
    )
    assert got == brute
    assert got  # the fixture corpus HAS near-dup images
    with _pytest.raises(ValueError, match="exhaustive"):
        phash_neardup_pairs(docs, max_ham=4)


def test_audio_fp_neardup_banding_is_exhaustive(spark, sf_dir):
    """q246: banded pairs must equal the brute-force Hamming scan over
    the same 63-bit fingerprint table (the q245 guarantee on the audio
    rung — signatures stay in the positive long range, so no unsigned
    masking is even needed), and the fingerprint really derives from
    decoded PCM (every hash < 2^63)."""
    import pytest as _pytest

    from eventstream_spark.cache import release_cached
    from eventstream_spark.catalog import load
    from eventstream_spark.operators.multimodal import (
        _AFP_MAX_HAM,
        afp_neardup_pairs,
        audio_fingerprint_table,
        wav_media,
    )

    docs = load(spark, sf_dir, "documents")
    got = sorted(tuple(r) for r in afp_neardup_pairs(docs).collect())
    fps = {
        r.doc_id: r.afp
        for r in audio_fingerprint_table(wav_media(docs)).collect()
    }
    release_cached()
    assert all(0 <= h < 1 << 63 for h in fps.values())
    ids = sorted(fps)
    brute = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= _AFP_MAX_HAM
    )
    assert got == brute
    assert got
    with _pytest.raises(ValueError, match="exhaustive"):
        afp_neardup_pairs(docs, max_ham=4)


def test_fp_saturation_guard_raises_on_twin_corpus(spark):
    """A corpus of near-identical payloads must fail the fingerprint
    near-dup operators with the actionable saturation error BEFORE the
    quadratic candidate join (the jaccard heavy-table convention) — the
    100x replicated smoke corpus is exactly this shape for the audio
    rung, so the failure mode is load-bearing."""
    import pytest as _pytest

    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators import multimodal as mm

    rows = [(i, "the same audio track rendered again " * 8) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = mm._FP_BUCKET_CAP
    mm._FP_BUCKET_CAP = 50
    try:
        with _pytest.raises(ValueError, match="saturated"):
            mm.afp_neardup_pairs(docs).collect()
        with _pytest.raises(ValueError, match="saturated"):
            mm.phash_neardup_pairs(docs).collect()
    finally:
        mm._FP_BUCKET_CAP = old
        release_cached()


def test_cov_matrix_bit_identical_to_q212(spark):
    """_cov_matrix (the d²-bounded driver-side covariance the PCA family
    collects) must be BIT-identical to collecting q212's distributed
    cov_m2 column — same float64 op tree, so any drift is a bug in the
    round-12 refactor, not fold noise."""
    import numpy as np

    from eventstream_spark.cache import release_cached
    from eventstream_spark.operators.similarity import (
        _cov_matrix,
        q212_embedding_gram,
    )

    sf = "/root/testdata/sf0.001"
    d, C = _cov_matrix(spark, sf)
    rows = q212_embedding_gram(spark, sf).select("i", "j", "cov_m2").collect()
    release_cached()
    ref = np.zeros((d, d), dtype=np.int64)
    for r in rows:
        ref[r.i, r.j] = r.cov_m2
        ref[r.j, r.i] = r.cov_m2
    assert d == max(r.j for r in rows) + 1
    assert np.array_equal(C, ref)


def test_spread_bytes_aware_fanout(spark):
    """spread(df, per_core_bytes): a tiny single-file input fans out to
    ~bytes/per_core_bytes partitions instead of the full session
    parallelism; with per_core_bytes=None behavior is unchanged (full
    fan-out); a huge per-core budget leaves the scan untouched."""
    from eventstream_spark.catalog import load, spread

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    full = spread(emb)
    assert full.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    import os

    sz = sum(
        os.path.getsize(f[len("file:") :]) for f in emb.inputFiles()
    )
    small = spread(emb, per_core_bytes=sz)  # → exactly 1 partition wanted
    n_small = small.rdd.getNumPartitions()
    assert 1 <= n_small < spark.sparkContext.defaultParallelism
    untouched = spread(emb, per_core_bytes=1 << 40)
    assert untouched.rdd.getNumPartitions() == emb.rdd.getNumPartitions()
    # row sets identical under every policy
    base = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert sorted(r.vec_id for r in small.select("vec_id").collect()) == base
