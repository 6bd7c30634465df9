"""Deduplication operators (north star): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

All pure DataFrame/column expressions — the hash family is md5-derived
(portable bit-for-bit across Spark / duckdb / Python hashlib), so every
operator has an exactly-mirrored duckdb oracle.

Scale design (100 TB):
- exact / fingerprint dedup: map-side hash then groupBy on the digest —
  one shuffle on a well-distributed key, no skew.
- MinHash+LSH: signatures are computed in ONE aggregation (16 min-aggs, no
  explode of hash permutations), then band-key self-join — the standard
  shuffle-on-band-key plan; candidate verification (exact Jaccard) runs only
  on the candidate set.
- all-pairs Jaccard / cosine (q41/q44) are VERIFICATION oracles for small
  candidate sets; at full scale they are only ever applied after LSH
  blocking (never a global cross join).

Reference parity: the reference has no dedup (SURVEY §2 Part A negatives);
these are the north-star additions required of the rebuild.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import col, lit

from ..cache import persist_tracked
from ..catalog import load, spread
from ..functions import (
    as_double_array,
    as_double_array_sql,
    cosine,
    cosine_sql,
    dot,
    hash48,
    hash48_sql,
    tokens,
    tokens_sql,
)
from .similarity import lsh_bucketed, lsh_sig_cte_sql

# Fixed MinHash permutation parameters: h' = (a*h + b) mod P over the 48-bit
# shingle hash. a < 2^14 keeps a*h inside int64. 16 hashes → 8 bands of 2.
_P = 999983
_MINHASH_PARAMS: list[tuple[int, int]] = [
    (4097, 12289), (5261, 99991), (6151, 524287), (7001, 131071),
    (8191, 262139), (9377, 786431), (10007, 104729), (11261, 65537),
    (12203, 331), (13313, 7919), (14327, 27644), (15359, 999331),
    (3571, 42859), (2203, 900001), (1229, 123457), (16381, 777777),
]
_N_BANDS = 8  # 2 rows per band


_SHINGLE_N = 3  # word n-gram width: wide enough to be discriminative even
# on a small vocabulary (|V|^n possible shingles), narrow enough that true
# near-dups still share most shingles.


def word_shingles(text_col: str = "text", n: int = _SHINGLE_N) -> Column:
    """Distinct word n-gram shingles of a text column.

    Built from n shifted slices zipped with concat, NOT per-index
    ``element_at`` lookups: higher-order lambdas disable common-subexpression
    elimination, so an element_at formulation re-evaluates the tokenizer
    split for every element × position (~150× per row — measured 6× slower
    at sf0.1). The slice form references the token array a constant number
    of times.
    """
    w = tokens(text_col)
    m = F.greatest(F.size(w) - (n - 1), lit(0))  # shingle count (>= 0)
    z = F.slice(w, 1, m)
    for j in range(1, n):
        z = F.zip_with(z, F.slice(w, j + 1, m), lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(z)


_SHINGLES_SQL = (
    "SELECT DISTINCT doc_id, "
    + " || ' ' || ".join(f"w[i + {j}]" for j in range(_SHINGLE_N))
    + f" AS s FROM (SELECT doc_id, {tokens_sql()} AS w FROM documents) tok, "
    + f"UNNEST(range(1, len(w) - {_SHINGLE_N - 2})) AS t(i)"
)


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, s) distinct shingle pairs."""
    return docs.select("doc_id", F.explode(word_shingles("text")).alias("s"))


def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(F.md5(col("text")).alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
    )


# --- exact n-gram Jaccard (verification oracle for near-dup) ---------------

_JAC_ROWS_PER_TASK = 100_000  # posting rows per pair-join/count-agg task:
# sized so a task's SMJ sort (~3 MB) and count-agg hash map (rows x join
# fanout x ~40 B) stay in execution memory — the q219 suffix-sort
# convention applied to the shingle inverted index.


def _jac_partitions(docs: DataFrame) -> int:
    """Partition count for the shingle pair join, scaled to the corpus:
    at least the session's shuffle.partitions, growing ~linearly with the
    estimated posting count (n_chars/6 ≈ tokens ≈ shingles — metadata
    column when present, so the estimate is a column-pruned scan; a wrong
    estimate changes only task sizing, never results)."""
    if "n_chars" in docs.columns:
        total = docs.agg(F.sum("n_chars")).head()[0] or 0
        est_rows = int(total) // 6
    else:
        est_rows = int(docs.agg(F.sum(F.size(tokens("text")))).head()[0] or 0)
    base = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(base, -(-est_rows // _JAC_ROWS_PER_TASK))


_HV_BROADCAST_CAP = 256 << 20  # 256 MiB: ceiling on the estimated size of
# the broadcast heavy-doc table in jaccard_pairs — past this, the corpus
# is boilerplate-saturated and the operator raises instead of OOMing.

_DF_CAP = 256  # inverted-index document-frequency cap: a shingle seen in
# more docs than this is "heavy" (boilerplate) and is kept out of the
# pair-count join — see jaccard_pairs for the exact completion paths.


def jaccard_pairs(
    docs: DataFrame, threshold: float, df_cap: int = _DF_CAP
) -> DataFrame:
    """All near-dup pairs by word-trigram-shingle Jaccard >= threshold.

    Pair intersection counts come from the inverted-index self-join — the
    same ``com`` structure the duckdb oracle runs — restricted to LIGHT
    shingles (document frequency <= ``df_cap``): the join emits one
    fixed-width (d1, d2) row per shared light shingle, so its output is
    bounded by df_cap * shingle_rows / 2 — corpus-LINEAR by construction,
    never quadratic in a hot key's document frequency. HEAVY shingles
    (df > df_cap: boilerplate n-grams, the 100 TB hot keys) are completed
    exactly on two bounded side paths:

    * a pair with light evidence gets its heavy overlap from a per-doc
      HEAVY-ONLY array intersect — arrays bounded by the number of heavy
      shingle kinds in the doc (few, by definition of heavy), never the
      full shingle set;
    * a pair with NO light evidence can reach Jaccard >= t' only if both
      docs are heavy-dominated: c <= min(nh1, nh2) while
      c >= ceil(t'/(1+t') * (n1+n2)) >= t' * n_i (via the length bound
      n2 >= t' * n1), so nh_i >= t' * n_i on both sides. Only such docs'
      heavy postings enter the pair join; a corpus where MANY docs are
      majority-boilerplate has a genuinely quadratic true-pair OUTPUT and
      belongs to the clustering operators (q55), not a pair list.

    t' is ``threshold`` less a hair so values that ROUND(6) up to the
    threshold survive the pruning bound. Hashing: shingles are compared as
    xxhash64 values (single codegen'd JVM call, 8-byte join keys); the
    result equals the string-set value unless two distinct shingles
    collide in 64 bits (~1e-10 at fixture cardinality).

    Round-10 replan: the previous PPJoin prefix-filter + per-doc full-array
    verification was exact but generated ~500 candidates per true pair on
    this corpus profile and shipped a ~n-long hash array per candidate
    through two shuffles — 14 GB of sort spill at the 100x smoke
    (TRIAGE_SMOKE r9 q233). The count join ships only (long, long, count)
    rows and aggregates with map-side combine; the heavy paths are empty
    on healthy corpora (fixture max df = 25) and are pinned by a synthetic
    boilerplate unit test with df_cap=2.
    """
    t_p = max(threshold - 0.001, 0.0)
    docs = spread(docs)
    hs = F.transform(word_shingles("text"), lambda s: F.xxhash64(s))
    # n (the doc's distinct-shingle count) rides every posting row for
    # free (array size before the explode) — it feeds the length filter
    # inside the pair join and the Jaccard denominator with ZERO extra
    # joins against a per-doc stats table (a stats join here was measured
    # as a 7 GiB sort spill at the 100x smoke: pairs >> docs, and SMJ
    # sorted the pair table to meet a 12 MB side).
    base = docs.select("doc_id", hs.alias("hs")).select(
        "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("h")
    )
    # Global shingle frequency as a window over h (not groupBy+rejoin).
    # Persisted: both pair-join sides and the heavy table read it;
    # aliasing would otherwise re-run the text parse per reader.
    sh = persist_tracked(
        base.withColumn("df", F.count("*").over(Window.partitionBy("h")))
    )
    # Heavy table: one row per doc that HAS heavy shingles — empty on
    # healthy corpora, small wherever a pair list is the right tool (a
    # corpus with corpus-scale boilerplate saturation has quadratically
    # many true pairs and belongs to q55's clustering instead). Broadcast
    # by construction.
    hv = persist_tracked(
        sh.where(col("df") > df_cap)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nh"),
            F.max("n").alias("n"),
            F.collect_list("h").alias("hh"),
        )
    )
    # Broadcast guard (round-11 ADVICE): hv is broadcast twice below, and
    # on a boilerplate-saturated corpus it is unbounded — without this
    # check the failure mode is a broadcast/driver OOM mid-join rather
    # than an actionable error. The stats aggregate is one pass over the
    # (already persisted, needed-anyway) hv table; 8 bytes/hash + struct
    # overhead is the executor-side estimate of the built relation. The
    # check is EAGER at plan construction (building the plan runs a job
    # that materializes the persisted shingle tables) — accepted
    # deliberately: every caller of jaccard_pairs executes the result,
    # the materialization is work the first action pays anyway, and
    # failing before the broadcast is the entire point of the guard.
    hv_stats = hv.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("nh"), lit(0)).alias("cells"),
    ).head()
    est_bytes = int(hv_stats["n_docs"]) * 48 + int(hv_stats["cells"]) * 8
    if est_bytes > _HV_BROADCAST_CAP:
        raise ValueError(
            f"jaccard_pairs: heavy-shingle table too large to broadcast "
            f"(~{est_bytes >> 20} MiB across {hv_stats['n_docs']} docs with "
            f"df>{df_cap} shingles; cap {_HV_BROADCAST_CAP >> 20} MiB). "
            f"This corpus is boilerplate-saturated — its true near-dup "
            f"pair OUTPUT is quadratic and a pair list is the wrong tool: "
            f"use the q55 clustering operators, raise df_cap, or strip the "
            f"boilerplate (q121-class scrub) first."
        )
    hdom = hv.where(col("nh") >= lit(t_p) * col("n")).select("doc_id")
    post = (
        sh.where(col("df") <= df_cap)
        .select("doc_id", "n", "h")
        .unionByName(
            sh.where(col("df") > df_cap)
            .join(F.broadcast(hdom), "doc_id")
            .select("doc_id", "n", "h")
        )
    )
    # Partition the pair join + count agg to the corpus (q219's
    # rows-per-task convention): at the session's static 32 partitions the
    # 100x smoke put ~4M count groups per task and spilled 11 GiB in each
    # aggregate; task-sized partitions keep every hash map in memory. At
    # bench scale the corpus-derived count stays at the session default —
    # skip the explicit repartitions entirely there (they would be
    # redundant exchanges on top of the window's/aggregate's own).
    base_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = _jac_partitions(docs)
    grow = n_parts > base_parts
    if grow:
        post = post.repartition(n_parts, "h")
    a, b = post.alias("a"), post.alias("b")
    pairs = (
        a.join(
            b,
            (col("a.h") == col("b.h"))
            & (col("a.doc_id") < col("b.doc_id"))
            # length filter: J >= t forces t*n1 <= n2 (both directions) —
            # prunes join output before the count aggregate.
            & (col("b.n") >= lit(t_p) * col("a.n"))
            & (col("a.n") >= lit(t_p) * col("b.n")),
        )
        .select(
            col("a.doc_id").alias("d1"),
            col("b.doc_id").alias("d2"),
            col("a.n").alias("n1"),
            col("b.n").alias("n2"),
        )
    )
    if grow:
        pairs = pairs.repartition(n_parts, "d1", "d2")
    pairs = (
        pairs.groupBy("d1", "d2")
        .agg(F.count("*").alias("cj"), F.max("n1").alias("n1"), F.max("n2").alias("n2"))
    )
    nh1 = F.coalesce(col("nh1"), lit(0))
    nh2 = F.coalesce(col("nh2"), lit(0))
    hd1 = nh1 >= lit(t_p) * col("n1")
    hd2 = nh2 >= lit(t_p) * col("n2")
    # Upper bound on the pair's TOTAL intersection: cj already includes
    # heavy overlap iff both docs are heavy-dominated (only their heavy
    # postings joined); otherwise at most min(nh1, nh2) heavy shingles can
    # still be shared. Prune on the bound, then complete exactly with the
    # heavy-only array intersect (guarded so both-heavy-dominated pairs,
    # whose heavy overlap is already inside cj, are not double-counted).
    c_ub = col("cj") + F.when(hd1 & hd2, lit(0)).otherwise(F.least(nh1, nh2))
    need_hv = ~(hd1 & hd2) & (nh1 > 0) & (nh2 > 0)
    c = col("cj") + F.when(
        need_hv, F.size(F.array_intersect("hh1", "hh2"))
    ).otherwise(lit(0))
    jac = F.round(
        c.cast("double") / (col("n1") + col("n2") - c).cast("double"), 6
    )
    hv1 = hv.select(col("doc_id").alias("d1"), col("nh").alias("nh1"), col("hh").alias("hh1"))
    hv2 = hv.select(col("doc_id").alias("d2"), col("nh").alias("nh2"), col("hh").alias("hh2"))
    return (
        pairs.join(F.broadcast(hv1), "d1", "left")
        .join(F.broadcast(hv2), "d2", "left")
        .where(c_ub >= lit(t_p / (1.0 + t_p)) * (col("n1") + col("n2")))
        .select("d1", "d2", jac.alias("jac"))
        .where(col("jac") >= threshold)
    )


def q41_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return jaccard_pairs(docs, 0.5).orderBy("d1", "d2")


# --- q233: dedup threshold operating curve -----------------------------------

_CURVE_TS = (500, 600, 700, 800, 900)  # milli-Jaccard thresholds


def q233_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_milli, n_flagged, flagged_tokens, pct_docs_m, pct_tokens_m): the
    operating curve of the near-dup gate — for each candidate Jaccard
    threshold, how many documents (and tokens) the keep-lowest-id policy
    would drop. The dedup analog of q214's selection curve: before
    committing a corpus to a threshold, you read THIS to see where the
    knee is. A doc's fate is decided by its MAX similarity to any
    lower-id doc (the q58 keep-one convention), so the curve needs one
    pair table, not one dedup run per threshold.

    Scale: rides q41's df-capped inverted-index count join (exact for
    J ≥ 0.5, corpus-linear — never all-pairs, no per-doc arrays through
    a shuffle); the per-doc max is one doc-key groupBy; thresholds are a
    5-row broadcast. Everything after the pair table is corpus-linear
    with bounded output."""
    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, 0.5)
    mx = pairs.groupBy(col("d2").alias("doc_id")).agg(F.max("jac").alias("mj"))
    toks = spread(docs).select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    tot = toks.agg(
        F.count("*").alias("nd"), F.sum("n_tok").alias("nt")
    )
    th = spark.createDataFrame([(t,) for t in _CURVE_TS], "t_milli int")
    fl = (
        mx.join(toks, "doc_id")
        .crossJoin(F.broadcast(th))
        .where(col("mj") * lit(1000) >= col("t_milli"))
        .groupBy("t_milli")
        .agg(F.count("*").alias("nf"), F.sum("n_tok").alias("ft"))
    )
    return (
        th.join(fl, "t_milli", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t_milli",
            F.coalesce(col("nf"), lit(0)).cast("long").alias("n_flagged"),
            F.coalesce(col("ft"), lit(0)).cast("long").alias("flagged_tokens"),
            F.round(
                lit(1000.0) * F.coalesce(col("nf"), lit(0)) / col("nd"), 3
            ).alias("pct_docs_m"),
            F.round(
                lit(1000.0) * F.coalesce(col("ft"), lit(0)) / col("nt"), 3
            ).alias("pct_tokens_m"),
        )
        .orderBy("t_milli")
    )


# --- MinHash + LSH ---------------------------------------------------------

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15) — one hash-aggregate, no permutation explode."""
    sh = shingle_table(spread(docs)).select("doc_id", hash48(col("s")).alias("h"))
    aggs = [
        F.min((lit(a) * col("h") + lit(b)) % _P).alias(f"mh{j}")
        for j, (a, b) in enumerate(_MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) — the 8-band × 2-row banding of the MinHash
    signature, the LSH blocking key for both the self-join (q42) and the
    incremental existing↔incoming join (q120)."""
    mh = minhash_signatures(docs)
    bands = F.array(
        *[
            F.struct(
                lit(k).alias("band"),
                F.concat_ws(
                    ",", col(f"mh{2 * k}").cast("string"), col(f"mh{2 * k + 1}").cast("string")
                ).alias("key"),
            )
            for k in range(_N_BANDS)
        ]
    )
    return mh.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", col("b.band").alias("band"), col("b.key").alias("key")
    )


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Distinct candidate pairs from 8 bands × 2 rows banding of the MinHash
    signature. Shuffle key = (band, band_key): well distributed, small state."""
    bt = persist_tracked(
        band_table(docs)
        # Both sides of the self-join read this; persist (tracked, freed by
        # cache.release_cached) so the md5 + 16 min-agg pipeline runs once.
    )
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(
            b,
            (col("a.band") == col("b.band"))
            & (col("a.key") == col("b.key"))
            & (col("a.doc_id") < col("b.doc_id")),
        )
        .select(col("a.doc_id").alias("d1"), col("b.doc_id").alias("d2"))
        .distinct()
    )


def q42_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs).orderBy("d1", "d2")


def _grown_rows_per_band(n_docs: int) -> int:
    """Rows-per-band for the corpus-grown banding: the DECIMAL DIGIT COUNT
    of the corpus size (min 2). A pair with background Jaccard s collides
    in one band with probability s^r, so expected false-positive
    candidates across ~N² pairs stay ~linear in N when r grows by one per
    10× of corpus (s̄ ≈ 0.1 — the q42 regime's background similarity):
    r = ceil(log10 N) = digits(N). The digit count is the integer-exact
    spelling of that log both engines derive identically
    (len(CAST(n AS VARCHAR))) — no float log10 knife edge at powers of
    ten."""
    return max(2, len(str(n_docs)))


def q42b_minhash_lsh_grown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q42 with the MinHash BANDING GROWN from the corpus count — the
    q44b/q114b/q217b grown-knob convention applied to the last fixed-knob
    ANN family member (round-8 VERDICT ask #5): rows-per-band
    r = digits(N), bands b = floor(16/r) over the same 16-hash signature.
    At a FIXED 8×2 banding the per-band false-positive collision count
    grows with the corpus (2 rows filter at s², so ~N²·s̄² pairs — the
    pigeonhole q44 documents for fixed buckets); spending log10(N) rows
    per band holds expected random collisions ~linear, trading recall at
    the low-similarity end exactly as the S-curve prescribes
    (P(candidate) = 1-(1-s^r)^b steepens). On the small fixture the
    grown banding (r=5, b=3) keeps only strong pairs — the oracle mirrors
    the same derivation, so the recall trade is pinned, not assumed.

    Scale: one count (driver scalar — the q217b auto_cells convention),
    the one-aggregation signature build (16 min-aggs, no permutation
    explode), a map-side slice/concat per band, and the band-key
    self-join — shuffle on (band, key), well distributed by
    construction."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    r = _grown_rows_per_band(n_docs)
    b = max(1, len(_MINHASH_PARAMS) // r)
    mh = minhash_signatures(docs)
    sig = F.array(*[col(f"mh{j}").cast("string") for j in range(len(_MINHASH_PARAMS))])
    bands = F.array(
        *[
            F.struct(
                lit(k).alias("band"),
                F.array_join(F.slice(sig, k * r + 1, r), ",").alias("key"),
            )
            for k in range(b)
        ]
    )
    bt = persist_tracked(
        mh.select("doc_id", F.explode(bands).alias("bb")).select(
            "doc_id", col("bb.band").alias("band"), col("bb.key").alias("key")
        )
    )
    a = bt.alias("a")
    c = bt.alias("b")
    return (
        a.join(
            c,
            (col("a.band") == col("b.band"))
            & (col("a.key") == col("b.key"))
            & (col("a.doc_id") < col("b.doc_id")),
        )
        .select(col("a.doc_id").alias("d1"), col("b.doc_id").alias("d2"))
        .distinct()
        .orderBy("d1", "d2")
    )


_EDGES_PER_TASK = 2_000_000  # one contraction task's union-find working set


def _uf_partition(batches):
    """Partition-local union-find with min roots: consume this partition's
    (src, dst) edges, emit (node, local-min-root) for every node seen.

    Emitting the root self-mappings too keeps every node alive into later
    rounds, so the final pass can label the full vertex set.
    """
    import pandas as pd

    parent: dict[int, int] = {}
    seen: set[int] = set()

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            seen.add(s)
            seen.add(d)
            rs, rd = find(s), find(d)
            if rs == rd:
                continue
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs
    if seen:
        nodes = sorted(seen)
        yield pd.DataFrame({"src": nodes, "dst": [find(n) for n in nodes]})


def cc_labels(docs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    candidate graph, by two-phase union-find contraction.

    Phase 1 (only when the edge set exceeds one task's budget): hash-
    partition edges and contract each partition with a local union-find,
    emitting per-node min-root mappings — the mapping set shrinks toward
    one edge per node and merges across partitions on the next round's
    hash (the MapReduce CC design of Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14). Phase 2: once the surviving
    mapping fits a single task, one local union-find computes exact global
    min-labels. Near-dup candidate graphs are tiny relative to the corpus
    (edges ≈ duplicate pairs), so at sf-scale this is a single pass with
    no driver loop at all; a min-label-propagation fallback covers the
    degenerate case where contraction stops shrinking before fitting.

    Returns per-node labels (node, label): label = min doc_id reachable —
    the component representative. Only nodes that appear in some candidate
    pair are returned (singletons are their own trivial cluster).
    """
    pairs = lsh_candidate_pairs(docs)
    edges = persist_tracked(
        pairs.select(col("d1").alias("src"), col("d2").alias("dst"))
    )
    n_edges = edges.count()
    for _ in range(max_iterations):
        if n_edges <= _EDGES_PER_TASK:
            break
        k = max(2, -(-n_edges // _EDGES_PER_TASK))  # ceil division
        contracted = persist_tracked(
            edges.repartition(k, "src").mapInPandas(
                _uf_partition, "src bigint, dst bigint"
            )
        )
        n_contracted = contracted.count()
        if n_contracted >= n_edges:  # stalled: vertex count exceeds budget
            edges, n_edges = contracted, n_contracted
            return _propagate_labels(edges, max_iterations)
        edges, n_edges = contracted, n_contracted
    final = edges.coalesce(1).mapInPandas(_uf_partition, "src bigint, dst bigint")
    return final.select(col("src").alias("node"), col("dst").alias("label"))


def _propagate_labels(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Distributed min-label propagation over an undirected edge set — the
    O(diameter)-round fallback for graphs whose contracted vertex set still
    exceeds one task (GraphX's label propagation is the same plan).
    Convergence is detected via the label-sum invariant: labels are
    non-increasing per node each round, so an unchanged exact DECIMAL sum
    ⟺ fixpoint — one tiny aggregate per round instead of a self-join diff.
    """
    both = edges.unionAll(
        edges.select(col("dst").alias("src"), col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        both.select(col("src").alias("node"))
        .distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
    )
    label_sum = lambda df: df.agg(  # noqa: E731
        F.sum(col("label").cast("decimal(38,0)")).alias("s")
    ).first()[0]
    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        nbr = both.join(labels, both.src == labels.node).select(
            col("dst").alias("node"), "label"
        )
        labels = (
            nbr.unionAll(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        new_sum = label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_clusters(docs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """One row per near-dup cluster: (cluster_id = min doc_id, size)."""
    return (
        cc_labels(docs, max_iterations)
        .groupBy("label")
        .agg(F.count("*").alias("size"))
        .select(col("label").alias("cluster_id"), "size")
    )


def dedup_keep_representatives(docs: DataFrame) -> DataFrame:
    """The full dedup APPLICATION: drop every near-dup cluster member except
    its representative (min doc_id), keep everything else — the corpus a
    training pipeline actually feeds downstream. One anti join against the
    (small) non-representative set; at 100 TB the label table is a tiny
    fraction of the corpus, so AQE broadcasts it and the corpus never
    shuffles."""
    labels = cc_labels(docs)
    drop = labels.where(col("node") != col("label")).select(col("node").alias("doc_id"))
    return docs.join(drop, "doc_id", "left_anti")


def q58_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    kept = dedup_keep_representatives(docs)
    return kept.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q55_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_clusters(docs).orderBy("cluster_id")


# --- SimHash ---------------------------------------------------------------

_SIMHASH_BITS = 16


def simhash_table(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash over token hashes (with
    multiplicity), computed as 16 conditional sums in one aggregation."""
    t = spread(docs).select("doc_id", F.explode(tokens("text")).alias("t")).select(
        "doc_id", hash48(col("t")).alias("h")
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(col("h"), b).bitwiseAND(lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(_SIMHASH_BITS)
    ]
    per_doc = t.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(_SIMHASH_BITS):
        term = F.when(col(f"s{b}") > 0, lit(1 << b)).otherwise(lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


def q43_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash_table(docs).orderBy("doc_id")


# --- incremental dedup -----------------------------------------------------

def incremental_dedup(
    docs: DataFrame, incoming_pred: Column, broadcast_delta: bool = False
) -> DataFrame:
    """Flag INCOMING documents that duplicate the EXISTING corpus — the
    incremental form that matters at 100 TB, where re-deduplicating the
    whole corpus per ingest is the anti-pattern: only the delta is
    processed against the standing index.

    - exact: md5 fingerprint semi-join against the existing fingerprints.
    - near: shared MinHash band bucket (same blocking as q42), joined
      delta-vs-corpus on (band, key).

    Join strategy: by default AQE picks it from measured sizes — a small
    ingest batch broadcast-joins, a bulk backfill sort-merge-joins without
    risking a driver/executor OOM on an oversized broadcast. Pass
    ``broadcast_delta=True`` only when the caller KNOWS the delta's band
    table fits the broadcast budget (rule of thumb: delta docs ×
    n_bands rows well under spark.sql.autoBroadcastJoinThreshold); then
    the standing corpus's band table streams past the delta with no
    shuffle at all.

    Output: one row per incoming doc with is_exact_dup / is_near_dup."""
    existing = docs.where(~incoming_pred)
    incoming = docs.where(incoming_pred)

    existing_fp = existing.select(F.md5(col("text")).alias("fp")).distinct()
    exact_ids = (
        incoming.select("doc_id", F.md5(col("text")).alias("fp"))
        .join(existing_fp, "fp", "left_semi")
        .select("doc_id")
    )

    incoming_bands = band_table(incoming)
    if broadcast_delta:
        incoming_bands = F.broadcast(incoming_bands)
    near_ids = (
        band_table(existing)
        .select("band", "key")
        .join(incoming_bands, ["band", "key"])
        .select("doc_id")
        .distinct()
    )

    return (
        incoming.select("doc_id")
        .join(exact_ids.withColumn("e", lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("n", lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            col("e").isNotNull().alias("is_exact_dup"),
            col("n").isNotNull().alias("is_near_dup"),
        )
        .orderBy("doc_id")
    )


def q120_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return incremental_dedup(docs, col("doc_id") % 10 == 9)


# --- benchmark decontamination ---------------------------------------------

def contamination_check(
    docs: DataFrame, bench_pred: Column, min_shared: int = 3
) -> DataFrame:
    """Train/test overlap detection (decontamination): flag corpus documents
    sharing at least ``min_shared`` distinct word n-gram shingles with a
    benchmark/eval document set — the standard pre-training hygiene pass
    (n-gram collision decontamination as popularized by the GPT-3/PaLM
    appendices).

    Scale: benchmark sets are small (eval suites), so their DISTINCT
    shingle set broadcasts; the corpus side is map-side shingling + a
    broadcast hash join + one partial-agg shuffle on doc_id. The corpus
    never shuffles its text."""
    bench_sh = (
        docs.where(bench_pred)
        .select(F.explode(word_shingles("text")).alias("s"))
        .distinct()
    )
    cand_sh = spread(docs.where(~bench_pred)).select(
        "doc_id", F.explode(word_shingles("text")).alias("s")
    )
    return (
        cand_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .where(col("n_shared") >= min_shared)
        .orderBy("doc_id")
    )


def q116_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return contamination_check(docs, col("doc_id") % 50 == 0, min_shared=3)


# --- embedding cosine near-dup --------------------------------------------

def embedding_neardup_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Pairs of vectors with cosine >= threshold.

    Brute-force all-pairs (BroadcastNestedLoopJoin, O(n²)) — TEST-ONLY
    verifier for small fixtures. The registered query is
    ``embedding_neardup_bucketed``; tests pin the bucketed result against
    this form restricted to shared-bucket pairs.
    """
    e = spread(emb).select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
    a = e.alias("a")
    b = e.alias("b")
    cos = cosine(col("a.v"), col("b.v"))
    return (
        a.join(b, col("a.vec_id") < col("b.vec_id"))
        .select(
            col("a.vec_id").alias("d1"),
            col("b.vec_id").alias("d2"),
            F.round(cos, 4).alias("cos"),
        )
        .where(col("cos") >= threshold)
    )


def embedding_neardup_bucketed(
    emb: DataFrame, threshold: float, n_planes: int | None = None
) -> DataFrame:
    """Scale path: hyperplane-LSH bucketing (``similarity.lsh_bucketed``)
    then the exact cosine check within buckets.

    Each vector lands in exactly ONE bucket, so the self-join is a
    hash/SMJ shuffle on the bucket key — never a BroadcastNestedLoopJoin —
    and a qualifying pair appears at most once (no DISTINCT needed).
    Bucket-then-verify is exact for pairs sharing a bucket; pairs the planes
    split across buckets are the standard LSH recall trade, mirrored
    verbatim in the duckdb oracle's bucket predicate. The cosine here reuses
    the precomputed per-vector norms (dot / sqrt(nsq_a * nsq_b)) — the same
    multiply-then-sqrt tree as ``functions.cosine``, so values stay
    bit-identical to the oracle's ``cosine_sql``.

    ``n_planes`` is the scale knob: with B buckets (2^n_planes) and N
    vectors the verify stage compares ~N²/(2B) pairs, so bucket occupancy —
    and with it the pair count per vector — stays constant only if bits
    grow with log2(N). The default 6 (64 buckets) is the small-corpus
    oracle-parity form (q44); q44b pins the grown-bits form (12 planes =
    4096 buckets) that a 100× corpus actually needs — measured in the
    100× scale smoke, where the 6-plane form's pair count grows ~100×
    per bucket (the pigeonhole, not a plan defect).
    """
    from .similarity import _N_PLANES

    b = persist_tracked(lsh_bucketed(emb, n_planes or _N_PLANES))
    a = b.alias("a")
    c = b.alias("c")
    cos = dot(col("a.v"), col("c.v")) / F.sqrt(col("a.nsq") * col("c.nsq"))
    return (
        a.join(c, (col("a.bucket") == col("c.bucket")) & (col("a.vec_id") < col("c.vec_id")))
        .select(
            col("a.vec_id").alias("d1"),
            col("c.vec_id").alias("d2"),
            F.round(cos, 4).alias("cos"),
        )
        .where(col("cos") >= threshold)
    )


def q44_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return embedding_neardup_bucketed(emb, 0.4).orderBy("d1", "d2")


_SCALED_PLANES = 12  # 4096 buckets: the 100×-corpus occupancy point


def q44b_embedding_neardup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q44 with the LSH bits GROWN for a large corpus (12 planes = 4096
    buckets): the form whose verify-stage pair count stays ~linear when the
    corpus scales 100×, because bucket occupancy is held near-constant by
    spending log2(scale) more bits. On the small fixture most buckets are
    singletons — recall drops (the standard bits-vs-recall trade), which
    the oracle mirrors exactly; the scale smoke measures this form beside
    the fixed-64-bucket q44 to document the pigeonhole."""
    emb = load(spark, sf_dir, "embeddings")
    return embedding_neardup_bucketed(emb, 0.4, n_planes=_SCALED_PLANES).orderBy(
        "d1", "d2"
    )


# --- oracles ---------------------------------------------------------------

def _lsh_pairs_ctes() -> str:
    """The shared CTE chain producing the LSH candidate pairs (d1 < d2) —
    reused by the q42 oracle and the q55 recursive-CTE clusters oracle."""
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {_P}) AS mh{j}" for j, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    bands = "\nUNION ALL ".join(
        f"SELECT doc_id, {k} AS band, mh{2 * k}::VARCHAR || ',' || mh{2 * k + 1}::VARCHAR AS key FROM mh"
        for k in range(_N_BANDS)
    )
    return f"""sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, {hash48_sql('s')} AS h FROM sh),
mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
bands AS ({bands}),
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""


def _minhash_grown_sql() -> str:
    """q42b mirror: rows-per-band = GREATEST(2, digits(COUNT(*))) — the
    identical integer derivation as _grown_rows_per_band — with the
    banding spelled as a dynamic list_slice over the signature list, so
    ONE SQL text covers every corpus size."""
    nh = len(_MINHASH_PARAMS)
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {_P}) AS mh{j}"
        for j, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    sig_list = "[" + ", ".join(f"CAST(mh{j} AS VARCHAR)" for j in range(nh)) + "]"
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, {hash48_sql('s')} AS h FROM sh),
mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
p AS (SELECT GREATEST(2, len(CAST(COUNT(*) AS VARCHAR))) AS r FROM documents),
sg AS (SELECT doc_id, {sig_list} AS sig FROM mh),
bands AS (
  SELECT doc_id, t.band,
         array_to_string(list_slice(sig, t.band * p.r + 1, t.band * p.r + p.r),
                         ',') AS key
  FROM sg, p, UNNEST(range(0, {nh} // p.r)) AS t(band))
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
ORDER BY 1, 2
"""


def _bands_ctes(side: str, pred: str) -> str:
    """Side-restricted twin of the banding CTEs in ``_lsh_pairs_ctes`` —
    the q120 oracle needs bands for the existing and incoming splits
    separately."""
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {_P}) AS mh{j}" for j, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    bands = "\nUNION ALL ".join(
        f"SELECT doc_id, {k} AS band, mh{2 * k}::VARCHAR || ',' || mh{2 * k + 1}::VARCHAR AS key FROM mh_{side}"
        for k in range(_N_BANDS)
    )
    sh = _SHINGLES_SQL.replace("FROM documents", f"FROM documents WHERE {pred}")
    return f"""sh_{side} AS ({sh}),
h_{side} AS (SELECT doc_id, {hash48_sql('s')} AS h FROM sh_{side}),
mh_{side} AS (SELECT doc_id, {mins} FROM h_{side} GROUP BY doc_id),
bands_{side} AS ({bands})"""


def _incremental_sql() -> str:
    return f"""
WITH {_bands_ctes('ex', 'doc_id % 10 <> 9')},
{_bands_ctes('inc', 'doc_id % 10 = 9')},
exact AS (
  SELECT DISTINCT i.doc_id
  FROM (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 9) i
  JOIN (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 9) e USING (fp)),
near AS (
  SELECT DISTINCT i.doc_id
  FROM bands_inc i JOIN bands_ex e ON i.band = e.band AND i.key = e.key)
SELECT d.doc_id,
       d.doc_id IN (SELECT doc_id FROM exact) AS is_exact_dup,
       d.doc_id IN (SELECT doc_id FROM near) AS is_near_dup
FROM documents d WHERE d.doc_id % 10 = 9 ORDER BY 1
"""


def _minhash_sql() -> str:
    return f"""
WITH {_lsh_pairs_ctes()}
SELECT d1, d2 FROM pairs ORDER BY 1, 2
"""


def _cc_ctes() -> str:
    """Recursive-CTE connected components over the LSH pairs: reach =
    transitive closure of (node, seen-label), then MIN per node — the
    set-semantics UNION guarantees termination. Shared by q55 and q58."""
    return f"""{_lsh_pairs_ctes()},
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
final AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)"""


def _clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_ctes()}
SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS size
FROM final GROUP BY 1 ORDER BY 1
"""


def _dedup_keep_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_ctes()}
SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM final WHERE node <> label)
"""


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql()}) AS t FROM documents),
h AS (SELECT doc_id, {hash48_sql('t')} AS h FROM tok),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM s ORDER BY doc_id
"""


# --- cross-doc n-gram span coverage (q122) ---------------------------------

_SPAN_N = 5  # span width: wide enough that sharing is evidence of copying


def span_positions(text_col: str = "text", n: int = _SPAN_N) -> Column:
    """ALL word n-gram occurrences in order (POSITIONAL, unlike
    ``word_shingles`` which deduplicates) — one array entry per token
    position, built from n shifted slices (same CSE-safe shape)."""
    w = tokens(text_col)
    m = F.greatest(F.size(w) - (n - 1), lit(0))
    z = F.slice(w, 1, m)
    for j in range(1, n):
        z = F.zip_with(z, F.slice(w, j + 1, m), lambda x, y: F.concat_ws(" ", x, y))
    return z


def span_coverage(docs: DataFrame, n: int = _SPAN_N) -> DataFrame:
    """Per-document cross-duplication coverage at fixed span width — the
    flagging form of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL'22): a position is
    duplicated if its n-token span also occurs in ANY other document.

    Scale (100 TB): spans explode map-side; TWO shuffles total — the
    groupBy(span) document-frequency aggregate (fed by per-doc DISTINCT
    spans, which is an array_distinct computed map-side, so each doc
    contributes each span once without a (doc, span) pre-aggregation
    shuffle) and the positional-occurrences ⋈ frequency equi-join feeding
    the per-doc rollup — all on well-distributed text keys. No suffix
    array needed for the flagging/statistics form; a full
    substring-removal pass would seed from exactly these positions.

    Returns (doc_id, source, n_spans, dup_spans) for docs with >= 1 span.
    """
    pos = span_positions("text", n)
    spans = docs.select("doc_id", "source", F.explode(pos).alias("s"))
    freq = (
        docs.select(F.explode(F.array_distinct(pos)).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("nd"))
    )
    return (
        spans.join(freq, "s")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((col("nd") >= 2).cast("long")).alias("dup_spans"),
        )
    )


def q122_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of cross-document span duplication: total span
    positions, duplicated positions, mean per-doc coverage, and the count
    of heavily-copied documents (> 50% covered)."""
    docs = spread(load(spark, sf_dir, "documents"))
    doc = span_coverage(docs)
    return (
        doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").alias("total_spans"),
            F.sum("dup_spans").alias("dup_spans"),
            F.round(F.avg(col("dup_spans") / col("n_spans")), 4).alias("avg_coverage"),
            F.sum((col("dup_spans") / col("n_spans") > 0.5).cast("long")).alias("n_copied"),
        )
        .orderBy("source")
    )


# --- q241: exact-span benchmark decontamination ------------------------------

_DECON_N = 13  # the GPT-3 (Brown et al. '20, Appendix C) decontamination
# span width: a corpus document collides with the benchmark if any 13
# consecutive tokens occur verbatim in a benchmark document.


def q241_exact_span_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_windows, n_contam, hit_windows, pct_docs_m):
    GPT-3-style exact-collision benchmark decontamination — the audit a
    training corpus runs before any eval is trusted. Benchmark = the
    doc_id % 50 == 0 slice (q116's held-out convention); a corpus doc is
    CONTAMINATED if any of its _DECON_N-token windows occurs verbatim
    anywhere in the benchmark set. Complements q116 (which counts shared
    3-gram shingles — topical overlap): the 13-token exact window is the
    published memorization-risk rule, not a similarity heuristic.

    Scale: the benchmark window set is benchmark-sized — small by
    definition of a benchmark — so it BROADCASTS (the q116 shape) and
    the corpus never shuffles: windows explode map-side, probe the
    broadcast, and fold into one source rollup exchange. Docs shorter
    than the window have zero windows and count as clean."""
    docs = spread(load(spark, sf_dir, "documents"))
    pos = span_positions("text", _DECON_N)
    bench_set = (
        docs.where(col("doc_id") % 50 == 0)
        .select(F.explode(F.array_distinct(pos)).alias("s"))
        .distinct()
    )
    corp = docs.where(col("doc_id") % 50 != 0)
    hits = (
        corp.select("doc_id", F.explode(pos).alias("s"))
        .join(F.broadcast(bench_set), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hw"))
    )
    per_doc = corp.select("doc_id", "source", F.size(pos).alias("nw")).join(
        hits, "doc_id", "left"
    )
    hw = F.coalesce(col("hw"), lit(0))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nw").cast("long").alias("n_windows"),
            F.sum((hw > 0).cast("long")).alias("n_contam"),
            F.sum(hw).cast("long").alias("hit_windows"),
            F.round(
                lit(1000.0) * F.sum((hw > 0).cast("long")) / F.count("*"), 3
            ).alias("pct_docs_m"),
        )
        .orderBy("source")
    )


def _decontam_sql() -> str:
    joined = " || ' ' || ".join(f"w[i + {j}]" for j in range(_DECON_N))
    return f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
sp AS (SELECT doc_id, {joined} AS s
       FROM tok, UNNEST(range(1, len(w) - {_DECON_N - 2})) AS t(i)),
b AS (SELECT DISTINCT s FROM sp WHERE doc_id % 50 = 0),
h AS (SELECT doc_id, COUNT(*) AS hw FROM sp JOIN b USING (s)
      WHERE doc_id % 50 <> 0 GROUP BY 1),
d AS (SELECT doc_id, source, GREATEST(len(w) - {_DECON_N - 1}, 0) AS nw
      FROM tok WHERE doc_id % 50 <> 0)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN COALESCE(hw, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contam,
       CAST(SUM(COALESCE(hw, 0)) AS BIGINT) AS hit_windows,
       ROUND(1000.0 * SUM(CASE WHEN COALESCE(hw, 0) > 0 THEN 1 ELSE 0 END)
             / COUNT(*), 3) AS pct_docs_m
FROM d LEFT JOIN h USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


# --- variable-length exact-substring dedup (q219) ---------------------------
# The SUFFIX-ORDERING form of Lee et al. ACL'22 — the production shape of
# exact-substring dedup, of which q122's fixed 5-gram span coverage is the
# fixed-width approximation. Suffix-array property: in the sorted order of
# all suffixes, the longest match for any suffix is against one of its two
# NEIGHBORS (the LCP of non-adjacent suffixes is the min of the adjacent
# LCPs between them), so the maximal repeated-substring length at every
# token position falls out of ONE global sort + a lag/lead comparison.

_SFX_DEPTH = 16  # bounded suffix depth (tokens) == the cap on reported length
# Per-task suffix-sort budget. The round-8 100× smoke triage showed the plan
# was right but FIXED 32 range partitions forced 1.6 GB of per-task spill at
# 100× (suffix-sort rows are ~130-byte strings: 2M rows/task is ~260 MB raw,
# >1 GB with JVM sort overhead). Round-9 A/B at the 100× smoke, same box,
# back-to-back (SCALING.md): 2M rows/task (32 parts — the floor, i.e. the
# round-8 plan) q219+q220 = 477.5 s; 250k (99 parts) = 344.3 s; 100k
# (248 parts) = 336.3 s. Round-11 re-A/B (SFX_AB_RESIDUAL.json; the A/B
# script is in git history) crossed rows-per-task with the persist level and
# found the interaction the round-9 single-knob sweep missed: with the
# wide suffix table cached DISK_ONLY (see suffix_repeat_lengths), 100k
# beats 250k by another ~10-16% wall with spill −60% — 100k adopted.
_SFX_ROWS_PER_TASK = 100_000


def _sfx_partitions(docs: DataFrame) -> int:
    """Range-partition count for the suffix sort, scaled to the corpus: at
    least the session's shuffle.partitions, growing ~linearly with the
    estimated token count (n_chars/6 ≈ tokens — the corpus's own metadata
    column, a column-pruned scan that costs ~nothing; a wrong estimate
    changes only task sizing, never results)."""
    if "n_chars" in docs.columns:
        total = docs.agg(F.sum("n_chars")).head()[0] or 0
        est_rows = int(total) // 6
    else:
        est_rows = int(
            docs.agg(F.sum(F.size(tokens("text")))).head()[0] or 0
        )
    base = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(base, -(-est_rows // _SFX_ROWS_PER_TASK))


def _spark_hash_int(v: int) -> int:
    """Spark's ``hash()`` of an IntegerType value: Murmur3_x86_32
    ``hashInt`` with seed 42, as a signed 32-bit int. Hash partitioning
    sends a row to ``pmod(hash(keys), numPartitions)``."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl((v * 0xCC9E2D51) & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m
    h ^= 4
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & m
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def _partition_keys(n: int) -> list[int]:
    """``keys[p]`` is the smallest non-negative int that hash partitioning
    into ``n`` partitions sends to partition ``p``: tagging range partition
    ``p`` with ``keys[p]`` makes a later ``repartition(n, tag)`` map range
    partitions to hash partitions one to one. Tagging with the partition
    id itself collides: ids 0..3 hash into only 2 of 4 partitions, 0..31
    into 18 of 32."""
    keys: dict[int, int] = {}
    v = 0
    while len(keys) < n:
        keys.setdefault(_spark_hash_int(v) % n, v)
        v += 1
    return [keys[p] for p in range(n)]


def suffix_repeat_lengths(
    docs: DataFrame, depth: int = _SFX_DEPTH, n_parts: int | None = None
) -> DataFrame:
    """(doc_id, source, pos, rep_len): for every token position, the token
    length of the LONGEST substring starting there that occurs verbatim at
    ≥ 2 distinct positions corpus-wide (within- or cross-document), capped
    at ``depth``.

    Plan — the shape nothing else in the repo exercises (global order +
    neighbor comparison at corpus scale): per-position suffix keys at
    bounded depth are built MAP-SIDE (one transform over the token array,
    then posexplode — the only blow-up is the ×depth key bytes, which IS
    the algorithm's working set); ONE range exchange sorts them; lag/lead
    within range partitions plus a ≤num-partitions edge collect (each
    partition's first/last key, the _ranked_with_total boundary trick)
    give every row both neighbors without a second shuffle; LCP is an
    integer expression over the split keys (first-mismatch position).
    rep_len = max(LCP(prev), LCP(next)) is exact by the suffix-array
    adjacency property. At 100 TB the sort is the plan a suffix-array
    build pays anyway; partitions stay balanced because the range keys
    are the suffixes themselves.

    Token-alphabet precondition (round-8 ADVICE): suffix keys are
    space-joined token strings, so byte-lex order of keys equals
    token-SEQUENCE order only while every token byte is > 0x20 (space).
    ``tokens()`` splits on ``\\s`` which leaves non-whitespace control
    chars (< 0x20) inside tokens; such a byte would sort a longer suffix
    BEFORE its own prefix, breaking suffix-neighbor contiguity and
    under-reporting rep_len — and because the duckdb oracle sorts the
    same joined strings, the differential gate cannot catch it. Callers
    feeding non-printable corpora must map control bytes out first (the
    q121 scrub class); the fixtures (and any printable-text corpus)
    satisfy the precondition as-is.

    Shared-stage memo (round-10): q219 (the duplication profile) and q220
    (the removal sweep) both stand on this one sorted-suffix stage; in a
    session computing both, the second caller reuses the first's
    persisted range-sorted table and its collected partition edges —
    one global range exchange feeding both outputs — instead of re-paying
    the sort (the 43x q220 TRIAGE row was exactly a re-paid sort). Keyed
    by (plan semanticHash, depth, n_parts); flushed with the persisted
    working set by cache.release_cached(), so the memo can never outlive
    the blocks it points at."""
    n_parts = n_parts or _sfx_partitions(docs)
    memo_key = (docs.semanticHash(), depth, n_parts)
    hit = _SFX_MEMO.get(memo_key)
    # A memo hit is valid ONLY while its persisted blocks are live: the
    # collected partition-edge literals are bound to ONE materialization
    # of the range exchange, and repartitionByRange re-samples its
    # boundaries per RDD id — a recompute after an out-of-band
    # spark.catalog.clearCache() (which bypasses release_cached's
    # memo flush) would pair fresh partitioning with stale edges and
    # silently corrupt rep_len. storageLevel goes back to NONE when the
    # cache is dropped, whoever dropped it. semanticHash is 32-bit, so a
    # hit additionally confirms full-plan equivalence via sameSemantics
    # against the stored source (round-11 ADVICE: two distinct plans that
    # collide in 32 bits must MISS, not serve the wrong corpus's table).
    if (
        hit is not None
        and (hit.out.storageLevel.useMemory or hit.out.storageLevel.useDisk)
        and docs.sameSemantics(hit.src)
    ):
        return hit.out
    toks = docs.select("doc_id", "source", tokens("text").alias("w"))
    keys = F.transform(
        col("w"), lambda x, i: F.array_join(F.slice(col("w"), i + 1, depth), " ")
    )
    suf = toks.select(
        "doc_id", "source", F.posexplode(keys).alias("i0", "key")
    ).select("doc_id", "source", (col("i0") + 1).alias("pos"), "key")
    # DISK_ONLY for the wide range-sorted stage (round-11, measured at the
    # 100x smoke, SFX_AB_RESIDUAL.json): this table is
    # string-keyed (~130 B/row), read exactly twice (edge collect + the
    # window pass), and a MEMORY_AND_DISK copy of it competed with the
    # window sort's execution memory in the unified pool — the memo-cold
    # 1.9 GiB sort spill was cache pressure, not the plan. Serialized +
    # compressed on local disk: q219 163 -> 124 s, q220 152 -> 138 s,
    # spill -70/-85% (with the 100k rows-per-task knob above). A
    # distinct-key variant (sort |distinct keys| with a positions join
    # back — duplicated keys get rep_len = own length by the identical-
    # twin-neighbor argument) was built and MEASURED: zero spill at 100x
    # but equal-or-worse scaled wall and 2x base cost (three corpus
    # exchanges vs one) — the wall is wide-row MATERIALIZATION, not the
    # sort; rejected, artifact SFX_DISTINCT_TRIAGE.json.
    # Round-13 A/B, measured and REJECTED: moving the neighbor lag/lead
    # window INSIDE this persisted stage (so consumers are pure
    # projections) is a wash at sf0.1 (7.21 → 7.20 s combined) but much
    # worse at the 100× smoke — q219 139 → 175 s, q220 129 → 183 s —
    # because the cache then carries THREE ~130 B suffix keys per row
    # (key + both neighbors) and the DISK_ONLY materialization is the
    # adjudicated wall; the columnar codec does not recover the 3×. The
    # narrow unsorted cache below stays; the window runs in the consumer
    # pass (its hashpartitioning(_pid) exchange is the price of
    # partition-aligned windows over a cached range partitioning).
    # _pid tags each range partition with a key that hash partitioning into
    # n_parts sends to a partition of its own (_partition_keys), so that
    # exchange is one to one. Tagged with the raw partition id, the window
    # pass ran 3 of 4 range partitions in one task at 4 partitions (q219
    # at sf0.1 on 4 cores: 4.5 -> 7.2 s against 32 partitions).
    pkeys = _partition_keys(n_parts)
    rank = {k: p for p, k in enumerate(pkeys)}
    rp = persist_tracked(
        suf.repartitionByRange(n_parts, "key", "doc_id", "pos").withColumn(
            "_pid",
            F.element_at(F.array(*map(lit, pkeys)), F.spark_partition_id() + 1),
        ),
        level=StorageLevel.DISK_ONLY,
    )
    # Range order of the partitions, by partition id (not by tag).
    edges = sorted(
        (rank[r["_pid"]], r["_pid"], r["fst"]["key"], r["lst"]["key"])
        for r in rp.groupBy("_pid")
        .agg(
            F.min(F.struct("key", "doc_id", "pos")).alias("fst"),
            F.max(F.struct("key", "doc_id", "pos")).alias("lst"),
        )
        .collect()
    )
    prev_last: dict[int, str] = {}
    next_first: dict[int, str] = {}
    for i, (_, pid, fk, lk) in enumerate(edges):
        if i > 0:
            prev_last[pid] = edges[i - 1][3]
        if i < len(edges) - 1:
            next_first[pid] = edges[i + 1][2]

    def pid_case(d: dict[int, str]):
        if not d:
            return lit(None).cast("string")
        return F.coalesce(
            *[F.when(col("_pid") == p, lit(k)) for p, k in d.items()],
            lit(None).cast("string"),
        )

    def lcp(a, b):
        ta, tb = F.split(a, " "), F.split(b, " ")
        m = F.least(F.size(ta), F.size(tb))
        eqs = F.zip_with(F.slice(ta, 1, m), F.slice(tb, 1, m), lambda x, y: x == y)
        fp = F.array_position(eqs, lit(False))
        return F.when(b.isNull(), lit(0)).otherwise(
            F.when(fp == 0, m).otherwise(fp - 1)
        )

    # Round-13 (plan evidence plans/r13/q219_*_before.txt): the LCP
    # expression references each neighbor key ~8 times, and Spark does
    # NOT dedupe identical window expressions — the former inline
    # lag/lead spelling planned SIXTEEN window function instances
    # (_we0.._we15), i.e. 16 ~130-byte key copies per row through the
    # window buffers. Aliasing the two neighbors once and letting the
    # LCP projection reference the attributes plans exactly one lag and
    # one lead (after-plan: 2 windowspecdefinitions).
    w = Window.partitionBy("_pid").orderBy("key", "doc_id", "pos")
    nbr = rp.repartition(n_parts, "_pid").select(
        "doc_id",
        "source",
        "pos",
        "key",
        "_pid",
        F.lag("key").over(w).alias("_lk"),
        F.lead("key").over(w).alias("_nk"),
    )
    pk = F.coalesce(col("_lk"), pid_case(prev_last))
    nk = F.coalesce(col("_nk"), pid_case(next_first))
    # Persist the rep_len RESULT, not just the sorted suffix table: it is
    # the narrow (4 scalar columns — no suffix-key strings) end of the
    # stage, so the second caller skips the window + LCP pass too, not
    # only the range exchange (A/B: q220 at the 100x smoke 193 s unshared
    # -> re-measured with this persist in SCALING.md).
    out = persist_tracked(
        nbr.select(
            "doc_id",
            "source",
            "pos",
            F.greatest(lcp(col("key"), pk), lcp(col("key"), nk))
            .cast("int")
            .alias("rep_len"),
        )
    )
    _SFX_MEMO[memo_key] = _SfxMemoEntry(src=docs, out=out)
    return out


class _SfxMemoEntry(NamedTuple):
    src: DataFrame  # the docs plan the stage was built from (sameSemantics)
    out: DataFrame  # the persisted rep_len table


# Shared sorted-suffix stage, see suffix_repeat_lengths docstring. Flushed
# alongside the persisted blocks it references (cache.release_cached).
_SFX_MEMO: dict[tuple, _SfxMemoEntry] = {}

from ..cache import register_memo_clearer as _reg_clear  # noqa: E402

_reg_clear(_SFX_MEMO.clear)


def q219_suffix_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source variable-length exact-substring duplication profile:
    positions covered by a >= _SPAN_N(5)-token verbatim repeat (the q122
    threshold, now with the repeat's ACTUAL length), deeply-copied
    positions (>= 10), the longest repeat seen (capped at _SFX_DEPTH),
    and the mean repeat length over covered positions — the numbers a
    substring-removal pass (Lee et al. §4) plans its cuts from."""
    docs = spread(load(spark, sf_dir, "documents"))
    r = suffix_repeat_lengths(docs)
    return (
        r.groupBy("source")
        .agg(
            F.count("*").alias("n_pos"),
            F.sum((col("rep_len") >= _SPAN_N).cast("long")).alias("dup_pos"),
            F.sum((col("rep_len") >= 2 * _SPAN_N).cast("long")).alias("deep_pos"),
            F.max("rep_len").alias("max_len"),
            F.round(
                F.avg(F.when(col("rep_len") >= _SPAN_N, col("rep_len"))), 4
            ).alias("avg_dup_len"),
        )
        .orderBy("source")
    )


def q220_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT pass of Lee et al. ACL'22 §4 that q219 plans for: remove
    every token position covered by a >= _SPAN_N-token verbatim repeat
    (ALL occurrences drop — the paper's ExactSubstr policy), and report
    the per-source removal accounting a curation run logs: docs, total
    vs removed tokens, removal rate, and docs removed entirely.

    Coverage needs an interval UNION, not just the start flags: inside a
    length-l repeat the trailing positions report rep_len < threshold
    (the suffix of a repeat is a shorter repeat), so each kept/removed
    decision is "does any qualifying span starting at p' <= pos still
    reach past pos" — a per-doc running max of (pos + rep_len) over the
    qualifying starts, the classic sweep. One doc_id hash shuffle + the
    in-partition sort on top of q219's machinery; per-doc state only. The
    doc_id exchange is sized like the suffix sort (explicit repartition to
    the same scaled count): at 100× the fixed session default would put
    ~20M rows per window task — the same spill the suffix sort had."""
    docs = spread(load(spark, sf_dir, "documents"))
    n_parts = _sfx_partitions(docs)
    r = suffix_repeat_lengths(docs, n_parts=n_parts).repartition(
        n_parts, "doc_id"
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cov_end = F.max(
        F.when(col("rep_len") >= _SPAN_N, col("pos") + col("rep_len")).otherwise(
            lit(0)
        )
    ).over(w)
    cv = r.withColumn("covered", (cov_end > col("pos")).cast("long"))
    per_doc = cv.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_tok"), F.sum("covered").alias("n_rm")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_rm").alias("removed_tokens"),
            F.round(F.sum("n_rm") / F.sum("n_tok"), 4).alias("removal_rate"),
            F.sum((col("n_rm") == col("n_tok")).cast("long")).alias("n_docs_gone"),
        )
        .orderBy("source")
    )


_SUBSTRING_REMOVAL_SQL_TMPL = """
WITH {ctes},
cv AS (
  SELECT doc_id, source, pos,
         CASE WHEN MAX(CASE WHEN rep_len >= {lmin} THEN pos + rep_len
                            ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) > pos
              THEN 1 ELSE 0 END AS covered
  FROM lr),
pd AS (SELECT doc_id, source, COUNT(*) AS n_tok,
              CAST(SUM(covered) AS BIGINT) AS n_rm
       FROM cv GROUP BY doc_id, source)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_rm) AS BIGINT) AS removed_tokens,
       ROUND(CAST(SUM(n_rm) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE), 4)
         AS removal_rate,
       CAST(SUM(CASE WHEN n_rm = n_tok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_gone
FROM pd GROUP BY source ORDER BY source
"""


def _lcp_sql(a: str, b: str) -> str:
    sa, sb = f"string_split({a}, ' ')", f"string_split({b}, ' ')"
    m = f"LEAST(len({sa}), len({sb}))"
    eqs = f"list_transform(range(1, 1 + {m}), j -> ({sa})[j] = ({sb})[j])"
    # list_position returns 0 (not NULL) on no-match — NULLIF routes the
    # all-equal case to the min-length fallback, same as Spark's fp == 0.
    return (
        f"CASE WHEN {b} IS NULL THEN 0 "
        f"ELSE COALESCE(NULLIF(list_position({eqs}, false), 0) - 1, {m}) END"
    )


# Shared CTE chain ending at lr(doc_id, source, pos, rep_len) — used by
# the q219 profile oracle and the q220 removal oracle.
_SUFFIX_REPLEN_CTES = f"""tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
suf AS (
  SELECT doc_id, source, CAST(t.i AS BIGINT) AS pos,
         array_to_string(list_slice(w, t.i, t.i + {_SFX_DEPTH - 1}), ' ') AS key
  FROM tok, UNNEST(range(1, len(w) + 1)) AS t(i)),
nb AS (
  SELECT doc_id, source, pos, key,
         LAG(key) OVER (ORDER BY key, doc_id, pos) AS pk,
         LEAD(key) OVER (ORDER BY key, doc_id, pos) AS nk
  FROM suf),
lr AS (
  SELECT doc_id, source, pos,
         GREATEST({_lcp_sql('key', 'pk')}, {_lcp_sql('key', 'nk')}) AS rep_len
  FROM nb)"""

_SUFFIX_SPAN_SQL = f"""
WITH {_SUFFIX_REPLEN_CTES},
l AS (SELECT source, rep_len FROM lr)
SELECT source, COUNT(*) AS n_pos,
       CAST(SUM(CASE WHEN rep_len >= {_SPAN_N} THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_pos,
       CAST(SUM(CASE WHEN rep_len >= {2 * _SPAN_N} THEN 1 ELSE 0 END) AS BIGINT)
         AS deep_pos,
       CAST(MAX(rep_len) AS INT) AS max_len,
       ROUND(AVG(CASE WHEN rep_len >= {_SPAN_N} THEN rep_len END), 4)
         AS avg_dup_len
FROM l GROUP BY source ORDER BY source
"""


_SPANS_SQL = (
    "SELECT doc_id, source, "
    + " || ' ' || ".join(f"w[i + {j}]" for j in range(_SPAN_N))
    + f" AS s FROM (SELECT doc_id, source, {tokens_sql()} AS w FROM documents) tok, "
    + f"UNNEST(range(1, len(w) - {_SPAN_N - 2})) AS t(i)"
)

# --- content-defined chunking (q141) ---------------------------------------

_CDC_MOD = 11  # boundary when the 3-gram hash ≡ 0 (mod 11) → ~11-token chunks


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Content-defined chunking over tokens: cut BEFORE token i when the
    hash of the 3-gram ending at token i-1 hits 0 mod ``_CDC_MOD``.
    Boundaries depend only on local content, so an insertion early in a
    document shifts at most one chunk — the property that makes chunk-level
    dedup robust to edits where fixed-width chunking (q117) resynchronizes
    never and whole-doc hashing (q40) resynchronizes only on exact equality.
    (Gear/Rabin CDC over bytes is the same scheme with a rolling window;
    over word tokens a plain 3-gram hash is already O(1) per position.)

    Returns (doc_id, chunk, chash, n_toks): one row per chunk. One shuffle
    (hash-partition by doc_id for the lag/prefix-sum windows) + one partial
    agg for the chunk reassembly — per-doc state only, no cross-doc work.
    """
    t = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("i", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    gram = F.concat_ws(
        " ", F.lag("tok", 3).over(w), F.lag("tok", 2).over(w), F.lag("tok", 1).over(w)
    )
    flag = F.when(
        (col("i") >= 3) & (F.pmod(hash48(gram), lit(_CDC_MOD)) == 0), 1
    ).otherwise(0)
    chunked = t.select(
        "doc_id",
        "i",
        "tok",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("chunk"),
    )
    return (
        chunked.groupBy("doc_id", "chunk")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda x: x.tok,
                ),
            ).alias("chunk_text"),
            F.count("*").alias("n_toks"),
        )
        .select("doc_id", "chunk", hash48(col("chunk_text")).alias("chash"), "n_toks")
    )


def q141_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication histogram under content-defined chunking:
    how many distinct chunks occur 1×, 2×, … across the corpus, and how
    many tokens each class holds — the measurement pass before a
    chunk-level dedup decides what to drop.

    Scale: chunking is per-doc windowed work (one shuffle on doc_id); the
    occurrence count is a hash agg on the 48-bit chunk hash; the histogram
    is an agg over distinct chunks. Nothing is quadratic and no chunk text
    crosses the wire after the hash — at 100 TB the chash agg is the only
    corpus-wide shuffle."""
    docs = spread(load(spark, sf_dir, "documents"))
    ch = cdc_chunks(docs)
    occ = ch.groupBy("chash").agg(
        F.count("*").alias("occurrences"), F.sum("n_toks").alias("n_toks")
    )
    return (
        occ.groupBy("occurrences")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("occurrences")
    )


def q155_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / fuzzy entity matching with BLOCKING: candidate part
    pairs share a (brand, size) blocking key, then an edit-distance verifier
    (levenshtein ≤ 8 on the name) decides the match — the standard two-stage
    ER pipeline (block → compare) that replaces the impossible all-pairs
    comparison. Output: per-brand candidate/match counts and the closest
    observed distance.

    Scale: the blocking key turns O(n²) comparisons into an equi-join (one
    shuffle on (brand, size); AQE handles hot blocks). Levenshtein is a
    JVM-side built-in — no Python in the verifier. Block sizing is the
    recall/cost knob, exactly as band width is for MinHash (q42)."""
    p = load(spark, sf_dir, "part")
    a = p.select(
        col("p_brand").alias("brand"),
        col("p_size").alias("size"),
        col("p_partkey").alias("ka"),
        col("p_name").alias("na"),
    )
    b = p.select(
        col("p_brand").alias("brand"),
        col("p_size").alias("size"),
        col("p_partkey").alias("kb"),
        col("p_name").alias("nb"),
    )
    d = F.levenshtein(col("na"), col("nb"))
    return (
        a.join(b, ["brand", "size"])
        .where(col("ka") < col("kb"))
        .select("brand", d.alias("d"))
        .groupBy("brand")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum((col("d") <= 8).cast("long")).alias("n_matched"),
            F.min("d").cast("long").alias("min_dist"),
        )
        .orderBy("brand")
    )


def q199_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-saturation (novelty) curve: bucket the corpus into 10
    contiguous doc_id ranges and count, per bucket, the word-3-gram
    shingles appearing there for the FIRST time, plus the cumulative
    distinct-shingle count — the diminishing-returns diagnostic behind
    "is more of this crawl still adding new content?" decisions (the
    n-gram-novelty analog of scaling-law data curation: when new_shingles
    flattens, additional ingest from this source is mostly duplication).

    One pass: shingle explode → MIN(doc_id) per shingle (hash agg,
    vocabulary-bounded shuffle — the same key class as q126's vocab
    stats) → bucket by the first-seer's decile → 10-row rollup; the
    cumulative sum is a window over those 10 rows. Bucketing uses exact
    integer division against max(doc_id) so both engines cut identically.

    Scale: nothing holds per-doc state; the only corpus-wide shuffle is
    the shingle agg, and its key domain is the shingle vocabulary (grows
    sublinearly with corpus size — which is exactly what this query
    measures)."""
    docs = spread(load(spark, sf_dir, "documents"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    first = (
        shingle_table(docs)
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    counts = (
        first.crossJoin(F.broadcast(mx))
        .select(
            F.least(F.expr("first_doc * 10 div (mx + 1)"), lit(9))
            .cast("int")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("new_shingles"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        counts.withColumn("cum_shingles", F.sum("new_shingles").over(w))
        .select("decile", "new_shingles", "cum_shingles")
        .orderBy("decile")
    )


def q200_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: every document is routed to
    a split by hashing its near-dup CLUSTER representative (the q55
    connected-component label over the MinHash-LSH pair graph; singletons
    represent themselves) — so near-duplicate twins can NEVER straddle the
    split boundary, the contamination mode that silently inflates eval
    scores when splits hash raw doc ids. Buckets 0-7 train, 8 val, 9 test
    (hash48 of the representative id, mod 10 — deterministic, so re-runs
    and incremental ingests route consistently).

    Cluster integrity (every cluster wholly inside one split) is pinned in
    tests/test_new_ops_properties.py.

    Scale: cc_labels is q55's two-phase union-find contraction (its 100x
    smoke row); the label table is near-dup-pairs-sized — a tiny fraction
    of the corpus — so AQE broadcasts the left join and the corpus never
    shuffles; everything after is one hash aggregate over 3 split rows."""
    docs = load(spark, sf_dir, "documents")
    labels = cc_labels(docs)
    rep = F.coalesce(col("label"), col("doc_id"))
    bucket = F.pmod(hash48(rep.cast("string")), lit(10))
    split = (
        F.when(bucket <= 7, lit("train"))
        .when(bucket == 8, lit("val"))
        .otherwise(lit("test"))
    )
    return (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


# --- q209: segment-level cross-document dedup (CCNet line dedup) -------------
# Wenzek et al. 2020 (CCNet) deduplicate web text at the LINE level before
# any document-level pass — boilerplate (nav bars, footers, cookie notices)
# repeats across documents that are otherwise unique. The fixture corpus has
# no newlines, so the "line" unit is a NON-OVERLAPPING 8-token segment —
# distinct from q122's sliding positional 5-gram spans (q122 MEASURES copied
# coverage; this REMOVES repeated units and accounts for the cleaned corpus)
# and from q141's content-defined chunks (fixed grid vs content boundaries).

_SEG_W = 8  # tokens per segment; the last segment of a doc may be shorter


def doc_segments(docs: DataFrame) -> DataFrame:
    """Explode each document into its non-overlapping _SEG_W-token segments:
    (doc_id, source, seg_no, seg_hash, n_toks). Pure map-side — the segment
    array builds per row via transform over ceil(n/_SEG_W) slices."""
    return segments_from_tokens(
        docs.select("doc_id", "source", tokens("text").alias("w"))
    )


def segments_from_tokens(tok: DataFrame) -> DataFrame:
    """doc_segments over a pre-tokenized (doc_id, source, w) table — the
    form the composed pipeline (q89b) uses so the corpus tokenizes once."""
    w = col("w")
    nseg = F.ceil(F.size(w) / lit(_SEG_W)).cast("int")
    # nseg=0 (empty/whitespace-only doc) must yield NO segments: a bare
    # sequence(0, nseg-1) would produce the DESCENDING array [0,-1] and two
    # phantom segments (one with negative n_toks) — the oracle's range(0,0)
    # correctly emits nothing, so guard the empty case explicitly.
    segs = F.when(
        nseg > 0,
        F.transform(
            F.sequence(lit(0), nseg - 1),
            lambda k: F.concat_ws(" ", F.slice(w, k * _SEG_W + 1, _SEG_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tok.select(
        "doc_id", "source", F.size(w).alias("n"),
        F.posexplode(segs).alias("seg_no", "seg"),
    ).select(
        "doc_id", "source", "seg_no",
        hash48(col("seg")).alias("seg_hash"),
        F.least(lit(_SEG_W), col("n") - col("seg_no") * _SEG_W).alias("n_toks"),
    )


def q209_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of segment-level dedup: a segment is REMOVED
    when its hash occurs in ≥ 2 distinct documents (every occurrence drops,
    the CCNet rule — boilerplate carries no training signal even once
    when it defines no document). Reports segments/tokens removed, docs
    touched, and the surviving token volume.

    Scale: segments explode map-side; ONE shuffle on seg_hash computes the
    distinct-doc frequency; the duplicated-hash table that joins back is
    bounded by the volume of *repeated* content (dimension-class for real
    corpora — AQE broadcasts it when small, shuffles when not); the final
    rollup is map-side-partial on source."""
    docs = spread(load(spark, sf_dir, "documents"))
    # Both the frequency pass and the join-back read the exploded segment
    # table; persist it so the corpus tokenizes once (the PPJoin contract —
    # at 100 TB this spills MEMORY_AND_DISK rather than re-parse).
    seg = persist_tracked(doc_segments(docs))
    dup = (
        seg.groupBy("seg_hash")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .where(col("df_docs") >= 2)
        .select("seg_hash", lit(1).alias("is_dup"))
    )
    flagged = seg.join(dup, "seg_hash", "left").select(
        "source", "doc_id", "n_toks",
        F.coalesce(col("is_dup"), lit(0)).alias("is_dup"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("total_segments"),
            F.sum("is_dup").alias("removed_segments"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum(col("is_dup") * col("n_toks")).alias("removed_tokens"),
            F.countDistinct(F.when(col("is_dup") == 1, col("doc_id"))).alias(
                "docs_touched"
            ),
        )
        .select(
            "source", "n_docs", "total_segments", "removed_segments",
            "total_tokens", "removed_tokens", "docs_touched",
            F.round(col("removed_tokens") / col("total_tokens"), 4).alias(
                "removed_frac"
            ),
        )
        .orderBy("source")
    )


_SEG_SLICE = f"list_slice(w, k * {_SEG_W} + 1, (k + 1) * {_SEG_W})"


def seg_select_sql(src: str) -> str:
    """duckdb SELECT producing the exploded segment rows (doc_id, source,
    seg_no, seg_hash, n_toks) from a pre-tokenized table ``src`` holding
    (doc_id, source, w) — shared by the q209 oracle and the composed
    pipeline (q89b) oracle so both spell the identical segmentation."""
    return f"""
  SELECT doc_id, source, k AS seg_no,
         {hash48_sql(f"array_to_string({_SEG_SLICE}, ' ')")} AS seg_hash,
         LEAST({_SEG_W}, len(w) - k * {_SEG_W}) AS n_toks
  FROM {src}, UNNEST(range(0, CAST(CEIL(len(w) / {_SEG_W}.0) AS BIGINT))) AS u(k)"""


_SEGMENT_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
seg AS ({seg_select_sql('t')}),
dup AS (
  SELECT seg_hash, 1 AS is_dup FROM seg
  GROUP BY seg_hash HAVING COUNT(DISTINCT doc_id) >= 2),
flagged AS (
  SELECT s.source, s.doc_id, s.n_toks, COALESCE(d.is_dup, 0) AS is_dup
  FROM seg s LEFT JOIN dup d USING (seg_hash))
SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS total_segments,
       CAST(SUM(is_dup) AS BIGINT) AS removed_segments,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(is_dup * n_toks) AS BIGINT) AS removed_tokens,
       CAST(COUNT(DISTINCT CASE WHEN is_dup = 1 THEN doc_id END) AS BIGINT)
         AS docs_touched,
       ROUND(SUM(is_dup * n_toks) / CAST(SUM(n_toks) AS DOUBLE), 4)
         AS removed_frac
FROM flagged GROUP BY source ORDER BY source
"""


ORACLES = {
    "q209_segment_dedup": _SEGMENT_DEDUP_SQL,
    "q199_novelty_curve": f"""
WITH sh AS ({_SHINGLES_SQL}),
mx AS (SELECT MAX(doc_id) AS mx FROM documents),
first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
b AS (SELECT LEAST(first_doc * 10 // (mx + 1), 9) AS decile
      FROM first CROSS JOIN mx),
c AS (SELECT CAST(decile AS INT) AS decile, COUNT(*) AS new_shingles
      FROM b GROUP BY 1)
SELECT decile, CAST(new_shingles AS BIGINT) AS new_shingles,
       CAST(SUM(new_shingles) OVER (ORDER BY decile) AS BIGINT) AS cum_shingles
FROM c ORDER BY decile
""",
    "q200_leakage_safe_split": f"""
WITH RECURSIVE {_cc_ctes()},
assigned AS (
  SELECT d.n_chars, COALESCE(f.label, d.doc_id) AS rep
  FROM documents d LEFT JOIN final f ON f.node = d.doc_id),
b AS (SELECT n_chars,
             {hash48_sql("CAST(rep AS VARCHAR)")} % 10 AS bucket
      FROM assigned)
SELECT CASE WHEN bucket <= 7 THEN 'train'
            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1 ORDER BY 1
""",
    "q155_fuzzy_blocked_match": """
WITH pairs AS (
  SELECT a.p_brand AS brand, levenshtein(a.p_name, b.p_name) AS d
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey)
SELECT brand,
       COUNT(*) AS n_candidates,
       CAST(SUM(CASE WHEN d <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(MIN(d) AS BIGINT) AS min_dist
FROM pairs GROUP BY brand ORDER BY brand
""",
    "q141_cdc_chunk_dedup": f"""
WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS a FROM documents),
t AS (SELECT doc_id, i, a[i] AS tok
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(a))) AS i)),
f AS (SELECT doc_id, i, tok,
        CASE WHEN i >= 4 AND ({hash48_sql(
            "lag(tok, 3) OVER w || ' ' || lag(tok, 2) OVER w || ' ' || lag(tok, 1) OVER w"
        )} % {_CDC_MOD}) = 0 THEN 1 ELSE 0 END AS flag
      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
c AS (SELECT doc_id, i, tok,
        SUM(flag) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS chunk
      FROM f),
ch AS (SELECT doc_id, chunk,
         {hash48_sql("string_agg(tok, ' ' ORDER BY i)")} AS chash,
         COUNT(*) AS n_toks
       FROM c GROUP BY 1, 2),
occ AS (SELECT chash, COUNT(*) AS occurrences, SUM(n_toks) AS n_toks
        FROM ch GROUP BY 1)
SELECT occurrences, COUNT(*) AS n_chunks,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens
FROM occ GROUP BY 1 ORDER BY 1
""",
    "q219_suffix_span_dedup": _SUFFIX_SPAN_SQL,
    "q220_substring_removal": _SUBSTRING_REMOVAL_SQL_TMPL.format(
        ctes=_SUFFIX_REPLEN_CTES, lmin=_SPAN_N
    ),
    "q122_span_coverage": f"""
WITH spans AS ({_SPANS_SQL}),
freq AS (SELECT s, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, s FROM spans) GROUP BY 1),
doc AS (
  SELECT doc_id, source, COUNT(*) AS n_spans,
         SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS dup_spans
  FROM spans JOIN freq USING (s) GROUP BY 1, 2)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_spans) AS BIGINT) AS total_spans,
       CAST(SUM(dup_spans) AS BIGINT) AS dup_spans,
       ROUND(AVG(dup_spans / CAST(n_spans AS DOUBLE)), 4) AS avg_coverage,
       CAST(SUM(CASE WHEN dup_spans / CAST(n_spans AS DOUBLE) > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_copied
FROM doc GROUP BY 1 ORDER BY 1
""",
    "q40_dedup_exact": (
        "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique FROM documents"
    ),
    "q41_ngram_jaccard": f"""
WITH sh AS ({_SHINGLES_SQL}),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
com AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE), 6) AS jac
FROM com JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
WHERE ROUND(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE), 6) >= 0.5
ORDER BY 1, 2
""",
    "q233_dedup_threshold_curve": f"""
WITH sh AS ({_SHINGLES_SQL}),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
com AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
jp AS (
  SELECT d2, ROUND(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE), 6)
           AS jac
  FROM com JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
  WHERE ROUND(CAST(c AS DOUBLE) / CAST(c1.n + c2.n - c AS DOUBLE), 6) >= 0.5),
mx AS (SELECT d2 AS doc_id, MAX(jac) AS mj FROM jp GROUP BY 1),
tk AS (SELECT doc_id, CAST(len({tokens_sql()}) AS BIGINT) AS n_tok
       FROM documents),
tot AS (SELECT COUNT(*) AS nd, SUM(n_tok) AS nt FROM tk),
th AS (SELECT unnest([500, 600, 700, 800, 900]) AS t_milli),
fl AS (
  SELECT t_milli, COUNT(*) AS nf, SUM(n_tok) AS ft
  FROM mx JOIN tk USING (doc_id) CROSS JOIN th
  WHERE mj * 1000 >= t_milli GROUP BY 1)
SELECT th.t_milli,
       CAST(COALESCE(nf, 0) AS BIGINT) AS n_flagged,
       CAST(COALESCE(ft, 0) AS BIGINT) AS flagged_tokens,
       ROUND(1000.0 * COALESCE(nf, 0) / nd, 3) AS pct_docs_m,
       ROUND(1000.0 * COALESCE(ft, 0) / nt, 3) AS pct_tokens_m
FROM th LEFT JOIN fl USING (t_milli) CROSS JOIN tot ORDER BY 1
""",
    "q42_minhash_lsh": _minhash_sql(),
    "q42b_minhash_lsh_grown": _minhash_grown_sql(),
    "q241_exact_span_decontam": _decontam_sql(),
    "q120_incremental_dedup": _incremental_sql(),
    "q116_contamination": f"""
WITH sh AS ({_SHINGLES_SQL}),
b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
c AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
SELECT c.doc_id, COUNT(*) AS n_shared
FROM c JOIN b ON c.s = b.s
GROUP BY 1 HAVING COUNT(*) >= 3 ORDER BY 1
""",
    "q55_dedup_clusters": _clusters_sql(),
    "q58_dedup_keep": _dedup_keep_sql(),
    "q43_simhash": _simhash_sql(),
    "q44_embedding_neardup": f"""
WITH {lsh_sig_cte_sql()}
SELECT a.vec_id AS d1, c.vec_id AS d2,
       ROUND({cosine_sql('a.v', 'c.v')}, 4) AS cos
FROM s a JOIN s c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND({cosine_sql('a.v', 'c.v')}, 4) >= 0.4
ORDER BY 1, 2
""",
    "q44b_embedding_neardup_scaled": f"""
WITH {lsh_sig_cte_sql(12)}
SELECT a.vec_id AS d1, c.vec_id AS d2,
       ROUND({cosine_sql('a.v', 'c.v')}, 4) AS cos
FROM s a JOIN s c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND({cosine_sql('a.v', 'c.v')}, 4) >= 0.4
ORDER BY 1, 2
""",
}

# duckdb inlines CTEs per reference; these oracles reference heavy CTEs
# from banded self-joins / recursive tails multiple times — pin
# evaluate-once (results bit-identical; q58 measured 17 s -> 0.36 s at
# sf0.1, q55 10 s -> 0.5 s, q200 9 s -> 0.5 s of pure re-evaluation).
from ..functions import materialize_ctes as _mat

for _k in ("q42_minhash_lsh", "q42b_minhash_lsh_grown", "q55_dedup_clusters",
           "q58_dedup_keep", "q120_incremental_dedup",
           "q200_leakage_safe_split", "q233_dedup_threshold_curve"):
    ORACLES[_k] = _mat(ORACLES[_k])

QUERIES = {
    "q209_segment_dedup": q209_segment_dedup,
    "q199_novelty_curve": q199_novelty_curve,
    "q200_leakage_safe_split": q200_leakage_safe_split,
    "q155_fuzzy_blocked_match": q155_fuzzy_blocked_match,
    "q141_cdc_chunk_dedup": q141_cdc_chunk_dedup,
    "q40_dedup_exact": q40_dedup_exact,
    "q41_ngram_jaccard": q41_ngram_jaccard,
    "q233_dedup_threshold_curve": q233_dedup_threshold_curve,
    "q42_minhash_lsh": q42_minhash_lsh,
    "q42b_minhash_lsh_grown": q42b_minhash_lsh_grown,
    "q116_contamination": q116_contamination,
    "q120_incremental_dedup": q120_incremental_dedup,
    "q55_dedup_clusters": q55_dedup_clusters,
    "q58_dedup_keep": q58_dedup_keep,
    "q43_simhash": q43_simhash,
    "q44_embedding_neardup": q44_embedding_neardup,
    "q44b_embedding_neardup_scaled": q44b_embedding_neardup_scaled,
    "q122_span_coverage": q122_span_coverage,
    "q219_suffix_span_dedup": q219_suffix_span_dedup,
    "q220_substring_removal": q220_substring_removal,
    "q241_exact_span_decontam": q241_exact_span_decontam,
}
