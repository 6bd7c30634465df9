"""Sketch-accelerated operators: explicit Bloom-filter join pruning and
Misra-Gries heavy hitters.

Both operators follow the same scale discipline as the dedup/ANN family:
the sketch phase bounds what crosses the wire, and an EXACT finishing pass
makes the final answer independent of the sketch (so the duckdb oracle is
the plain exact query — the sketch can only prune, never change results).

- Bloom semi-join (q136): the build side aggregates to at most ``_BLOOM_M``
  distinct bit positions (a driver-trivial collect, same budget class as the
  IVF centroid seed in similarity.py), and the probe side is filtered
  MAP-SIDE in its scan stage before the exact semi-join shuffles anything.
  This is the explicit form of Spark's runtime row-level bloom filtering
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``), written out so the
  pruning applies regardless of join strategy and is visible in the plan.
  At 100 TB: the probe scan emits only candidate rows — the shuffle (or
  broadcast probe) carries ~|matches| + FP rows instead of the full table.

- Misra-Gries heavy hitters (q137): each input partition keeps at most
  ``_MG_COUNTERS`` candidate counters (classic MG: any item with local
  frequency > n_p/(k+1) survives; with k >= 1/phi the union of partition
  survivors is a SUPERSET of every global phi-heavy item — pigeonhole: an
  item below phi*n_p in every partition is below phi*N globally). The exact
  recount then touches only candidate tokens: shuffle volume is
  O(partitions x k), never O(distinct terms). At 100 TB the full
  term-frequency groupBy this replaces is the dominant shuffle of any
  vocabulary pass; MG bounds it by a constant per partition.

Reference parity note: the reference engine has no sketch operators — these
are north-star extensions for the training-data-pipeline surface (frequency
capping, stop-list mining, join pruning at ingest).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import col, lit

from ..cache import persist_tracked
from ..catalog import load, spread
from ..functions import hash48, hash48_sql, tokens, tokens_sql

# --- Bloom filter ----------------------------------------------------------

_BLOOM_M_MIN = 8192  # bits; 1 KiB binary bitmap literal at the floor
_BLOOM_M_MAX = 1 << 20  # positions are computed mod this, folded down below
_BLOOM_K = 3  # independent md5-derived hash positions per key
_BLOOM_PRICE = 495000.0  # build side: customers with a jumbo order


def _bloom_positions(key: F.Column, seed: int) -> F.Column:
    """Bit position for one hash function at the MAX modulus: md5-derived
    48-bit hash of the seeded key, mod 2^20. Because every candidate bitmap
    size m is a power of two dividing 2^20, ``pos_max % m == hash % m`` —
    so the build side computes positions ONCE at 2^20 and the driver folds
    them to whatever m the observed key count calls for."""
    return F.pmod(
        hash48(F.concat(lit(f"b{seed}:"), key.cast("string"))), lit(_BLOOM_M_MAX)
    )


def build_bloom_bytes(keys: DataFrame, key_col: str) -> bytes:
    """Build the bitmap DISTRIBUTIVELY: the build side reduces to distinct
    bit positions (partial-agg'd map-side), the position count sizes m
    (smallest power of two >= 8 bits per position, clamped to
    [2^13, 2^20] — growing m with the build side keeps the false-positive
    rate roughly constant as the data scales, the q44b grow-bits rule),
    and the folded positions aggregate to per-byte masks via BIT_OR, so
    the driver receives at most m/8 = 2^17 (byte_idx, mask) rows — a
    bound set by the BITMAP size, never by the build-side key count. A
    fact-sized build side (billions of keys) funnels exactly the same
    <=128 KiB of aggregate state through the driver as a dimension does;
    the old form collected the raw position list (O(min(3·|keys|, 2^20))
    rows) and assembled bits in a Python loop.

    The positions intermediate is persisted because two jobs read it
    (count to size m, then the byte fold); released with the operator
    working set via cache.release_cached.

    The bitmap MUST stay binary, not a hex string: Spark's substring on a
    StringType literal walks the UTF8 bytes linearly to find the char
    offset, turning every probe into O(m) — measured as a 40-minute
    single-core stall at m = 2^19 over 150k probe rows. BinaryType
    substring is a positional byte slice, O(1) per probe."""
    pos_cols = [_bloom_positions(col(key_col), s).alias(f"p{s}") for s in range(_BLOOM_K)]
    positions = persist_tracked(
        keys.select(F.explode(F.array(*pos_cols)).alias("pos")).distinct()
    )
    n_pos = positions.count()
    m = _BLOOM_M_MIN
    while m < _BLOOM_M_MAX and m < 8 * max(n_pos, 1):
        m *= 2
    # fold to m, split into (byte index, single-bit mask), OR the masks
    # per byte — one partial-aggregated shuffle of <= m/8 groups. 2^(p%8)
    # via pow is exact (exponent <= 7).
    p = F.pmod(col("pos"), lit(m))
    segs = (
        positions.select(
            (p / 8).cast("long").alias("byte_idx"),
            F.pow(lit(2.0), F.pmod(p, lit(8)).cast("double")).cast("int").alias("mask"),
        )
        .groupBy("byte_idx")
        .agg(F.bit_or("mask").alias("b"))
        .collect()
    )
    bits = bytearray(m // 8)
    for r in segs:
        bits[r.byte_idx] = r.b
    return bytes(bits)


def bloom_might_contain(bloom: bytes, key: F.Column) -> F.Column:
    """Map-side membership test: all k bits set. Pure column expressions on
    a BINARY bitmap literal (byte-positional substring + hex of ONE byte +
    arithmetic bit test), so the test runs inside whole-stage codegen in
    the probe's scan stage at O(1) per probe. The bitmap length encodes m
    (always a power of two dividing 2^20, so folding the 2^20-modulus
    position preserves the hash-mod-m value)."""
    m = len(bloom) * 8
    checks = []
    for s in range(_BLOOM_K):
        pos = F.pmod(_bloom_positions(key, s), lit(m))
        byte = F.conv(
            F.hex(
                F.substring(lit(bytearray(bloom)), (F.floor(pos / 8) + 1).cast("int"), 1)
            ),
            16,
            10,
        ).cast("int")
        # bit r of byte, via arithmetic (F.shiftright needs a literal count):
        # floor(byte / 2^r) % 2
        bit = F.pmod(
            F.floor(byte / F.pow(lit(2.0), F.pmod(pos, lit(8)).cast("double"))), lit(2)
        )
        checks.append(bit == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def q136_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one jumbo order (o_totalprice > 495000),
    rolled up per market segment — with an explicit Bloom pre-filter on the
    probe side.

    Plan shape: build keys -> distinct bit positions (one tiny aggregate)
    -> binary bitmap literal; probe scan filters on the bitmap MAP-SIDE, then
    an exact left-semi join removes false positives. The oracle is the
    plain semi-join: the bloom can only prune, never alter the result.
    """
    build = (
        load(spark, sf_dir, "orders")
        .where(col("o_totalprice") > _BLOOM_PRICE)
        .select("o_custkey")
    )
    bloom = build_bloom_bytes(build, "o_custkey")
    cust = load(spark, sf_dir, "customer")
    candidates = cust.where(bloom_might_contain(bloom, col("c_custkey")))
    return (
        candidates.join(build, candidates.c_custkey == build.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
        .orderBy("c_mktsegment")
    )


# --- Misra-Gries heavy hitters --------------------------------------------

_MG_COUNTERS = 1500  # k >= 1/phi (phi = 0.0014 -> 1/phi ~ 715); 2x margin
_HH_PHI = 0.0014  # report bigrams with frequency >= phi * total


def _mg_candidates(batches: Iterator) -> Iterator:
    """Classic Misra-Gries over one partition (state spans every Arrow
    batch the iterator yields — mapInPandas hands us the whole partition).
    Emits the surviving candidate set; exactness comes from the recount."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for t in pdf["bigram"]:
            if t in counters:
                counters[t] += 1
            elif len(counters) < _MG_COUNTERS:
                counters[t] = 1
            else:
                for key in list(counters):
                    counters[key] -= 1
                    if counters[key] == 0:
                        del counters[key]
    yield pd.DataFrame({"bigram": list(counters.keys())})


def bigram_stream(docs: DataFrame) -> DataFrame:
    """Every bigram occurrence (NOT per-doc distinct — q36 counts document
    frequency; heavy hitters need raw term frequency)."""
    w = F.split(col("text"), " ")
    m = F.greatest(F.size(w) - 1, lit(0))
    bigrams = F.zip_with(
        F.slice(w, 1, m), F.slice(w, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    return docs.select(F.explode(bigrams).alias("bigram"))


def q137_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigrams with frequency >= phi of the corpus total (the frequency-cap
    / stop-list mining pass), computed as MG candidate pruning + exact
    recount of candidates only.

    Scale: the naive form shuffles every distinct term; this form shuffles
    <= k candidates per partition plus the per-partition partials of the
    candidate recount. The total-count scalar is a map-side sum of per-doc
    bigram counts (no token explode on that pass).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    grams = bigram_stream(docs)
    candidates = grams.mapInPandas(_mg_candidates, "bigram string").distinct()
    total = docs.select(
        F.sum(F.greatest(F.size(F.split(col("text"), " ")) - 1, lit(0))).alias("n")
    )
    return (
        grams.join(F.broadcast(candidates), "bigram", "left_semi")
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(col("cnt").cast("double") >= lit(_HH_PHI) * col("n"))
        .select("bigram", "cnt")
        .orderBy(col("cnt").desc(), "bigram")
    )


# --- bigram conditional LM (q152) ------------------------------------------


def q152_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: for each context token, the top-3
    continuations with conditional probability P(w2|w1) = c(w1 w2)/c(w1·)
    — the classic n-gram LM build (q125 scores docs with the unigram
    marginal; this is the conditional table the generator/smoother needs).

    Determinism: probabilities are ratios of integer counts rounded to 6;
    ranking breaks ties on the continuation string. Scale: one groupBy on
    the bigram (map-side partials absorb the explode), context totals
    derive from the bigram table (no second corpus pass), and the top-3 is
    a per-context window — WindowGroupLimit keeps state at k per key."""
    docs = spread(load(spark, sf_dir, "documents"))
    grams = bigram_stream(docs).select(
        F.split(col("bigram"), " ").getItem(0).alias("w1"),
        F.split(col("bigram"), " ").getItem(1).alias("w2"),
    )
    c12 = grams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    from pyspark.sql import Window

    w = Window.partitionBy("w1").orderBy(
        col("c12").desc(), col("w2").asc()
    )
    return (
        c12.join(c1, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            F.round(col("c12") / col("c1").cast("double"), 6).alias("p"),
            F.row_number().over(w).alias("rank"),
        )
        .where(col("rank") <= 3)
        .orderBy("w1", "rank")
    )


# --- Count-min sketch ------------------------------------------------------

_CMS_DEPTH = 3
_CMS_WIDTH = 256
_CMS_TOPK = 20


def q165_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05) over corpus terms:
    ``_CMS_DEPTH`` md5-derived hash rows × ``_CMS_WIDTH`` integer counters,
    then point-estimate the top-``_CMS_TOPK`` terms — est = min over rows
    of the hashed counter, always ≥ the true count (one-sided error, the
    property that makes CMS usable for frequency capping without a second
    pass). Reported next to the exact count so the overestimate is visible.

    Unlike HLL/approx_percentile, a CMS is EXACTLY oracle-able: counters
    are integer sums over deterministic hashes, so both engines build the
    bit-identical sketch — the mergeable-sketch pattern with a hard
    differential gate instead of a tolerance test.

    Scale: the sketch is one groupBy((row, cell)) over map-side-combined
    integer partials — shuffle bounded by depth×width, not vocabulary; the
    estimate join broadcasts the 768-row sketch."""
    from ..cache import persist_tracked

    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens("text")).alias("term"))
    # Persisted: the sketch build and cms_finish's top-K/probe legs are
    # independent subtrees — unpersisted, the plan carried FOUR copies of
    # the tokenize+groupBy (four parquet scans in the formatted plan).
    tf = persist_tracked(tok.groupBy("term").agg(F.count("*").alias("exact")))

    # One evaluation of tf for all hash rows: explode the per-row (d, cell)
    # structs instead of unioning _CMS_DEPTH projections of the same
    # subtree — identical rows, one subtree.
    u = tf.select(
        F.explode(
            F.array(
                *[
                    F.struct(lit(d).alias("d"), cms_cell(d).alias("cell"))
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("p"),
        col("exact").alias("c"),
    ).select(col("p.d").alias("d"), col("p.cell").alias("cell"), "c")
    cms = u.groupBy("d", "cell").agg(F.sum("c").alias("counter"))
    return cms_finish(cms, tf)


def cms_cell(d: int) -> F.Column:
    """Hash row d's counter cell for the ``term`` column."""
    return hash48(F.concat(lit(str(d)), col("term"))) % _CMS_WIDTH


def cms_finish(cms: DataFrame, tf: DataFrame) -> DataFrame:
    """Point-estimate the top terms against a (d, cell, counter) sketch.
    Shared by the batch build (q165, counters from the pre-aggregated
    term-frequency table) and the streaming ingest build (q195, counters
    from raw occurrences) — SUM-merged counters are identical either way,
    the additivity that makes a CMS shard- and micro-batch-mergeable."""
    top = tf.orderBy(col("exact").desc(), "term").limit(_CMS_TOPK)
    probes = top.select(
        "term",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(lit(d).alias("d"), cms_cell(d).alias("cell"))
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("term", "exact", col("p.d").alias("d"), col("p.cell").alias("cell"))
    return (
        probes.join(F.broadcast(cms), ["d", "cell"])
        .groupBy("term", "exact")
        .agg(F.min("counter").alias("est"))
        .select("term", "exact", "est", (col("est") - col("exact")).alias("overest"))
        .orderBy(col("exact").desc(), "term")
    )


# --- KMV distinct sketch ---------------------------------------------------

_KMV_K = 64


def q166_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event_type: keep
    the K smallest distinct 48-bit hashes of user_id; the K-th smallest,
    normalized, estimates distincts as (K-1)/θ (Bar-Yossef et al. '02) —
    the mergeable alternative to HLL whose state is K integers. Like q165,
    the sketch is EXACTLY oracle-able (deterministic hashes, integer
    order statistics — both engines see the identical θ), so the estimate
    gets a hard differential gate; the exact count rides along for the
    error column. Groups with fewer than K distincts report exactly.

    Scale: one distinct-hash aggregation + a per-group WindowGroupLimit
    for the K-th order statistic — never a global sort."""
    ev = load(spark, sf_dir, "events")
    hv = ev.select(
        "event_type", hash48(col("user_id").cast("string")).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    kth = (
        hv.withColumn("rn", F.row_number().over(w))
        .where(col("rn") == _KMV_K)
        .select("event_type", "hv")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = F.round(
        (lit(float(_KMV_K - 1)) * lit(float(1 << 48))) / col("hv"), 2
    )
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            "n_exact",
            F.coalesce(est, col("n_exact").cast("double")).alias("kmv_est"),
            F.round(
                (F.coalesce(est, col("n_exact").cast("double")) - col("n_exact"))
                * 100.0
                / col("n_exact"),
                2,
            ).alias("err_pct"),
        )
        .orderBy("event_type")
    )


# --- HyperLogLog ------------------------------------------------------------

_HLL_P = 8  # bucket bits -> m = 256 registers per group
_HLL_M = 1 << _HLL_P
_HLL_RBITS = 48 - _HLL_P  # 40 remainder bits; rho in [1, 41]
_HLL_RMASK = (1 << _HLL_RBITS) - 1
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # Flajolet et al. '07, m >= 128
# One combined numerator so the estimate is a SINGLE division in both
# engines: alpha * m^2 * 2^(rbits+1) (registers are folded as integer
# 2^(41 - M) weights, i.e. Z scaled by 2^41).
_HLL_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_RBITS + 1))
_HLL_EMPTY_W = 1 << (_HLL_RBITS + 1)  # an empty register's 2^(41-0) weight
_HLL_SMALL = 2.5 * _HLL_M  # small-range correction threshold


def q178_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per event_type (Flajolet et al.
    '07): 256 registers hold the max leading-zero rank of each user_id's
    48-bit hash remainder; the harmonic mean of 2^-M estimates distincts,
    with the linear-counting correction below 2.5m. The THIRD mergeable
    distinct sketch next to KMV (q166) and approx_count_distinct (HLL++,
    tolerance-tested) — this one, like q165's count-min, is built from
    deterministic integer register states, so both engines produce the
    bit-identical sketch and the estimate gets a HARD differential gate
    (the register fold is an exact dyadic-rational sum: 256 terms of
    2^(41-M) stay below 2^53, so no float rounding anywhere before the
    final division).

    Scale: one distinct-hash aggregation, then a groupBy((type, bucket))
    whose output is bounded by |types| x 256 — register state is 256
    integers per group no matter the cardinality, the property that makes
    HLL the ingest-time distinct counter at 100 TB. Exact counts ride
    along for the error column (they are the expensive path the sketch
    replaces)."""
    ev = load(spark, sf_dir, "events")
    reg = hll_registers(ev)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return hll_finish(reg, exact)


def hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, mreg) register table from an events-shaped
    frame. Pure map-side expressions + one bounded groupBy — the same
    code path serves the batch build (q178) and the streaming
    sketch-at-ingest build (q190), because max-merged registers are
    duplicate- and partial-order-proof (no distinct needed)."""
    hv = hash48(col("user_id").cast("string"))
    r = hv.bitwiseAND(lit(_HLL_RMASK))
    b = ev.select(
        "event_type",
        F.shiftright(hv, _HLL_RBITS).alias("bucket"),
        F.when(r == 0, _HLL_RBITS + 1)
        .otherwise(lit(_HLL_RBITS + 1) - F.length(F.bin(r)))
        .alias("rho"),
    )
    return b.groupBy("event_type", "bucket").agg(F.max("rho").alias("mreg"))


def hll_finish(reg: DataFrame, exact: DataFrame) -> DataFrame:
    """Fold a register table into per-group estimates next to the exact
    counts (identical arithmetic to the duckdb oracle — see _hll_sql)."""
    s = reg.groupBy("event_type").agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RBITS + 1} - mreg AS INT))"
            )
        ).alias("s_obs"),
        F.count("*").alias("c"),
    )
    raw = lit(_HLL_NUM) / (
        col("s_obs") + (lit(_HLL_M) - col("c")) * lit(_HLL_EMPTY_W)
    ).cast("double")
    est = F.when(
        (raw <= lit(_HLL_SMALL)) & (col("c") < lit(_HLL_M)),
        lit(float(_HLL_M)) * F.log(lit(float(_HLL_M)) / (lit(_HLL_M) - col("c"))),
    ).otherwise(raw)
    return (
        exact.join(s.select("event_type", est.alias("est")), "event_type")
        .select(
            "event_type",
            "n_exact",
            F.round(col("est"), 2).alias("hll_est"),
            F.round((col("est") - col("n_exact")) * 100.0 / col("n_exact"), 2).alias(
                "err_pct"
            ),
        )
        .orderBy("event_type")
    )


def _hll_sql() -> str:
    rb1 = _HLL_RBITS + 1
    return f"""
WITH hv AS (
  SELECT DISTINCT event_type,
         {hash48_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM events),
b AS (
  SELECT event_type, hv >> {_HLL_RBITS} AS bucket,
         hv & {_HLL_RMASK} AS r
  FROM hv),
reg AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN r = 0 THEN {rb1}
                  ELSE {rb1} - length(bin(r)) END) AS mreg
  FROM b GROUP BY 1, 2),
s AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << ({rb1} - mreg)) AS BIGINT) AS s_obs,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM reg GROUP BY 1),
e AS (
  SELECT event_type, c,
         {_HLL_NUM!r} / CAST(s_obs + ({_HLL_M} - c) * {_HLL_EMPTY_W} AS DOUBLE)
           AS raw
  FROM s),
est AS (
  SELECT event_type,
         CASE WHEN raw <= {_HLL_SMALL!r} AND c < {_HLL_M}
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / ({_HLL_M} - c))
              ELSE raw END AS est
  FROM e),
x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1)
SELECT x.event_type AS event_type, n_exact,
       ROUND(est, 2) AS hll_est,
       ROUND((est - n_exact) * 100.0 / n_exact, 2) AS err_pct
FROM x JOIN est USING (event_type)
ORDER BY event_type
"""


_KMV_SET_K = 128
_H48_SCALE = float(1 << 48)


def q169_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA: estimate |A∪B| and |A∩B| from merged sketches
    (Beyer et al., SIGMOD'07) — A = customers with urgent orders, B =
    customers with low-priority orders. The union sketch is simply the
    k smallest distinct hashes of A∪B (min-k merge — the mergeability
    that makes KMV partition- and shard-friendly); the intersection uses
    the Jaccard fraction within the union sketch. Exact counts ride
    along so the one-draw estimation error is visible. Deterministic
    hashes → both engines build the identical sketch → hard oracle.

    Scale: ONE scan of orders — per-custkey membership flags fold both
    set filters into a single groupBy (the r6 form scanned orders twice,
    persisted two hash tables, and ran five scalar jobs); the min-k
    selection is a TakeOrdered-class top-k, never a global sort;
    everything after is scalar algebra over ≤k rows. The exact
    intersection counts IDs in both sets (not hash-join pairs — the
    id-level count is the honest "exact" label under collisions)."""
    orders = load(spark, sf_dir, "orders")
    pri = col("o_orderpriority")
    g = persist_tracked(
        orders.where(pri.isin("1-URGENT", "5-LOW"))
        .select(
            col("o_custkey").alias("id"),
            (pri == "1-URGENT").cast("int").alias("fa"),
            (pri == "5-LOW").cast("int").alias("fb"),
        )
        .groupBy("id")
        .agg(F.max("fa").alias("in_a"), F.max("fb").alias("in_b"))
    )
    hu = persist_tracked(
        g.select(hash48(col("id").cast("string")).alias("hv"), "in_a", "in_b")
        .groupBy("hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    sk = hu.orderBy("hv").limit(_KMV_SET_K)
    scalars = (
        sk.agg(
            F.sum((col("in_a") + col("in_b") == 2).cast("long")).alias("k_both"),
            F.count("*").alias("k_used"),
            F.when(F.count("*") == _KMV_SET_K, F.max("hv")).alias("theta_hv"),
        )
        .crossJoin(hu.agg(F.count("*").alias("n_union_exact")))
        .crossJoin(
            g.agg(
                F.sum("in_a").cast("long").alias("n_a"),
                F.sum("in_b").cast("long").alias("n_b"),
                F.sum(col("in_a") * col("in_b")).cast("long").alias("n_inter_exact"),
            )
        )
    )
    u_est = F.round(
        lit(float(_KMV_SET_K - 1)) * lit(_H48_SCALE) / col("theta_hv"), 2
    )
    i_est = F.round(
        (col("k_both").cast("double") / col("k_used"))
        * (lit(float(_KMV_SET_K - 1)) * lit(_H48_SCALE) / col("theta_hv")),
        2,
    )
    return scalars.select(
        "n_a",
        "n_b",
        "n_union_exact",
        "n_inter_exact",
        F.coalesce(u_est, col("n_union_exact").cast("double")).alias("union_est"),
        F.coalesce(i_est, col("n_inter_exact").cast("double")).alias("inter_est"),
    )


def _cms_cell_sql(d: int) -> str:
    inner = f"'{d}' || term"
    return f"({hash48_sql(inner)} % {_CMS_WIDTH})"


def _count_min_sql() -> str:
    arms = "\nUNION ALL ".join(
        f"SELECT {d} AS d, {_cms_cell_sql(d)} AS cell, exact AS c FROM tf"
        for d in range(_CMS_DEPTH)
    )
    probe_arms = "\nUNION ALL ".join(
        f"SELECT term, exact, {d} AS d, {_cms_cell_sql(d)} AS cell FROM top"
        for d in range(_CMS_DEPTH)
    )
    return f"""
WITH tok AS (SELECT unnest({tokens_sql('text')}) AS term FROM documents),
tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact FROM tok GROUP BY 1),
arms AS ({arms}),
cms AS (SELECT d, cell, CAST(SUM(c) AS BIGINT) AS counter FROM arms GROUP BY 1, 2),
top AS (SELECT term, exact FROM tf ORDER BY exact DESC, term LIMIT {_CMS_TOPK}),
probes AS ({probe_arms})
SELECT p.term, p.exact, MIN(cms.counter) AS est,
       MIN(cms.counter) - p.exact AS overest
FROM probes p JOIN cms ON cms.d = p.d AND cms.cell = p.cell
GROUP BY p.term, p.exact
ORDER BY p.exact DESC, p.term
"""


def _kmv_sql() -> str:
    scale = float(_KMV_K - 1) * float(1 << 48)
    return f"""
WITH hv AS (
  SELECT DISTINCT event_type,
         {hash48_sql('CAST(user_id AS VARCHAR)')} AS hv
  FROM events),
kth AS (
  SELECT event_type, hv FROM (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
    FROM hv) WHERE rn = {_KMV_K}),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1)
SELECT e.event_type, e.n_exact,
       COALESCE(ROUND({scale!r} / k.hv, 2),
                CAST(e.n_exact AS DOUBLE)) AS kmv_est,
       ROUND((COALESCE(ROUND({scale!r} / k.hv, 2),
                       CAST(e.n_exact AS DOUBLE)) - e.n_exact) * 100.0
             / e.n_exact, 2) AS err_pct
FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
ORDER BY e.event_type
"""


def _kmv_set_ops_sql() -> str:
    k = _KMV_SET_K
    return f"""
WITH g AS (
  SELECT o_custkey AS id,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS in_b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1),
hu AS (SELECT hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        SELECT {hash48_sql('CAST(id AS VARCHAR)')} AS hv, in_a, in_b FROM g)
       GROUP BY hv),
mink AS (SELECT hv, in_a, in_b, row_number() OVER (ORDER BY hv) AS rn FROM hu),
sk AS (SELECT * FROM mink WHERE rn <= {k}),
scalars AS (
  SELECT (SELECT CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
          FROM sk) AS k_both,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sk) AS k_used,
         (SELECT hv FROM mink WHERE rn = {k}) AS theta_hv,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hu) AS n_union_exact,
         (SELECT CAST(SUM(in_a) AS BIGINT) FROM g) AS n_a,
         (SELECT CAST(SUM(in_b) AS BIGINT) FROM g) AS n_b,
         (SELECT CAST(SUM(in_a * in_b) AS BIGINT) FROM g) AS n_inter_exact)
SELECT n_a, n_b, n_union_exact, n_inter_exact,
       COALESCE(ROUND({k - 1} * 281474976710656.0 / theta_hv, 2),
                CAST(n_union_exact AS DOUBLE)) AS union_est,
       COALESCE(ROUND(CAST(k_both AS DOUBLE) / k_used
                      * ({k - 1} * 281474976710656.0 / theta_hv), 2),
                CAST(n_inter_exact AS DOUBLE)) AS inter_est
FROM scalars
"""


# --- q210: mergeable bottom-k quantile sketch --------------------------------
# The missing member of the mergeable-sketch family (bloom q136 /
# Misra-Gries q137 / CMS q165 / KMV q166+q169 / HLL q178): QUANTILES.
# Production engines use KLL/t-digest; this is the deterministic
# priority-sample form — keep the K rows with the smallest hash48(row-id)
# priority, estimate quantiles from the sample. Mergeable exactly like KMV:
# bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) (property-tested),
# so shards sketch independently and a coordinator merges K-row states.
# Because priorities are md5-deterministic, both engines select the
# IDENTICAL sample — a hard differential gate on an approximate quantile
# operator, plus the exact decile in the same row for the error column.

_QSK_K = 512  # sample size: decile std-err ~ sqrt(0.1*0.9/512) ~ 1.3 pp of rank


def bottomk_sample(lineitem: DataFrame, k: int = _QSK_K) -> DataFrame:
    """The K lowest-priority lineitem rows: priority = hash48 of the
    (l_orderkey, l_linenumber) row identity — a fixed, seedless coin.
    orderBy().limit() compiles to TakeOrdered (per-partition heaps + one
    K-row driver merge), never a global sort."""
    return (
        lineitem.select(
            "l_orderkey", "l_linenumber", "l_extendedprice",
            hash48(
                F.concat_ws(":", col("l_orderkey"), col("l_linenumber"))
            ).alias("pri"),
        )
        .orderBy("pri", "l_orderkey", "l_linenumber")
        .limit(k)
    )


def q210_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile estimates of l_extendedprice from the bottom-k sample vs the
    exact decile, with the rank error the sample bound promises.

    BOTH columns are nearest-rank-below picks — value at rank
    floor((n−1)·d/10) + 1 of the (value, row-key)-sorted table — so both
    are actual data values selected by the SAME integer rule: no
    interpolation, no float formula, no ROUND knife edges (the q31/q107
    divergence class), and the error column measures pure sampling error.

    Scale: TakeOrdered sample (K-row driver state, no fact shuffle); the
    exact side is the BUCKETED RANK-PICK (ranking.exact_value_at_ranks) —
    histogram + target-bucket-only window, NO full-table exchange. The
    round-7 A/B this replaces: the former global_row_number range exchange
    measured 1.90 s for the pick vs 1.16 s bucketed (CHANGELOG.md round 8,
    sf0.1 median-of-3 steady, values asserted equal);
    Spark's exact `percentile`
    aggregate was 3× slower still (r6 measurement) and holds a per-task
    value-count map that grows with distinct values. Empty table fails
    LOUD (ValueError) — the embedding_dim convention."""
    from .ranking import exact_value_at_ranks

    li = load(spark, sf_dir, "lineitem")
    samp = bottomk_sample(li).agg(
        F.sort_array(F.collect_list("l_extendedprice")).alias("sv")
    )
    n, picked = exact_value_at_ranks(
        li,
        "l_extendedprice",
        lambda n: [((n - 1) * d) // 10 + 1 for d in range(1, 10)],
        what="lineitem",
    )
    ev = F.array(*[lit(picked[((n - 1) * d) // 10 + 1]) for d in range(1, 10)])
    d = col("decile")
    idx = (F.floor(((F.size(col("sv")) - 1) * d) / 10) + 1).cast("int")
    return (
        samp.select(
            F.explode(F.sequence(lit(1), lit(9))).alias("decile"),
            "sv",
            ev.alias("ev"),
        )
        .select(
            "decile",
            F.round(F.element_at(col("sv"), idx), 2).alias("est"),
            F.round(F.element_at(col("ev"), d.cast("int")), 2).alias("exact"),
            F.round(
                (F.element_at(col("sv"), idx) - F.element_at(col("ev"), d.cast("int")))
                * 100.0
                / F.element_at(col("ev"), d.cast("int")),
                2,
            ).alias("err_pct"),
        )
        .orderBy("decile")
    )


_QSK_SQL = f"""
WITH samp AS (
  SELECT l_extendedprice
  FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
               {hash48_sql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")}
                 AS pri
        FROM lineitem)
  ORDER BY pri, l_orderkey, l_linenumber LIMIT {_QSK_K}),
sv AS (SELECT list(l_extendedprice ORDER BY l_extendedprice) AS sv FROM samp),
rk AS (SELECT l_extendedprice,
              ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                 l_linenumber) AS r
       FROM lineitem),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
ev AS (SELECT list(x.l_extendedprice ORDER BY x.decile) AS ev FROM (
         SELECT d.decile, r.l_extendedprice
         FROM (SELECT unnest(range(1, 10)) AS decile) d
         CROSS JOIN nn
         JOIN rk r ON r.r = ((nn.n - 1) * d.decile) // 10 + 1) x),
d AS (SELECT unnest(range(1, 10)) AS decile)
SELECT d.decile,
       ROUND(sv.sv[CAST(((len(sv.sv) - 1) * d.decile) // 10 + 1 AS INT)], 2) AS est,
       ROUND(ev.ev[CAST(d.decile AS INT)], 2) AS exact,
       ROUND((sv.sv[CAST(((len(sv.sv) - 1) * d.decile) // 10 + 1 AS INT)]
              - ev.ev[CAST(d.decile AS INT)]) * 100.0
             / ev.ev[CAST(d.decile AS INT)], 2) AS err_pct
FROM d CROSS JOIN sv CROSS JOIN ev ORDER BY d.decile
"""


ORACLES: dict[str, str] = {
    "q210_quantile_sketch": _QSK_SQL,
    "q178_hll_distinct": _hll_sql(),
    "q165_count_min": _count_min_sql(),
    "q166_kmv_distinct": _kmv_sql(),
    "q169_kmv_set_ops": _kmv_set_ops_sql(),
    "q152_bigram_lm": """
WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
b AS (
  SELECT unnest(list_transform(generate_series(1, len(a) - 1),
                               i -> a[i])) AS w1,
         unnest(list_transform(generate_series(1, len(a) - 1),
                               i -> a[i + 1])) AS w2
  FROM toks),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
r AS (
  SELECT c12.w1, w2, c12,
         ROUND(c12 / CAST(c1 AS DOUBLE), 6) AS p,
         CAST(ROW_NUMBER() OVER (PARTITION BY c12.w1
                                 ORDER BY c12 DESC, w2 ASC) AS INT) AS rank
  FROM c12 JOIN c1 USING (w1))
SELECT w1, w2, c12, p, rank FROM r WHERE rank <= 3 ORDER BY w1, rank
""",
    "q136_bloom_semi_join": f"""
SELECT c_mktsegment, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer
WHERE c_custkey IN (
  SELECT o_custkey FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    "q137_heavy_hitters": f"""
WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents),
n AS (SELECT SUM(greatest(len(a) - 1, 0)) AS n FROM toks),
b AS (
  SELECT unnest(list_transform(generate_series(1, len(a) - 1),
                               i -> a[i] || ' ' || a[i + 1])) AS bigram
  FROM toks
),
c AS (SELECT bigram, COUNT(*) AS cnt FROM b GROUP BY bigram)
SELECT bigram, cnt FROM c, n
WHERE CAST(cnt AS DOUBLE) >= {_HH_PHI} * n
ORDER BY cnt DESC, bigram
""",
}

QUERIES = {
    "q210_quantile_sketch": q210_quantile_sketch,
    "q136_bloom_semi_join": q136_bloom_semi_join,
    "q137_heavy_hitters": q137_heavy_hitters,
    "q152_bigram_lm": q152_bigram_lm,
    "q165_count_min": q165_count_min,
    "q166_kmv_distinct": q166_kmv_distinct,
    "q169_kmv_set_ops": q169_kmv_set_ops,
    "q178_hll_distinct": q178_hll_distinct,
}
