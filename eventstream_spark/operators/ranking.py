"""Scalable global ranking: row_number / ntile over a TOTAL order without
a single-task window.

A bare ``Window.orderBy(...)`` (no partitionBy) moves every row into ONE
task — correct to ~1e8 rows on a fat executor and a wall at any real
scale. The classic fix, implemented here: range-partition on the ordering
key, rank WITHIN partitions, and add each partition's exclusive prefix
count (a <=num_partitions-row collect — driver-trivial). Because the
ordering must be TOTAL (callers append a unique tie-break column), the
result is identical to the single-task form no matter where the range
boundaries land, so the same duckdb oracles keep passing unchanged.

``scalable_ntile`` reproduces Spark/ANSI NTILE(k) exactly from the global
rank: the first (n mod k) buckets take ceil(n/k) rows, the rest floor —
pinned equal to F.ntile in tests/test_ranking.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import col, lit

from ..cache import persist_tracked


def _ranked_with_total(
    df: DataFrame, order_cols: list, out_col: str
) -> tuple[DataFrame, int]:
    """(ranked df, total rows): 1-based global rank over a TOTAL order
    (order_cols must be tie-free — include a unique key) via range
    partitioning + an exclusive prefix-count offset. The per-partition
    count collect (<= shuffle-partitions rows) also yields the total for
    free.

    Cost: one range exchange + one in-partition sort (same as any global
    sort) + the tiny collect. At 100 TB this is the plan a sort already
    pays; the single-task form is the one that cannot run. The SORTED
    range-partitioned intermediate persists (memory-and-disk) because the
    count collect below materializes it anyway — without the persist every
    downstream consumer would re-pay the exchange AND the range-boundary
    sampling job.

    The rank itself is a pure PROJECTION over the sorted cache: within a
    sorted partition the physical position IS the in-partition rank, and
    ``monotonically_increasing_id``'s low 33 bits are exactly that
    position (its spec: partition index in the upper bits, the record
    number within the partition in the lower 33). The former spelling
    (``row_number() OVER (PARTITION BY _pid ORDER BY ...)``) re-sorted in
    every consumer AND paid a 1:1 ``hashpartitioning(_pid)`` exchange per
    consumer, because Spark cannot see that a range partitioning already
    clusters ``_pid`` (q159 paid that exchange three times, r13 plans).
    Correctness does not depend on partition RENUMBERING between the cache
    and the consumer: the offset lookup uses the STORED ``_pid`` column
    (assigned at persist build), and the low-33-bit position is per
    physical partition, which a narrow consumer plan preserves 1:1 from
    the cache scan. mono_id is flagged nondeterministic, which also stops
    Catalyst pushing consumer filters below the rank projection — rows
    keep their full-table rank. Recomputation (cache miss) is safe because
    the order is TOTAL: the re-sorted partition reproduces the same
    physical order. Pinned against the single-task window form in
    tests/test_ranking.py."""
    rp = persist_tracked(
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in rp.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    off = F.coalesce(
        *[F.when(col("_pid") == p, lit(o)) for p, o in offsets.items()], lit(0)
    )
    pos = F.monotonically_increasing_id().bitwiseAND(lit((1 << 33) - 1))
    ranked = rp.withColumn(out_col, (pos + off + 1).cast("long")).drop("_pid")
    return ranked, acc


# Recurse into a target bucket only above this ABSOLUTE row count — the
# point where one window task's sort actually hurts (the _EDGES_PER_TASK /
# _SFX_ROWS_PER_TASK single-task budget class). The r8 ADVICE's relative
# n/16 trigger was implemented and MEASURED OUT: on the 100× corpus
# (n=500k docs, threshold 31k) six boundary buckets of 41–72k rows each
# recursed — 3 extra Spark jobs apiece — costing 8.6 s where the plain
# 6-bucket window scan costs ~1 s; a 72k-row single-task window is noise,
# a multi-million-row one is the wall the guard exists for.
_RECURSE_ROWS = 2_000_000


def _is_numeric(df: DataFrame, c: str) -> bool:
    from pyspark.sql.types import NumericType

    return isinstance(df.schema[c].dataType, NumericType)


def exact_value_at_ranks(
    df: DataFrame,
    value_col: str,
    ranks_fn,
    n_buckets: int = 1024,
    what: str = "table",
    tie_col: str | None = None,
    max_depth: int = 2,
    skew_threshold: int | None = None,
) -> tuple[int, dict]:
    """(n, {rank: value}): the exact VALUES at a handful of 1-based global
    ranks of the ``value_col``-sorted order — WITHOUT a global rank
    exchange. Because ties are equal values, the value at a fixed rank is
    independent of any tie-break, so only the value ordering matters.
    With ``tie_col`` (the round-8 VERDICT extension), the total order is
    (value, tie) and the result is (n, {rank: (value, tie)}) — the exact
    BOUNDARY TUPLE at each rank, which lets callers assign range buckets
    MAP-SIDE against broadcast boundaries instead of paying a global rank
    exchange (the q223/q224 reclaim).

    Single-pass bucketed rank-pick (the round-7 VERDICT A/B ask): one agg
    for (n, min, max), one map-side-combined histogram over ``n_buckets``
    equi-width value buckets (floor((v-lo)/w) is monotone in v, so bucket
    order IS value order), a driver cumsum locating each target rank's
    (bucket, local_rank), then one scan filtered to the <=|ranks| target
    buckets with a window over ONLY those rows. No full-table shuffle at
    any step; the histogram collect is n_buckets rows.

    Skew guard (round-8 ADVICE): a single-value-dominated or heavily
    skewed bucket would degrade the target-bucket window toward a
    near-full-table single task — so any target bucket holding more than
    ``skew_threshold`` (default ``_RECURSE_ROWS`` = 2M — an ABSOLUTE
    single-task budget; the ADVICE's relative n/16 trigger was measured
    out, see the constant's comment) RECURSES one level: fresh equi-width
    histogram inside the bucket; if the bucket is one distinct value and
    a numeric ``tie_col`` is present, the recursion buckets on the tie
    instead — within equal values the order IS the tie. Depth is bounded
    (``max_depth``); a pathological distribution that defeats both levels
    falls back to the in-bucket window, now over a provably small slice
    or as the documented degenerate case. NULLs in ``value_col`` are
    filtered up front (a NULL would land in a None histogram bucket and
    desync the driver cumsum — the round-8 ADVICE latent bug).

    A/B vs the global_row_number spelling (round 8, CHANGELOG.md; script
    in git history; sf0.1 lineitem ~600k rows, median of 3 steady): bucketed
    1.16 s vs rank-exchange 1.90 s, values asserted equal — adopted; the
    rank exchange (q210's former plan) is the recorded loser. Empty input
    fails LOUD (ValueError naming ``what``) — the embedding_dim
    convention."""
    df = df.where(col(value_col).isNotNull())
    stats = df.agg(
        F.count("*").alias("n"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    ).head()
    n = int(stats["n"])
    if n == 0:
        raise ValueError(
            f"{what} is empty — cannot pick exact rank values "
            "(streaming landing dir not yet populated?)"
        )
    ranks = sorted(set(int(r) for r in ranks_fn(n)))
    if any(r < 1 or r > n for r in ranks):
        raise ValueError(f"rank out of range 1..{n}: {ranks}")
    threshold = skew_threshold or _RECURSE_ROWS
    picked = _pick_at_ranks(
        df, value_col, tie_col, ranks, n, stats["lo"], stats["hi"],
        n_buckets, threshold, max_depth,
    )
    return n, picked


def _pick_at_ranks(
    df: DataFrame,
    value_col: str,
    tie_col: str | None,
    ranks: list,
    n: int,
    lo_v,
    hi_v,
    n_buckets: int,
    threshold: int,
    depth: int,
) -> dict:
    """{rank: value} (or {rank: (value, tie)} with tie_col) for 1-based
    ``ranks`` of ``df`` under (value asc[, tie asc]). Recursive worker of
    ``exact_value_at_ranks`` — see its docstring for the design."""
    if lo_v == hi_v:
        # One distinct value: without a tie the answer is that value at
        # every rank (no scan at all); with a tie the order IS the tie —
        # recurse with the tie as the value when it is numeric, else fall
        # through to the window (degenerate, documented).
        if tie_col is None:
            return {r: lo_v for r in ranks}
        if _is_numeric(df, tie_col):
            sub = df.select(col(tie_col).alias("_tv"))
            st = sub.agg(F.min("_tv").alias("lo"), F.max("_tv").alias("hi")).head()
            inner = _pick_at_ranks(
                sub, "_tv", None, ranks, n, st["lo"], st["hi"],
                n_buckets, threshold, depth,
            )
            return {r: (lo_v, t) for r, t in inner.items()}
    lo, hi = float(lo_v), float(hi_v)
    out: dict = {}
    window_targets: dict[int, list[tuple[int, int]]] = {}
    if lo == hi:
        # non-numeric tie degenerate case: single window over the slice
        window_targets[0] = [(r, r) for r in ranks]
        bexpr = lit(0).cast("int")
    else:
        width = (hi - lo) / n_buckets
        bexpr = F.least(
            F.floor((col(value_col).cast("double") - lit(lo)) / lit(width)),
            lit(n_buckets - 1),
        ).cast("int")
        hist = sorted(
            (r["b"], r["cnt"])
            for r in df.groupBy(bexpr.alias("b"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        targets: dict[int, list[tuple[int, int]]] = {}
        counts: dict[int, int] = {}
        acc = 0
        it = iter(ranks)
        rank = next(it)
        for b, cnt in hist:
            counts[b] = cnt
            while rank is not None and rank <= acc + cnt:
                targets.setdefault(b, []).append((rank, rank - acc))
                rank = next(it, None)
            acc += cnt
            if rank is None:
                break
        for b, pairs in targets.items():
            if depth > 0 and counts[b] > threshold:
                sub = df.where(bexpr == lit(b))
                st = sub.agg(
                    F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
                ).head()
                inner = _pick_at_ranks(
                    sub, value_col, tie_col, [lr for _, lr in pairs],
                    counts[b], st["lo"], st["hi"], n_buckets, threshold,
                    depth - 1,
                )
                for rank_, lr in pairs:
                    out[rank_] = inner[lr]
            else:
                window_targets[b] = pairs
    if window_targets:
        order = [col(value_col)] + ([col(tie_col)] if tie_col else [])
        w = Window.partitionBy("_b").orderBy(*order)
        pick_cond = None
        for b, pairs in window_targets.items():
            for _, lr in pairs:
                term = (col("_b") == lit(b)) & (col("_lr") == lit(lr))
                pick_cond = term if pick_cond is None else (pick_cond | term)
        sel = [value_col] + ([tie_col] if tie_col else [])
        rows = (
            df.select(*sel)
            .withColumn("_b", bexpr)
            .where(col("_b").isin(*window_targets.keys()))
            .withColumn("_lr", F.row_number().over(w))
            .where(pick_cond)
            .select("_b", "_lr", *sel)
            .collect()
        )
        by_blr = {
            (r["_b"], r["_lr"]): (
                (r[value_col], r[tie_col]) if tie_col else r[value_col]
            )
            for r in rows
        }
        for b, pairs in window_targets.items():
            for rank_, lr in pairs:
                out[rank_] = by_blr[(b, lr)]
    return out


def global_row_number(
    df: DataFrame, order_cols: list, out_col: str = "_rank"
) -> DataFrame:
    """Append a 1-based global rank with no single-task window (see
    _ranked_with_total)."""
    ranked, _ = _ranked_with_total(df, order_cols, out_col)
    return ranked


def ntile_from_rank(rank: F.Column, n: int, k: int) -> F.Column:
    """ANSI NTILE(k) bucket from a 1-based global rank over n rows: the
    first (n mod k) buckets hold ceil(n/k) rows, the remainder floor(n/k).
    Pure integer arithmetic — deterministic everywhere."""
    q, rem = divmod(n, k)
    boundary = rem * (q + 1)
    if q == 0:
        # fewer rows than buckets: rank IS the bucket
        return rank.cast("int")
    return (
        F.when(rank <= lit(boundary), F.floor((rank - 1) / lit(q + 1)) + 1)
        .otherwise(lit(rem) + F.floor((rank - 1 - lit(boundary)) / lit(q)) + 1)
        .cast("int")
    )


def scalable_ntile(
    df: DataFrame, order_cols: list, k: int, out_col: str
) -> DataFrame:
    """NTILE(k) over a total order with no single-task window: global rank
    via range partitioning, then the closed-form bucket assignment."""
    ranked, n = _ranked_with_total(df, order_cols, "_gr")
    return ranked.withColumn(out_col, ntile_from_rank(col("_gr"), n, k)).drop("_gr")


def scalable_ntile_multi(
    df: DataFrame, tie_col: str, specs: list, k: int
) -> DataFrame:
    """Several NTILE(k) columns over DIFFERENT total orders of the SAME
    rows with ONE range exchange (three separate scalable_ntile calls pay
    three): melt each row into len(specs) (metric, sortval) rows, rank the
    melted table once — the metric index leads the range key, so each
    metric's block is contiguous and its within-metric rank is the global
    rank minus metric_index·n — then pivot back on the unique tie-break.

    ``specs`` is ``[(out_col, ascending_sort_col), ...]``; descending
    metrics pass a negated column. Sort values are cast to double (exact
    for ints < 2^53; monotone, so bucket boundaries are unchanged). All
    other input columns are carried through the pivot via max() — they are
    constant per tie_col row by construction."""
    base_cols = df.columns
    melted = df.select(
        *base_cols,
        F.posexplode(
            F.array(*[s.cast("double") for _, s in specs])
        ).alias("_m", "_v"),
    )
    ranked, total = _ranked_with_total(
        melted, [col("_m").asc(), col("_v").asc(), col(tie_col).asc()], "_gr"
    )
    n = total // len(specs)
    tiled = ranked.withColumn(
        "_tile", ntile_from_rank(col("_gr") - col("_m") * lit(n), n, k)
    )
    carry = [F.max(c).alias(c) for c in base_cols if c != tie_col]
    tiles = [
        F.max(F.when(col("_m") == i, col("_tile"))).alias(out)
        for i, (out, _) in enumerate(specs)
    ]
    return tiled.groupBy(tie_col).agg(*carry, *tiles)
