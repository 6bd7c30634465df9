"""Text analysis for training-data pipelines (north star).

Language-ID (stopword-marker heuristic), quality scoring, token counting,
and document fingerprinting over the ``documents`` table — all pure built-in
column expressions (JVM-side); each query has an exactly-mirrored duckdb
oracle (identical arithmetic structure so doubles round identically).

At 100 TB these are embarrassingly parallel map-side operators: no shuffle
except the final small aggregation, filters/projections push into the scan.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import col, lit

from ..cache import persist_tracked
from ..catalog import load, spread
from ..functions import hash48, hash48_sql, tokens, tokens_sql

# Marker stopwords per language, checked in fixed order (en, es, de, fr).
_MARKERS = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
}
_LANG_ORDER = ("en", "es", "de", "fr")


def _marker_count(toks, lang: str):
    words = _MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def _marker_count_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(w, t -> t IN ({words})))"


def predicted_lang_sql() -> str:
    """CASE mirror of predicted_lang(); expects n_en/n_es/n_de/n_fr columns."""
    return """CASE
         WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
         WHEN n_es >= n_de AND n_es >= n_fr AND n_es > 0 THEN 'es'
         WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
         WHEN n_fr > 0 THEN 'fr'
         ELSE 'und'
       END"""


def quality_score_sql() -> str:
    """SQL mirror of quality_score(); expects columns text and w (tokens).

    The 4-decimal quantization is FLOOR(x·10⁴ + 0.5)/10⁴, not ROUND:
    engine ROUND(double, n) implementations differ at decimal knife edges
    (Spark rounds the double's exact decimal expansion half-up; duckdb
    multiplies first) — a real sf0.1 document landed on one (0.8402 vs
    0.8403). The floor form is bit-deterministic: both engines compute
    the identical IEEE product, sum, and floor."""
    return f"""FLOOR(
         (LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4
         + (1.0 - CAST(len(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE)
                  / CAST(len(text) AS DOUBLE)) * 0.3
         + LEAST(CAST({_marker_count_sql('en')} AS DOUBLE)
                 / CAST(len(w) AS DOUBLE) * 5.0, 1.0) * 0.3)
         * 10000.0 + 0.5) / 10000.0"""


def q24_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2B Q24 verbatim: per-language doc count + char volume over
    the fixture ``lang`` column (the declared text-analysis smoke query;
    q30 is the harder variant that PREDICTS the language from content)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


def predicted_lang(n: dict[str, Column]) -> Column:
    """Argmax over marker hit counts with a deterministic preference order,
    'und' when nothing matches. ``n`` maps lang → hit-count column."""
    return (
        F.when((n["en"] >= n["es"]) & (n["en"] >= n["de"]) & (n["en"] >= n["fr"]) & (n["en"] > 0), "en")
        .when((n["es"] >= n["de"]) & (n["es"] >= n["fr"]) & (n["es"] > 0), "es")
        .when((n["de"] >= n["fr"]) & (n["de"] > 0), "de")
        .when(n["fr"] > 0, "fr")
        .otherwise("und")
    )


def q30_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-marker language ID over the corpus."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = tokens("text")
    d = docs.select(
        "doc_id", *[_marker_count(toks, lang).alias(f"n_{lang}") for lang in _LANG_ORDER]
    )
    n = {lang: col(f"n_{lang}") for lang in _LANG_ORDER}
    return (
        d.select(predicted_lang(n).alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count("*").alias("cnt"))
        .orderBy("predicted_lang")
    )


def quality_score() -> Column:
    """Per-document heuristic quality over a ``text`` column: length
    saturation + punctuation penalty + stopword-density reward. Pure
    double arithmetic in a fixed expression shape — bit-identical to the
    SQL mirror per document."""
    toks = tokens("text")
    n_tokens = F.size(toks).cast("double")
    punct = F.length(F.regexp_replace(col("text"), r"[^!?.,;:]", "")).cast("double")
    text_len = F.length("text").cast("double")
    stop_hits = _marker_count(toks, "en").cast("double")
    raw = (
        F.least(n_tokens / lit(100.0), lit(1.0)) * 0.4
        + (lit(1.0) - punct / text_len) * 0.3
        + F.least(stop_hits / n_tokens * 5.0, lit(1.0)) * 0.3
    )
    # FLOOR(x·10⁴ + 0.5)/10⁴, not ROUND(x, 4): engine ROUND(double)
    # implementations diverge at decimal knife edges (see
    # quality_score_sql) — this form is bit-deterministic across engines.
    return F.floor(raw * lit(10000.0) + lit(0.5)) / lit(10000.0)


def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality, mirrored exactly in the oracle."""
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select("doc_id", quality_score().alias("quality")).orderBy("doc_id")


def q32_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens + a BPE-ish
    chars/4 estimate (standard subword heuristic)."""
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.select(
            "source",
            F.size(tokens("text")).cast("long").alias("ws_tokens"),
            F.ceil(F.length("text") / lit(4.0)).cast("long").alias("bpe_est"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_est").alias("total_bpe_est"),
        )
        .orderBy("source")
    )


_NORM = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"


def _normalized_text():
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )


def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over normalized text (lowercase, strip
    non-alphanumerics, collapse whitespace) — the exact-dedup key."""
    docs = spread(load(spark, sf_dir, "documents"))
    # Project the fingerprint BEFORE aggregating: countDistinct over a raw
    # expression re-prints the whole regex tree in every aggregate phase of
    # the plan — a column reference keeps codegen small.
    return docs.select(F.md5(_normalized_text()).alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
    )


# GPT-2-style pre-tokenizer pattern (public: openai/gpt-2 encoder.py), with
# the trailing-space lookahead dropped — RE2 (duckdb) has no lookahead, and
# both engines must split identically. Contractions, space-prefixed word /
# number / punctuation runs, then whitespace runs.
BPE_PRETOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"


def q34_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token accounting: the GPT-2 pre-tokenizer regex applied
    per document, aggregated per source. regexp_extract_all is JVM-side;
    the duckdb mirror uses the same pattern under RE2 (no lookahead, so
    the two engines split identically)."""
    docs = spread(load(spark, sf_dir, "documents"))
    n_pretokens = F.size(
        F.regexp_extract_all(col("text"), lit(BPE_PRETOKEN_RE), 0)
    ).cast("long")
    return (
        docs.select("source", n_pretokens.alias("n_pre"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_pre").alias("total_pretokens"),
            F.round(F.avg("n_pre"), 2).alias("avg_pretokens"),
        )
        .orderBy("source")
    )


def q35_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: top-20 terms by total_tf × ln(N/df).

    Counts are integers (partition-order independent); the only float op is
    the final per-term ln — mirrored exactly in the oracle. The corpus size
    N rides in as a broadcast scalar subquery, not a driver-side collect.
    Scale: explode → one groupBy(term) shuffle; df and tf come from the same
    aggregate."""
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    stats = tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    score = F.round(col("tf") * F.log(col("n_docs") / col("df")), 4)
    return (
        stats.crossJoin(F.broadcast(n))
        .select("term", "tf", "df", score.alias("tfidf"))
        .orderBy(col("tfidf").desc(), "term")
        .limit(20)
    )


def q36_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams by document frequency (per-doc distinct bigrams,
    the n-gram language-model building block)."""
    docs = spread(load(spark, sf_dir, "documents"))
    w = tokens("text")
    m = F.greatest(F.size(w) - 1, F.lit(0))
    bigrams = F.array_distinct(
        F.zip_with(F.slice(w, 1, m), F.slice(w, 2, m), lambda x, y: F.concat_ws(" ", x, y))
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(col("doc_freq").desc(), "bigram")
        .limit(20)
    )


_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 16


def chunk_documents(
    docs: DataFrame, chunk_size: int = _CHUNK_SIZE, overlap: int = _CHUNK_OVERLAP
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    context-window packing precursor every training pipeline runs (long
    docs become `ceil((n-size)/step)+1` windows of `chunk_size` tokens
    stepping by `chunk_size-overlap`; short docs stay one chunk).

    Scale: pure map-side — tokenize once, compute the chunk count
    arithmetically, explode a 0..k-1 sequence, and slice the token array
    per chunk (slice start/length are column expressions, no UDF). No
    shuffle at all; output partitioning follows the input."""
    step = chunk_size - overlap
    w = tokens("text")
    n = F.size(w)
    k = F.when(n <= chunk_size, lit(1)).otherwise(
        (F.floor((n - chunk_size + step - 1) / step) + 1).cast("int")
    )
    toks = spread(docs).select("doc_id", w.alias("w"), k.alias("k"))
    exploded = toks.select(
        "doc_id", "w", F.explode(F.sequence(lit(0), col("k") - 1)).alias("i")
    )
    piece = F.slice(col("w"), col("i") * step + 1, lit(chunk_size))
    return exploded.select(
        "doc_id",
        col("i").cast("long").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def q117_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs).orderBy("doc_id", "chunk_idx")


def q56_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% corpus sample: hash48(doc_id) mod 100 < 5 — the
    reproducible-sampling primitive for training-data pipelines (same rows
    selected on every engine, every run, any partitioning)."""
    docs = load(spark, sf_dir, "documents")
    picked = docs.where(hash48(col("doc_id").cast("string")) % 100 < 5)
    return picked.agg(
        F.count("*").alias("n_sampled"),
        F.sum("n_chars").alias("sampled_chars"),
        F.min("doc_id").alias("first_doc"),
    )


def q57_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample per source stratum: rank docs inside each
    source by hash order and keep the first ceil(0.1·n). One window shuffle
    on the stratum key; the hash rank makes the pick reproducible without a
    seed."""
    docs = load(spark, sf_dir, "documents")
    h = hash48(col("doc_id").cast("string"))
    rank_w = Window.partitionBy("source").orderBy("h", "doc_id")
    n_w = Window.partitionBy("source")
    ranked = docs.select("doc_id", "source", "n_chars", h.alias("h")).select(
        "source",
        "n_chars",
        F.row_number().over(rank_w).alias("r"),
        F.count("*").over(n_w).alias("n"),
    )
    return (
        ranked.where(col("r") <= F.ceil(lit(0.1) * col("n")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.max("n").alias("n_total"),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .orderBy("source")
    )


_MIX_RATES = (100, 250, 500, 900)  # per-mille keep rates, cycled by source index


def q81_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: each source stratum is down-sampled at its
    own rate (training-data pipelines re-weight sources this way — e.g.
    up-sample curated text, down-sample web crawl). The pick is the same
    deterministic hash gate as q56, with the per-mille threshold chosen by
    source index — map-side only, one final small aggregation."""
    docs = load(spark, sf_dir, "documents")
    idx = F.substring(col("source"), 4, 10).cast("int")
    rate = F.element_at(
        F.array(*[lit(r) for r in _MIX_RATES]), (idx % len(_MIX_RATES)) + 1
    )
    picked = docs.where(hash48(col("doc_id").cast("string")) % 1000 < rate)
    return (
        picked.groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
        .orderBy("source")
    )


def q84_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals per source (the Gopher/MassiveText
    rule family): per document, the most-frequent-bigram fraction and the
    fraction of bigram occurrences belonging to repeated bigrams; documents
    with dup_frac > 0.3 are flagged repetitive. Per-doc ratios are exact
    (int/int division); only the per-source average is rounded. Two
    shuffles: (doc, bigram) count, then the per-source rollup."""
    docs = spread(load(spark, sf_dir, "documents"))
    w = tokens("text")
    m = F.greatest(F.size(w) - 1, lit(0))
    bigrams = F.zip_with(
        F.slice(w, 1, m), F.slice(w, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    bg = docs.select("doc_id", "source", F.explode(bigrams).alias("bg"))
    per = bg.groupBy("doc_id", "source", "bg").agg(F.count("*").alias("c"))
    stats = per.groupBy("doc_id", "source").agg(
        (F.max("c") / F.sum("c")).alias("top_frac"),
        (
            F.sum(F.when(col("c") >= 2, col("c")).otherwise(0)) / F.sum("c")
        ).alias("dup_frac"),
    )
    return (
        stats.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("top_frac"), 4).alias("avg_top_frac"),
            F.sum((col("dup_frac") > 0.3).cast("long")).alias("n_repetitive"),
        )
        .orderBy("source")
    )


_PACK_BUDGET = 2000  # tokens per shard
_PACK_BUCKET_DOCS = 4096  # doc_id range width per packing bucket


def pack_shards(
    df: DataFrame,
    budget: int = _PACK_BUDGET,
    bucket_docs: int = _PACK_BUCKET_DOCS,
) -> DataFrame:
    """Assign each doc to a token-budget shard: ``shard = floor(running
    token count BEFORE the doc / budget)`` within each source, docs ordered
    by doc_id — TWO-LEVEL so one giant source stratum is not one task.

    Level 1 splits every source into contiguous doc_id ranges
    (``bucket = doc_id div bucket_docs``) and runs the running-sum window
    per (source, bucket) — parallelism scales with data, not with the
    number of sources. Level 2 restores the GLOBAL running sum by adding
    each bucket's exclusive prefix of token totals, computed by a window
    over the tiny bucket-summary table (one row per ~``bucket_docs`` docs:
    at 100 TB / 10^11 docs that is ~25M rows — a fraction of a shuffle
    partition, and the per-SOURCE ordered window over it is thousands of
    rows). Because buckets are contiguous in the order column,
    ``bucket_offset + local_running_sum`` equals the single-window running
    sum EXACTLY — shard ids are bit-identical to the one-partition form,
    which is why q82/q89's oracles don't change.

    Requires columns (source, doc_id, n_tok); all other columns pass
    through. Adds ``shard``; the helper columns are dropped.
    AQE sizes the bucket-summary join (broadcast at any realistic scale)."""
    b = df.withColumn("_bucket", (col("doc_id") / lit(bucket_docs)).cast("long"))
    w_local = (
        Window.partitionBy("source", "_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("_cum_before", F.sum("n_tok").over(w_local) - col("n_tok"))
    w_bucket = (
        Window.partitionBy("source")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        b.groupBy("source", "_bucket")
        .agg(F.sum("n_tok").alias("_btok"))
        .withColumn("_offset", F.coalesce(F.sum("_btok").over(w_bucket), lit(0)))
        .drop("_btok")
    )
    return (
        local.join(offsets, ["source", "_bucket"])
        .withColumn(
            "shard",
            ((col("_cum_before") + col("_offset")) / lit(budget)).cast("long"),
        )
        .drop("_bucket", "_cum_before", "_offset")
    )


def q82_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: within each source (ordered by doc_id),
    docs are assigned to output shards of ~2000 whitespace tokens by the
    running token count BEFORE each doc — the sequence-packing layout step
    of a training pipeline. Two-level windows (see ``pack_shards``) keep
    the running sum parallel even when one source dominates the corpus;
    shard boundaries are deterministic and identical to the single-window
    form, so the oracle mirrors exactly."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    return (
        pack_shards(toks)
        .groupBy("source", "shard")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("shard_tokens"))
        .orderBy("source", "shard")
    )


# --- PII scrub (q121) ------------------------------------------------------
# C4-style cleanup pass: per-class PII detection (regexes shared verbatim
# with the RE2 oracle — no lookahead, no alternation between classes so both
# engines match identically), redaction via SEQUENTIAL per-class replace
# (alternation order semantics differ subtly between regex engines; a fixed
# replace chain is engine-independent), plus a badword blocklist flag.
# The fixture corpus is PII-free, so the detection classes prove out in unit
# tests with injected payloads (tests/test_text_ops.py); the blocklist and
# char-accounting paths are non-trivial on the fixture itself.

_PII_PATTERNS: dict[str, str] = {
    # class name -> RE2/Java-compatible pattern, applied in this order.
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "phone": r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}
_BLOCKLIST = ("slow", "deprecated")  # one in-vocab word, one absent


def pii_hits(text_col: str = "text") -> dict[str, Column]:
    """Per-class PII match counts (map-side regexp_extract_all)."""
    return {
        name: F.size(F.regexp_extract_all(col(text_col), lit(pat), 0)).cast("long")
        for name, pat in _PII_PATTERNS.items()
    }


def redact_pii(text_col: str = "text") -> Column:
    """Text with every PII class removed, one class at a time in the fixed
    _PII_PATTERNS order (engine-independent, unlike one big alternation)."""
    out = col(text_col)
    for pat in _PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, "")
    return out


def q121_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII + blocklist scrub accounting per source: per-class hit counts,
    characters a redaction pass would remove, and C4-style badword flags.

    Scale: pure map-side column expressions over the scan (regex + token
    filter), one tiny final aggregate — embarrassingly parallel at 100 TB.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    hits = pii_hits("text")
    toks = tokens("text")
    blocked = F.size(F.filter(toks, lambda t: t.isin(*_BLOCKLIST))).cast("long")
    per_doc = docs.select(
        "source",
        *[h.alias(f"n_{name}") for name, h in hits.items()],
        (F.length("text") - F.length(redact_pii("text"))).cast("long").alias("pii_chars"),
        blocked.alias("n_blocked"),
    )
    total_hits = sum(col(f"n_{name}") for name in _PII_PATTERNS)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_email").alias("email_hits"),
            F.sum("n_ssn").alias("ssn_hits"),
            F.sum("n_phone").alias("phone_hits"),
            F.sum("n_ipv4").alias("ipv4_hits"),
            F.sum("pii_chars").alias("pii_chars"),
            F.sum((total_hits > 0).cast("long")).alias("docs_with_pii"),
            F.sum((col("n_blocked") > 0).cast("long")).alias("flagged_docs"),
            F.sum("n_blocked").alias("blocked_tokens"),
        )
        .orderBy("source")
    )


# --- unigram LM log-prob scoring (q125) ------------------------------------

_LL_FLAG = -3.6  # docs with mean log-prob below this are "surprising"


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean unigram log-probability (the cheap perplexity
    proxy every corpus-quality pipeline runs): token frequencies over the
    corpus give p(term) = tf_corpus / total; each doc scores
    mean(ln p(term)) over its tokens.

    Determinism: ln(p) is quantized to integer MICRO-units per TERM
    (round(ln(p) * 1e6) as bigint), so the per-doc accumulation is an
    integer sum — bit-identical under any partitioning or fold order in
    both engines; floats only reappear in the final per-doc division.

    Scale: one groupBy(term) for the frequency table, one groupBy(doc)
    for the score; the vocab->token join shuffles on term (well
    distributed). The vocab side is NOT force-broadcast: whitespace vocab
    on web-scale data is itself huge (100M+ terms), so AQE picks the
    strategy; for bounded vocabularies it lands on broadcast by size.

    Returns (doc_id, source, n_tok, doc_logp)."""
    tok = docs.select("doc_id", "source", F.explode(tokens("text")).alias("term"))
    # ONE tokenize pass (round 12): vocab derives from the UN-persisted tf
    # plan (tc = Σc per term — the identical integer), so the tf exchange
    # subtree appears on both legs and ReuseExchange/AQE stage reuse
    # materializes the tokenize + partial-agg + shuffle write ONCE (plan-
    # verified: the vocab leg reads a ReusedExchange of the tf shuffle).
    # The term exchange's volume is unchanged (per-task partials either
    # way). Interleaved A/B at sf0.1 (OPTIMIZATION_r12.md): 1.56 →
    # 1.33 s median / 1.33 → 1.23 min; at corpus scale this is one fewer
    # full corpus pass. Distinct from the REJECTED persist-tf form (1.35
    # vs 0.97 s min — a materialization barrier + corpus-sized write);
    # reuse here happens inside the single job with no storage.
    tf = tok.groupBy("doc_id", "source", "term").agg(F.count("*").alias("c"))
    vocab = tf.groupBy("term").agg(F.sum("c").alias("tc"))
    total = vocab.agg(F.sum("tc").cast("double").alias("total"))
    ll = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(col("tc") / col("total")) * 1e6).cast("long").alias("llmicro"),
    )
    return (
        tf.join(ll, "term")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_tok"),
            (F.sum(col("c") * col("llmicro")) / F.sum("c") / lit(1e6)).alias("doc_logp"),
        )
    )


def q125_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-LM quality rollup: mean doc log-prob + count of
    surprising (low-likelihood) documents."""
    docs = spread(load(spark, sf_dir, "documents"))
    scored = unigram_logprob(docs)
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("doc_logp"), 4).alias("avg_logprob"),
            F.round(F.min("doc_logp"), 4).alias("min_logprob"),
            F.sum((col("doc_logp") < _LL_FLAG).cast("long")).alias("n_surprising"),
        )
        .orderBy("source")
    )


# --- vocabulary / Zipf statistics (q126) -----------------------------------

def q126_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: token volume, vocab size,
    type-token ratio, and the Zipf head (top term + its share). All ratios
    derive from integer counts (order-independent), ties on the top term
    break lexicographically.

    Scale: one groupBy(source, term) absorbs the volume with map-side
    partial aggregation; everything after runs on the tiny per-term table.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(col("c").desc(), "term")
    ranked = tf.withColumn("r", F.row_number().over(w))
    per_src = tf.groupBy("source").agg(
        F.sum("c").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    top = ranked.where(col("r") == 1).select(
        "source", col("term").alias("top_term"), col("c").alias("top_c")
    )
    return (
        per_src.join(top, "source")
        .select(
            "source",
            "total_tokens",
            "vocab_size",
            F.round(col("vocab_size") / col("total_tokens"), 4).alias("type_token_ratio"),
            "top_term",
            F.round(col("top_c") / col("total_tokens"), 4).alias("top_share"),
        )
        .orderBy("source")
    )


# --- document length histogram (q127) --------------------------------------

_HIST_WIDTH = 100  # chars per bucket
_HIST_MAX_BUCKET = 9  # everything >= 900 chars lands in the last bucket


def q127_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document length in chars (bucket = 100
    chars, clamped at bucket 9) — the distribution snapshot a pipeline
    takes before setting length filters. Map-side bucketing + one tiny
    aggregate."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.least(F.floor(col("n_chars") / _HIST_WIDTH), lit(_HIST_MAX_BUCKET)).cast(
        "long"
    )
    return (
        docs.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


# --- distributed BPE vocabulary learning (q131) ----------------------------
# Tokenizer TRAINING, not just application (q34 applies a pre-tokenizer):
# the classic byte-pair-encoding loop (Sennrich et al., ACL'16) — count
# adjacent symbol pairs over the word-frequency table, merge the most
# frequent pair everywhere, repeat. Each round is ONE shuffle (the pair
# count); the merge itself is a per-word array fold over the cached
# vocabulary (no shuffle — see _bpe_merge), and the argmax pair is a
# driver scalar (like the k-means centroid handoff). Greedy left-to-right
# semantics hold exactly, including the pa == pb overlap case (a run of k
# candidates merges at ranks 1, 3, 5, …).

_BPE_LEARN_ITERS = 2


def _bpe_words(docs: DataFrame) -> DataFrame:
    """(word, freq, syms): corpus word frequencies with char-split symbols."""
    w = docs.select(F.explode(tokens("text")).alias("word")).groupBy("word").agg(
        F.count("*").alias("freq")
    )
    syms = F.filter(F.split(col("word"), ""), lambda x: x != "")
    return w.withColumn("syms", syms)


def _bpe_pair_freqs(words: DataFrame) -> DataFrame:
    """(pair, pf): adjacent-symbol pair frequencies weighted by word freq."""
    n = F.size(col("syms"))
    pairs = F.zip_with(
        F.slice(col("syms"), F.lit(1), n - 1),
        F.slice(col("syms"), F.lit(2), n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        words.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("pf"))
    )


def _bpe_merge(words: DataFrame, pa: str, pb: str, merged: str) -> DataFrame:
    """Apply one merge greedily left-to-right in every word as a PURE
    ARRAY FOLD — zero shuffle, zero window, zero join (the r6 form
    posexploded into three word-partitioned windows plus a join-back,
    three vocabulary shuffles per merge round). The fold holds one
    pending symbol: when (pending, current) == (pa, pb) emit ``merged``
    and clear, else flush pending and hold current — exactly the greedy
    left-to-right scan, including the pa == pb overlap parity (runs of k
    candidates merge at ranks 1, 3, 5, …)."""

    def step(acc, s):
        hit = acc["cand"].isNotNull() & (acc["cand"] == pa) & (s == pb)
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(lit(merged))))
            .when(acc["cand"].isNotNull(), F.concat(acc["out"], F.array(acc["cand"])))
            .otherwise(acc["out"])
            .alias("out"),
            F.when(hit, lit(None).cast("string")).otherwise(s).alias("cand"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        lit(None).cast("string").alias("cand"),
    )
    syms2 = F.aggregate(
        col("syms"),
        init,
        step,
        lambda acc: F.when(
            acc["cand"].isNotNull(), F.concat(acc["out"], F.array(acc["cand"]))
        ).otherwise(acc["out"]),
    )
    return words.select("word", "freq", syms2.alias("syms"))


def bpe_learn(docs: DataFrame, iters: int = _BPE_LEARN_ITERS) -> list[tuple[int, str, str, int]]:
    """Learn ``iters`` BPE merges; returns [(iteration, pair, merged, pair_freq)].

    The word-frequency table persists across rounds (vocabulary-class,
    dimension-bounded): each iteration's pair count and the array-fold
    merge both read the cache instead of re-tokenizing the corpus."""
    words = persist_tracked(_bpe_words(docs))
    learned: list[tuple[int, str, str, int]] = []
    for it in range(1, iters + 1):
        best = (
            _bpe_pair_freqs(words)
            .orderBy(col("pf").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        pa, pb = best.pair.split(" ")
        merged = pa + pb
        learned.append((it, best.pair, merged, int(best.pf)))
        if it < iters:
            words = _bpe_merge(words, pa, pb, merged)
    return learned


def q131_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two learned BPE merges over the corpus (tokenizer training)."""
    docs = spread(load(spark, sf_dir, "documents"))
    rows = bpe_learn(docs)
    return spark.createDataFrame(
        rows, schema="it long, pair string, merged string, pair_freq long"
    ).orderBy("it")


def q173_ir_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation over q158's BM25 rankings: MRR@5,
    precision@5, and DCG@5 against same-source pseudo-labels (a result is
    "relevant" when it shares the query document's source) — the offline
    eval harness a search/RAG stack runs on every index or scorer change.

    Determinism: per-row reciprocal-rank and log2-discount terms quantize
    to integer micro-units before any sum (ranks ≤ 5, so each term is ONE
    float op on an integer); the final means divide exact integer sums.

    Scale: reads the memoized bm25_rankings stage (shared with q158/q243
    — broadcast-guarded query terms, WindowGroupLimit top-k) plus two
    dimension joins on doc_id and one rollup."""
    top = q158_bm25_topk(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    sq = docs.select(
        col("doc_id").alias("query_id"), col("source").alias("q_src")
    )
    sd = docs.select("doc_id", col("source").alias("d_src"))
    lab = (
        top.join(sq, "query_id")
        .join(sd, "doc_id")
        .select(
            "query_id",
            "rnk",
            (col("q_src") == col("d_src")).cast("int").alias("rel"),
        )
    )
    perq = lab.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.max(
            F.when(col("rel") == 1, F.round(lit(1e6) / col("rnk")).cast("long"))
            .otherwise(lit(0))
        ).alias("rr_micro"),
        F.sum(
            F.when(
                col("rel") == 1,
                F.round(lit(1e6) / F.log2(col("rnk") + 1)).cast("long"),
            ).otherwise(lit(0))
        ).alias("dcg_micro"),
    )
    return perq.agg(
        F.count("*").alias("n_queries"),
        F.round(F.sum("rr_micro") / F.count("*") / lit(1e6), 4).alias("mrr_at_5"),
        F.round(F.sum("n_rel") / (lit(5.0) * F.count("*")), 4).alias("p_at_5"),
        F.round(F.sum("dcg_micro") / F.count("*") / lit(1e6), 4).alias("dcg_at_5"),
    )


def bpe_apply(
    docs: DataFrame, iters: int = _BPE_LEARN_ITERS
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn AND apply ``iters`` merges: (learned rows, vocabulary with
    post-merge symbol arrays) — q131's loop continued one application
    further so the final state is usable for encoding."""
    words = persist_tracked(_bpe_words(docs))
    learned: list[tuple[int, str, str, int]] = []
    for it in range(1, iters + 1):
        best = (
            _bpe_pair_freqs(words)
            .orderBy(col("pf").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        pa, pb = best.pair.split(" ")
        learned.append((it, best.pair, pa + pb, int(best.pf)))
        words = _bpe_merge(words, pa, pb, pa + pb)
    return learned, words


def q162_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode the corpus with q131's two learned merges
    and report per-source tokenization stats (words, BPE tokens, chars,
    tokens/word, chars/token) — the measurement a tokenizer-training run
    does right after learning merges (compression tracking).

    Scale: merges apply over the VOCABULARY (word types, not occurrences) —
    each merge is a per-word array fold (no shuffle; see _bpe_merge);
    occurrences then join the encoded vocab on word (AQE-sized, same class
    as q125's vocab join) and roll up per source. All stats from integer
    counts; the two ratios are single IEEE divisions. Reference: tokenizer
    apply is the missing half of Sennrich ACL'16 training (q131)."""
    docs = spread(load(spark, sf_dir, "documents"))
    _, words = bpe_apply(docs, 2)
    enc = words.select("word", F.size("syms").cast("long").alias("n_syms"))
    occ = docs.select("source", F.explode(tokens("text")).alias("word"))
    j = occ.join(enc, "word")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_syms").alias("n_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
            F.round(F.sum("n_syms") / F.count("*"), 4).alias("tokens_per_word"),
            F.round(F.sum(F.length("word")) / F.sum("n_syms"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


_BPE_RE_SQL = BPE_PRETOKEN_RE.replace("'", "''")

_BPE_SYMS_SQL = "list_filter(regexp_split_to_array(word, ''), x -> x <> '')"


def _bpe_prefix_sql() -> str:
    """Shared unrolled-BPE CTE prefix (through the round-2 argmax b2):
    pair count -> argmax b1 -> greedy positional merge -> pair count ->
    argmax b2. q131's oracle selects b1/b2; q162's continues with the
    round-2 merge applied."""
    return f"""tok AS (SELECT unnest({tokens_sql()}) AS word FROM documents),
w0 AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY 1),
s0 AS (SELECT word, freq, {_BPE_SYMS_SQL} AS syms FROM w0),
p1 AS (SELECT syms[i] || ' ' || syms[i + 1] AS pair, SUM(freq) AS pf
       FROM s0, UNNEST(range(1, len(syms))) t(i) GROUP BY 1),
b1 AS (SELECT pair, pf FROM p1 ORDER BY pf DESC, pair LIMIT 1),
pos1 AS (SELECT word, freq, i, syms[i] AS sym, syms[i + 1] AS nxt
         FROM s0, UNNEST(range(1, len(syms) + 1)) t(i)),
q1 AS (SELECT pos1.word, pos1.i,
              i - ROW_NUMBER() OVER (PARTITION BY pos1.word ORDER BY i) AS run
       FROM pos1, b1
       WHERE sym = split_part(b1.pair, ' ', 1) AND nxt = split_part(b1.pair, ' ', 2)),
keep1 AS (SELECT word, i FROM (
            SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word, run ORDER BY i) AS rr
            FROM q1) WHERE rr % 2 = 1),
m1 AS (SELECT p.word, p.freq, p.i,
              CASE WHEN k.i IS NOT NULL THEN replace(b1.pair, ' ', '') ELSE p.sym END AS sym_out
       FROM pos1 p CROSS JOIN b1
       LEFT JOIN keep1 k ON p.word = k.word AND p.i = k.i
       LEFT JOIN keep1 kp ON p.word = kp.word AND p.i = kp.i + 1
       WHERE kp.i IS NULL),
s1 AS (SELECT word, freq, list(sym_out ORDER BY i) AS syms FROM m1 GROUP BY word, freq),
p2 AS (SELECT syms[i] || ' ' || syms[i + 1] AS pair, SUM(freq) AS pf
       FROM s1, UNNEST(range(1, len(syms))) t(i) GROUP BY 1),
b2 AS (SELECT pair, pf FROM p2 ORDER BY pf DESC, pair LIMIT 1)"""


def _bpe_learn_sql() -> str:
    return f"""
WITH {_bpe_prefix_sql()}
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS it, pair, replace(pair, ' ', '') AS merged,
         CAST(pf AS BIGINT) AS pair_freq FROM b1
  UNION ALL
  SELECT CAST(2 AS BIGINT), pair, replace(pair, ' ', ''), CAST(pf AS BIGINT) FROM b2)
ORDER BY it
"""


def _bpe_encode_sql() -> str:
    """q162 oracle: the prefix's round-2 merge applied (pos2..s2 mirror
    pos1..s1 against b2), then per-source occurrence stats through the
    vocabulary join."""
    return f"""
WITH {_bpe_prefix_sql()},
pos2 AS (SELECT word, freq, i, syms[i] AS sym, syms[i + 1] AS nxt
         FROM s1, UNNEST(range(1, len(syms) + 1)) t(i)),
q2 AS (SELECT pos2.word, pos2.i,
              i - ROW_NUMBER() OVER (PARTITION BY pos2.word ORDER BY i) AS run
       FROM pos2, b2
       WHERE sym = split_part(b2.pair, ' ', 1) AND nxt = split_part(b2.pair, ' ', 2)),
keep2 AS (SELECT word, i FROM (
            SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word, run ORDER BY i) AS rr
            FROM q2) WHERE rr % 2 = 1),
m2 AS (SELECT p.word, p.freq, p.i,
              CASE WHEN k.i IS NOT NULL THEN replace(b2.pair, ' ', '') ELSE p.sym END AS sym_out
       FROM pos2 p CROSS JOIN b2
       LEFT JOIN keep2 k ON p.word = k.word AND p.i = k.i
       LEFT JOIN keep2 kp ON p.word = kp.word AND p.i = kp.i + 1
       WHERE kp.i IS NULL),
s2 AS (SELECT word, freq, list(sym_out ORDER BY i) AS syms FROM m2 GROUP BY word, freq),
enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms FROM s2),
occ AS (SELECT source, unnest({tokens_sql()}) AS word FROM documents)
SELECT occ.source,
       COUNT(*) AS n_words,
       CAST(SUM(enc.n_syms) AS BIGINT) AS n_tokens,
       CAST(SUM(len(occ.word)) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(enc.n_syms) AS DOUBLE) / COUNT(*), 4) AS tokens_per_word,
       ROUND(CAST(SUM(len(occ.word)) AS DOUBLE) / SUM(enc.n_syms), 4) AS chars_per_token
FROM occ JOIN enc ON occ.word = enc.word
GROUP BY occ.source ORDER BY occ.source
"""


def _pii_redact_sql(expr: str = "text") -> str:
    out = expr
    for pat in _PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '', 'g')"
    return out


_PII_HITS_SQL = {
    name: f"len(regexp_extract_all(text, '{pat}'))"
    for name, pat in _PII_PATTERNS.items()
}
_BLOCKED_SQL = (
    f"len(list_filter({tokens_sql()}, t -> t IN ("
    + ", ".join(f"'{w}'" for w in _BLOCKLIST)
    + ")))"
)

def q142_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and the first 10 postings (sorted doc_ids) — the retrieval /
    BM25 precursor every search-over-corpus pipeline materializes.

    Scale: two hash aggregations (term×doc partials absorb the token
    explode map-side, then per-term merge). The postings list is CAPPED at
    10 ids here so a stop-word's posting list cannot blow up one reducer —
    the full-index form writes postings bucketed by term instead of
    collecting them into a single row (same plan, sink swapped)."""
    docs = spread(load(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    per = t.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return (
        per.groupBy("term")
        .agg(
            F.count("*").alias("df_docs"),
            F.sum("tf").alias("tf_total"),
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10).alias("postings"),
        )
        .orderBy("term")
    )


_WS_TOP_K = 100  # weighted sample size


def q143_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: priority = hash48(doc_id) / weight
    (weight = n_chars, favoring long documents), keep the k lowest
    priorities. Inclusion odds scale with weight, yet the pick is a pure
    function of the data — reproducible across engines, runs, and
    partitionings (the seedless twin of A-ES weighted reservoir sampling;
    IEEE double division is exact-identical on both engines).

    Scale: the priority is map-side; the global top-k is a
    TakeOrderedAndProject (per-partition heaps, no full sort). Summary
    rolls the picked docs up per source."""
    docs = load(spark, sf_dir, "documents")
    pri = (
        hash48(col("doc_id").cast("string")).cast("double")
        / col("n_chars").cast("double")
    ).alias("pri")
    picked = (
        docs.select("doc_id", "source", "n_chars", pri)
        .orderBy("pri", "doc_id")
        .limit(_WS_TOP_K)
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


def q146_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: KL divergence of each source's unigram
    distribution from the whole-corpus distribution — the domain-shift
    alarm a training pipeline runs per ingest batch (a source whose KL
    jumps changed its content mix).

    Determinism: the q125 discipline — ln(p) quantized to integer
    micro-units per term, so KL's weighted sum is an INTEGER sum
    (bit-identical under any fold order); the single division back to
    nats-per-token happens once per source on identical integers.

    Scale: one groupBy(source, term) absorbs the corpus (map-side
    partials); the corpus-marginal table derives from it (never a second
    scan); the join back is per-term on the small aggregate. Every source
    present in the corpus has KL >= 0 by Gibbs' inequality — pinned in
    tests as the algebraic invariant."""
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    src_tf = tok.groupBy("source", "term").agg(F.count("*").alias("cs"))
    src_tot = src_tf.groupBy("source").agg(F.sum("cs").alias("ns"))
    corp_tf = src_tf.groupBy("term").agg(F.sum("cs").alias("ct"))
    corp_tot = corp_tf.agg(F.sum("ct").cast("double").alias("nc"))
    joined = (
        src_tf.join(src_tot, "source")
        .join(corp_tf, "term")
        .crossJoin(F.broadcast(corp_tot))
    )
    contrib = col("cs") * (
        F.round(F.log(col("cs") / col("ns").cast("double")) * 1e6).cast("long")
        - F.round(F.log(col("ct") / col("nc")) * 1e6).cast("long")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.max("ns").alias("n_tokens"),
            F.count("*").alias("vocab_size"),
            F.round(
                (F.sum(contrib) / F.max("ns").cast("double") / lit(1e6)), 6
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


def q148_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-threshold corpus filtering: instead of a fixed quality
    cutoff (q31's _Q_FLAG), keep documents inside the [p10, p95] band of
    the OBSERVED score distribution — the self-calibrating filter a
    pipeline runs when each crawl snapshot shifts the score distribution.
    Thresholds round to 6 decimals (the q130 discipline) so both engines
    cut at bit-identical values; percentile ≡ quantile_cont.

    Scale: one pass scores documents map-side; the two-row threshold
    aggregate broadcasts back; the second pass filters and rolls up. The
    exact percentile is the calibration step — at 100 TB it runs on a
    SAMPLE or as approx_percentile (tolerance-tested elsewhere) without
    changing the shape."""
    docs = spread(load(spark, sf_dir, "documents"))
    scored = docs.select("doc_id", "source", "n_chars", quality_score().alias("q"))
    thr = scored.agg(
        F.round(F.expr("percentile(q, 0.10)"), 6).alias("lo"),
        F.round(F.expr("percentile(q, 0.95)"), 6).alias("hi"),
    )
    kept = scored.crossJoin(F.broadcast(thr)).where(
        (col("q") >= col("lo")) & (col("q") <= col("hi"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.avg("q"), 4).alias("avg_q"),
            F.sum("n_chars").alias("kept_chars"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
        .orderBy("source")
    )


_BM25_EST_TOK_GATE = 2_000_000  # free n_chars pre-gate: below this token
# estimate the scored stream cannot reach partial-agg-spill volume and the
# (one-postings-pass) scored-volume estimate is skipped entirely — the
# bench-scale plan is byte-identical to the ungated form
_BM25_SCORED_ROWS_PER_TASK = 2_000_000  # (query, doc, term) score rows per
# partial-aggregate task — 24-byte unsafe rows, so a task's hash map stays
# well inside executor memory

_BM25_QTERMS_BROADCAST_CAP = 256 << 20  # 256 MiB: ceiling on the estimated
# built size of the query-term broadcast relation. The panel is CORPUS-
# PROPORTIONAL by the fixture contract (postings/211), so at some corpus
# scale forcing the broadcast hint becomes a driver OOM mid-join rather
# than a slow query (round-11 VERDICT ask #2, the jaccard_pairs guard
# convention). Unlike jaccard's heavy table — where overflow means the
# OUTPUT is quadratic and the operator is the wrong tool — an oversized
# query panel is a legitimate workload, so overflow falls back to a
# shuffle join on `term` instead of raising: the grow-path postings are
# already hash-partitioned by term, so only the (panel-sized) qterms side
# pays the exchange.


class _Bm25MemoEntry(NamedTuple):
    src: DataFrame  # the docs plan the rankings were built from (sameSemantics)
    out: DataFrame  # the persisted (query_id, doc_id, bm25, rnk) top-5 table


# Shared BM25 rankings stage (the clf_scored_docs convention, applied per
# round-11 VERDICT ask #1): q158, q173 and q243 all stand on one top-5-
# per-query ranking table; in a session computing several, the later
# callers reuse the first's persisted stage instead of re-paying the
# tokenize + postings + quadratic query fan-out. The persisted table is
# bounded at 5 rows/query regardless of corpus size. Flushed with the
# persisted working set by cache.release_cached().
_BM25_MEMO: dict[int, _Bm25MemoEntry] = {}


def bm25_rankings(docs: DataFrame) -> DataFrame:
    """Full-text retrieval: BM25 top-5 per query (k1=1.2, b=0.75) with the
    query side drawn from the corpus (doc_id % 211 == 0). Ranking, not the
    q35 corpus aggregate — the Okapi scoring a search layer runs over an
    inverted index.

    Determinism: per-(query, doc, term) scores quantize to integer
    micro-units before the sum (q125's discipline), so the accumulated BM25
    is an exact integer no matter the partial-sum order; every float op
    before the quantize is a fixed IEEE expression tree both engines
    evaluate identically.

    Scale (round-11 replan; the round-6 triage read 19 GB of spill, re-
    measured at 13.8x/19.3 GB under the fixed protocol): the scored stream
    is |query terms| x |postings per term| — it grows QUADRATICALLY when
    the query panel scales with the corpus (queries x100 AND per-term
    postings x100 at the 100x smoke = a 1.02 B-row scored stream off a
    25 M-row postings table), so (a) nothing corpus-sized may join ONTO
    it, and (b) the partial aggregate that absorbs it must see join-input
    partitions sized to the SCORED volume, not the corpus — the 19 GB was
    the partial agg's sort-fallback on ~30 M-row tasks. Above the free
    n_chars pre-gate the plan estimates the scored volume from one pass
    over the persisted postings (postings^2 / (211 * vocab)), repartitions
    the postings to scored/2M tasks, and attaches dl/df via two windows
    riding those exchanges (hash(doc_id) from the first repartition
    satisfies the dl window; df pays the one term exchange) — both stats
    ride the postings BEFORE the query fan-out, corpus-linear, no
    docs-bounded broadcast anywhere. The query term list stays a broadcast
    (1/211 of the postings rows — the panel contract). Map-side partial
    aggregation then compresses the scored stream ~12x (a (q, d) pair
    merges across its shared terms within a task) before the one
    (query, doc) exchange; per-query top-k is a WindowGroupLimit, never a
    global sort. At bench scale the original shape is kept bit-for-bit:
    AQE broadcast-joins the two small stat aggregates onto the scored
    stream (measured faster there — the windows' two postings exchanges
    only pay off once the scored stream dwarfs them).

    Memo validity mirrors clf_scored_docs: a hit must still hold live
    persisted blocks AND pass sameSemantics against the stored source
    plan (semanticHash is 32 bits; a collision must miss, never serve
    another corpus's rankings)."""
    key = docs.semanticHash()
    hit = _BM25_MEMO.get(key)
    if (
        hit is not None
        and (hit.out.storageLevel.useMemory or hit.out.storageLevel.useDisk)
        and docs.sameSemantics(hit.src)
    ):
        return hit.out
    spark = docs.sparkSession
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    base_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Round 13 (guide §1.2): the free n_chars pre-gate probe also carries
    # the doc count in the SAME job, so n_docs becomes a plan literal —
    # the former consts leg paid its own parquet scan + a broadcast
    # nested-loop input for a number this probe already walks past.
    if "n_chars" in docs.columns:
        st0 = docs.agg(
            F.count("*").alias("nd"), F.sum("n_chars").alias("nc")
        ).head()
        est_tok = int(st0["nc"] or 0) // 6
    else:
        st0 = docs.agg(
            F.count("*").alias("nd"),
            F.sum(F.size(tokens("text"))).alias("nc"),
        ).head()
        est_tok = int(st0["nc"] or 0)
    n_docs = int(st0["nd"])
    # ONE tokenize pass: tf persists and dl/df/total_len all derive from
    # it (dl = Σ tf per doc, total_len = Σ tf — identical values, three
    # fewer corpus scans; at 100 TB this is "materialize the postings
    # table once", which is exactly what the q142 inverted index builds).
    tf = persist_tracked(
        tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    n_parts = base_parts
    panel_bcast = True  # below the n_chars gate the panel is ≤ ~est_tok/211
    # rows by construction — physically bounded, always broadcastable
    if est_tok > _BM25_EST_TOK_GATE:
        st = tf.agg(
            F.count("*").alias("m"),
            F.approx_count_distinct("term").alias("v"),
        ).head()
        scored_est = (int(st["m"]) // 211 + 1) * max(
            int(st["m"]) // max(int(st["v"]), 1), 1
        )
        n_parts = max(
            base_parts, -(-scored_est // _BM25_SCORED_ROWS_PER_TASK)
        )
        # Panel guard (round-11 VERDICT ask #2): ~48 B/row (8 B id + avg
        # term bytes + unsafe-row/relation overhead — the jaccard guard's
        # estimate convention) against the broadcast cap. Overflow drops
        # the HINT only: AQE still broadcast-joins if runtime stats say
        # it fits; otherwise the join shuffles on `term`, riding the
        # grow-path postings' existing term partitioning.
        panel_bcast = (int(st["m"]) // 211 + 1) * 48 <= _BM25_QTERMS_BROADCAST_CAP
    grow = n_parts > base_parts
    qterms = tf.where(col("doc_id") % 211 == 0).select(
        col("doc_id").alias("query_id"), "term"
    )
    idf = F.log(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0)
    )
    denom = col("tf") + lit(1.2) * (
        lit(0.25)
        + lit(0.75)
        * col("dl")
        / (col("total_len").cast("double") / col("n_docs"))
    )
    s_micro = F.round(((idf * (col("tf") * lit(2.2))) / denom) * lit(1e6)).cast(
        "long"
    )
    if grow:
        # Corpus-scale path: enrich the postings BEFORE the query fan-out,
        # at scored-volume-sized partitions. The doc_id repartition's hash
        # partitioning satisfies the dl window (no extra exchange); df
        # pays the one term exchange, whose output partitioning then feeds
        # the broadcast query join map-side — so each partial-agg task
        # sees ~scored/n_parts rows and its hash map never sort-spills.
        post = (
            tf.repartition(n_parts, "doc_id")
            .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
            .repartition(n_parts, "term")
            .withColumn("df", F.count("*").over(Window.partitionBy("term")))
        )
        consts = tf.agg(F.sum("tf").alias("total_len")).withColumn(
            "n_docs", lit(n_docs).cast("long")
        )
        scored = (
            (F.broadcast(qterms) if panel_bcast else qterms)
            .join(post, "term")
            .crossJoin(F.broadcast(consts))
            .select("query_id", "doc_id", s_micro.alias("s_micro"))
        )
    else:
        dlen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        stats = tf.groupBy("term").agg(F.count("*").alias("df"))
        # total_len = Σ tf = Σ dl — summing the dlen aggregate instead of
        # re-scanning the tf cache lets exchange reuse serve this leg from
        # dlen's existing shuffle (one fewer cache pass; identical integer)
        consts = dlen.agg(F.sum("dl").alias("total_len")).withColumn(
            "n_docs", lit(n_docs).cast("long")
        )
        scored = (
            (F.broadcast(qterms) if panel_bcast else qterms)
            .join(tf, "term")
            .join(stats, "term")
            .join(dlen, "doc_id")
            .crossJoin(F.broadcast(consts))
            .select("query_id", "doc_id", s_micro.alias("s_micro"))
        )
    agg = scored.groupBy("query_id", "doc_id").agg(
        (F.sum("s_micro") / lit(1e6)).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(col("bm25").desc(), "doc_id")
    out = persist_tracked(
        agg.withColumn("rnk", F.row_number().over(w).cast("long")).where(
            col("rnk") <= 5
        )
    )
    _BM25_MEMO[key] = _Bm25MemoEntry(src=docs, out=out)
    return out


from ..cache import register_memo_clearer as _reg_bm25_clear  # noqa: E402

_reg_bm25_clear(_BM25_MEMO.clear)


def q158_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bm25_rankings stage over the landing dir, presentation-ordered.
    See :func:`bm25_rankings` for semantics, determinism and the scale
    plan; q173 (IR eval) and q243 (hybrid RRF) read the same memoized
    stage, so a session computing any two of the three pays the corpus
    pass once."""
    return bm25_rankings(spread(load(spark, sf_dir, "documents"))).orderBy(
        "query_id", "rnk"
    )


_BM25_CTES = f"""tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dlen AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
stats AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS total_len
      FROM documents),
qterms AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id % 211 = 0),
scored AS (
  SELECT q.query_id, t.doc_id,
         CAST(ROUND(
           (ln((n.n_docs - s.df + 0.5) / (s.df + 0.5) + 1.0) * (t.tf * 2.2))
           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
                            / (CAST(n.total_len AS DOUBLE) / n.n_docs)))
           * 1e6) AS BIGINT) AS s_micro
  FROM qterms q
  JOIN tf t ON t.term = q.term
  JOIN stats s ON s.term = q.term
  JOIN dlen d ON d.doc_id = t.doc_id
  CROSS JOIN n),
agg AS (SELECT query_id, doc_id, SUM(s_micro) / 1e6 AS bm25
        FROM scored GROUP BY 1, 2),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY bm25 DESC, doc_id) AS rn
       FROM agg)"""

_BM25_SQL = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, bm25, CAST(rn AS BIGINT) AS rnk
FROM rk WHERE rn <= 5 ORDER BY query_id, rnk
"""

_IR_EVAL_SQL = f"""
WITH {_BM25_CTES},
top AS (SELECT query_id, doc_id, rn FROM rk WHERE rn <= 5),
src AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT t.query_id, t.rn,
         CASE WHEN sq.source = sd.source THEN 1 ELSE 0 END AS rel
  FROM top t
  JOIN src sq ON sq.doc_id = t.query_id
  JOIN src sd ON sd.doc_id = t.doc_id),
perq AS (
  SELECT query_id,
         CAST(SUM(rel) AS BIGINT) AS n_rel,
         CAST(MAX(CASE WHEN rel = 1 THEN CAST(ROUND(1e6 / rn) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rr_micro,
         CAST(SUM(CASE WHEN rel = 1
                       THEN CAST(ROUND(1e6 / log2(rn + 1)) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS dcg_micro
  FROM lab GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(SUM(rr_micro) / COUNT(*) / 1e6, 4) AS mrr_at_5,
       ROUND(SUM(n_rel) / (5.0 * COUNT(*)), 4) AS p_at_5,
       ROUND(SUM(dcg_micro) / COUNT(*) / 1e6, 4) AS dcg_at_5
FROM perq
"""


# --- q243: hybrid retrieval (BM25 + vector, reciprocal-rank fusion) -----------

_RRF_K = 60  # the standard RRF constant (Cormack et al. SIGIR'09)


def q243_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack, Clarke &
    Buettcher SIGIR'09) of the BM25 lexical channel (q158's rankings) and
    the exact-cosine vector channel (q51's broadcast-query shape) over the
    shared query panel — q158's doc_id % 211 == 0 panel restricted to
    documents that HAVE embeddings (doc_id ≡ vec_id in the fixtures, the
    q44 convention). This is the retrieval stack a RAG pipeline actually
    serves: neither channel alone, but rank fusion of both, with per-hit
    channel provenance (in_lex / in_vec) for the fusion audit.

    Determinism: channel ranks are exact integers (q158's integer-micro
    BM25 ranks; the vector channel RE-RANKS its top-5 on the PUBLISHED
    4-decimal cosine, tie-break doc_id, in both engines — round-11
    ADVICE: the raw BLAS accumulation can differ from the oracle's
    sequential fold by ~1 ulp, and an un-rounded rank would feed that
    flip straight into rrf_micro; quantized, both engines rank the same
    values and break the ties they create identically. The residual —
    which 5 survive the channel's own cut — is raw-ordered in both
    engines, exactly q51b's documented pinned-on-fixtures exposure);
    each RRF contribution quantizes as ROUND(1e6 / (60 + rank)) — no
    value in range ties at .5 — so the fused score is an exact integer
    sum and the final ordering (rrf_micro DESC, doc_id) is tie-stable
    cross-engine.

    Scale: both channels are top-5-bounded per query BEFORE fusion, so
    the fusion full-outer join moves ≤ 10 rows per query regardless of
    corpus size; total cost = the two channels' own (q158: corpus-linear
    postings; the vector side rides q51b's GEMM path — one BLAS matmul
    per Arrow batch with per-partition top-k, shuffling ≤ parts·|q|·k
    rows, measured 4× over the per-pair fold at the 100× smoke).
    Oracle-gated, not headlined. The lexical channel reads the MEMOIZED
    bm25_rankings stage (round-11 VERDICT ask #1): in a session that has
    already computed q158 or q173 the corpus pass is not re-paid; memo-
    cold, this query still owns the full channel cost (the q162/q173
    double-count convention)."""
    from .similarity import matmul_topk_per_query

    lex = q158_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", col("rnk").alias("lex_rank")
    )
    emb = load(spark, sf_dir, "embeddings")
    ids = emb.select(col("vec_id").alias("query_id"))
    lex = lex.join(F.broadcast(ids), "query_id", "semi")
    wv = Window.partitionBy("query_id").orderBy(col("cos").desc(), "doc_id")
    vec = (
        matmul_topk_per_query(emb, col("vec_id") % 211 == 0, k=5)
        .select(
            col("q_id").alias("query_id"),
            col("neighbor_id").alias("doc_id"),
            "cos",  # the 4-decimal published cosine, not the raw rank
        )
        .withColumn("vec_rank", F.row_number().over(wv).cast("long"))
        .drop("cos")
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full")

    def contrib(rank_col):
        return (
            F.when(
                rank_col.isNotNull(),
                F.round(lit(1e6) / (lit(_RRF_K) + rank_col)).cast("long"),
            ).otherwise(lit(0))
        )

    w = Window.partitionBy("query_id").orderBy(col("rrf_micro").desc(), "doc_id")
    return (
        fused.select(
            "query_id",
            "doc_id",
            (contrib(col("lex_rank")) + contrib(col("vec_rank"))).alias(
                "rrf_micro"
            ),
            col("lex_rank").isNotNull().cast("int").alias("in_lex"),
            col("vec_rank").isNotNull().cast("int").alias("in_vec"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


_HYBRID_RRF_SQL = f"""
WITH {_BM25_CTES},
lex AS (
  SELECT query_id, doc_id, CAST(rn AS BIGINT) AS lex_rank
  FROM rk WHERE rn <= 5
    AND query_id IN (SELECT vec_id FROM embeddings)),
ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
vq AS (SELECT vec_id AS q_id, v AS qv FROM ve WHERE vec_id % 211 = 0),
vcand AS (
  SELECT q.q_id, ve.vec_id,
         list_reduce(list_transform(range(1, 1 + len(ve.v)),
                                    i -> ve.v[i] * q.qv[i]), (x, y) -> x + y)
         / sqrt(list_reduce(list_transform(range(1, 1 + len(ve.v)),
                                           i -> ve.v[i] * ve.v[i]), (x, y) -> x + y)
                * list_reduce(list_transform(range(1, 1 + len(q.qv)),
                                             i -> q.qv[i] * q.qv[i]), (x, y) -> x + y))
           AS cos_raw
  FROM ve, vq q WHERE ve.vec_id <> q.q_id),
vtop AS (
  -- outer rank re-ranks the raw top-5 on the PUBLISHED 4-decimal cosine
  -- (tie-break vec_id) — mirrors the Spark side exactly, so a ~1-ulp
  -- BLAS-vs-fold accumulation difference cannot flip the fused rank
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_q DESC, doc_id) AS BIGINT) AS vec_rank
  FROM (SELECT q_id AS query_id, vec_id AS doc_id, ROUND(cos_raw, 4) AS cos_q,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cos_raw DESC, vec_id) AS rank FROM vcand) t
  WHERE rank <= 5),
rrf_f AS (
  SELECT query_id, doc_id, lex_rank, vec_rank
  FROM lex FULL JOIN vtop USING (query_id, doc_id)),
rrf_scored AS (
  SELECT query_id, doc_id,
         (CASE WHEN lex_rank IS NOT NULL
               THEN CAST(ROUND(1e6 / (60 + lex_rank)) AS BIGINT) ELSE 0 END
        + CASE WHEN vec_rank IS NOT NULL
               THEN CAST(ROUND(1e6 / (60 + vec_rank)) AS BIGINT) ELSE 0 END)
           AS rrf_micro,
         CASE WHEN lex_rank IS NOT NULL THEN 1 ELSE 0 END AS in_lex,
         CASE WHEN vec_rank IS NOT NULL THEN 1 ELSE 0 END AS in_vec
  FROM rrf_f)
SELECT query_id, doc_id, rrf_micro,
       CAST(in_lex AS INTEGER) AS in_lex, CAST(in_vec AS INTEGER) AS in_vec,
       CAST(rn AS BIGINT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY rrf_micro DESC, doc_id) AS rn FROM rrf_scored) t
WHERE rn <= 3 ORDER BY query_id, rn
"""


# --- q201: literal-weight quality classifier ---------------------------------

_CLF_DIM = 4096  # hashed n-gram feature space (hashing trick)
_CLF_BIAS_MICRO = -50_000  # intercept, micro-logits

#: DCLM/FineWeb-class linear quality model with LITERAL weights: a tiny
#: fastText-style logistic regression over hashed token uni+bigrams, shipped
#: as micro-logit literals (the weights a real pipeline would train offline
#: and broadcast). Stopword-bearing grams vote clean; repetition grams
#: ("x x" bigrams, filler tokens) vote spam — the dominant low-quality
#: signature in crawled corpora.
_CLF_WEIGHTS_MICRO = {
    "the": 400_000,
    "a": 250_000,
    "data": 120_000,
    "customer": 80_000,
    "the table": 150_000,
    "dup": -450_000,
    "dup dup": -800_000,
    "slow slow": -600_000,
    "value value": -600_000,
    "spark spark": -600_000,
    "table table": -600_000,
    "key key": -600_000,
    "a a": -350_000,
    "the the": -350_000,
}


def _clf_bucket_weights() -> dict[int, int]:
    """bucket -> summed micro-weight under the SAME 48-bit md5 hash both
    engines use (hash48 % _CLF_DIM); colliding model grams sum, exactly as
    the hashing trick prescribes."""
    import hashlib

    out: dict[int, int] = {}
    for gram, w in _CLF_WEIGHTS_MICRO.items():
        b = int(hashlib.md5(gram.encode()).hexdigest()[:12], 16) % _CLF_DIM
        out[b] = out.get(b, 0) + w
    return out


def _clf_grams_expr() -> str:
    """Spark SQL: uni+bigram array over token array ``w``."""
    return (
        "concat(w, zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        " slice(w, 2, greatest(size(w) - 1, 0)),"
        " (x, y) -> concat(x, ' ', y)))"
    )


def classifier_logit_micro() -> Column:
    """Per-document micro-logit of the literal-weight classifier over a
    token-array column ``w``: bias + floor(dot(counts, weights)/n_grams).
    The dot product is an exact integer fold (micro-weights × occurrence),
    and the single division happens on exact doubles < 2^53 — the score is
    engine-exact, never a float accumulation. Pure map-side expression:
    zero shuffle, no UDF.

    The bucket hash is computed ONCE per gram in a ``transform`` and the
    weight CASE dispatches on the precomputed element. Spelling the CASE
    directly on the md5 expression (``CASE (md5(...)) WHEN b1 ...``)
    desugars to one ``h = b_i`` comparison PER ARM with the discriminant
    RE-EVALUATED each time — higher-order-function lambdas get no
    common-subexpression elimination, so the 14-arm model paid 14 md5
    calls per gram. Measured at 20x sf0.1 (100k docs): 6.7 s -> 1.1 s for
    the identical integer result (round-11; the whole q201 family rides
    this expression)."""
    h = "CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT) % " + str(_CLF_DIM)
    arms = " ".join(
        f"WHEN {b} THEN {w}L" for b, w in sorted(_clf_bucket_weights().items())
    )
    grams = _clf_grams_expr()
    return F.expr(
        f"{_CLF_BIAS_MICRO}L + CAST(FLOOR(CAST("
        f"aggregate(transform({grams}, g -> {h}), 0L,"
        f" (acc, b) -> acc + CASE b {arms} ELSE 0L END)"
        f" AS DOUBLE) / size({grams})) AS BIGINT)"
    )


class _ClfMemoEntry(NamedTuple):
    src: DataFrame  # the docs plan the stage was scored from (sameSemantics)
    out: DataFrame  # the persisted (doc_id, source, n_tok, lm) table


# Shared classifier-scoring stage (the q219/q220 suffix-memo convention,
# applied per round-10 VERDICT ask #5): q201, q214 and q230 all stand on
# one per-doc scored table; in a session computing several, the later
# callers reuse the first's persisted stage instead of re-paying the
# tokenize+hash+score pass. Flushed with the persisted working set by
# cache.release_cached(), so the memo can never outlive its blocks.
_CLF_MEMO: dict[int, _ClfMemoEntry] = {}


def clf_scored_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, lm): the per-document classifier scoring
    stage every q201-family consumer reads — token count and the exact
    integer micro-logit of the literal-weight model, persisted and
    memoized per docs plan.

    Memo validity mirrors suffix_repeat_lengths: a hit must still hold
    live persisted blocks AND pass sameSemantics against the stored
    source plan (semanticHash is 32 bits; a collision must miss, never
    serve another corpus's scores)."""
    key = docs.semanticHash()
    hit = _CLF_MEMO.get(key)
    if (
        hit is not None
        and (hit.out.storageLevel.useMemory or hit.out.storageLevel.useDisk)
        and docs.sameSemantics(hit.src)
    ):
        return hit.out
    out = persist_tracked(
        docs.select("doc_id", "source", tokens("text").alias("w")).select(
            "doc_id",
            "source",
            F.size("w").cast("long").alias("n_tok"),
            classifier_logit_micro().alias("lm"),
        )
    )
    _CLF_MEMO[key] = _ClfMemoEntry(src=docs, out=out)
    return out


from ..cache import register_memo_clearer as _reg_clf_clear  # noqa: E402

_reg_clf_clear(_CLF_MEMO.clear)


def q201_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the DCLM/FineWeb-class filter): a
    literal-weight logistic regression over hashed token uni+bigrams scores
    every document map-side; docs with negative logit are the spam class.
    Complements q31 (hand-tuned heuristic) and q148 (corpus-calibrated
    percentile filter) — this is the third rung, a TRAINED model applied at
    ingest, which is how production pipelines (CCNet, DCLM, FineWeb-Edu)
    actually gate a crawl.

    Determinism: weights are micro-logit literals; the gram dot product is
    an exact integer fold over hashed buckets (hashing trick, hash48 %
    4096), so both engines agree bit-for-bit before the one rounded output
    division.

    Scale: pure per-row expression — no explode, no join, no shuffle until
    the final per-source rollup (partial-agg combines map-side). At 100 TB
    a bigger model rides along as a broadcast map instead of a CASE; the
    plan shape is unchanged."""
    docs = spread(load(spark, sf_dir, "documents"))
    d = clf_scored_docs(docs)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((col("lm") < 0).cast("long")).alias("n_spam"),
            F.round(F.sum("lm").cast("double") / F.count("*") / lit(1e6), 4).alias(
                "avg_logit"
            ),
            F.round(F.min("lm") / lit(1e6), 4).alias("min_logit"),
        )
        .orderBy("source")
    )


def clf_scored_cte_sql(src: str) -> str:
    """duckdb CTE body computing (doc_id, source, w, lm) — the per-doc
    classifier micro-logit — from a pre-tokenized table ``src`` holding
    (doc_id, source, w). Shared by the q201 oracle and the composed
    pipeline (q89b) oracle so both spell the identical model.

    Hash-once spelling (round-11, mirroring the Spark side): the bucket
    hash is computed once per gram in a list_transform and the weight CASE
    dispatches on the precomputed element — the bench protocol stays
    symmetric (both engines pay one md5 per gram, not one per CASE arm)."""
    h = f"CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % {_CLF_DIM}"
    arms = " ".join(
        f"WHEN {b} THEN {w}" for b, w in sorted(_clf_bucket_weights().items())
    )
    case = "CASE b " + arms + " ELSE 0 END"
    grams = (
        "flatten([w, list_transform(range(1, len(w)),"
        " i -> w[i] || ' ' || w[i + 1])])"
    )
    return f"""
g_{src} AS (SELECT doc_id, source, w, {grams} AS grams FROM {src}),
dotp_{src} AS (
  SELECT doc_id, source, w, len(grams) AS n_grams,
         COALESCE(CAST(list_sum(list_transform(
             list_transform(grams, g -> {h}), b -> {case})) AS BIGINT), 0)
           AS dot
  FROM g_{src}),
scored_{src} AS (
  SELECT doc_id, source, w,
         {_CLF_BIAS_MICRO} + CAST(FLOOR(CAST(dot AS DOUBLE) / n_grams) AS BIGINT)
           AS lm
  FROM dotp_{src})"""


def _clf_score_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
{clf_scored_cte_sql('tok')},
scored AS (SELECT doc_id, source, lm FROM scored_tok)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spam,
       ROUND(CAST(SUM(lm) AS DOUBLE) / COUNT(*) / 1e6, 4) AS avg_logit,
       ROUND(MIN(lm) / 1e6, 4) AS min_logit
FROM scored GROUP BY 1 ORDER BY 1
"""


# --- q201b: DISTRIBUTED logistic-regression training -------------------------
# The missing rung under q201 (round-8 VERDICT ask #3): q201 *applies* a
# literal-weight model; this TRAINS one — full-batch gradient descent on
# logistic loss over hashed uni+bigram count features, driver-coordinated
# epochs with the q54b/q131/q218 integer-quantized handoff so both engines
# walk one weight sequence. Label = the held-in reference-slice convention
# (doc_id % 4 == 0 — the q211/q221/q224 "curated set"; in production this
# is a FineWeb-Edu-style curated-vs-crawl classifier, and on the synthetic
# fixture, where slice membership is content-random, the trainer converges
# toward the class prior — the property test plants separable classes to
# verify actual learning).

_TRAIN_DIM = _CLF_DIM  # hashed feature space (shared with q201's scorer)
_TRAIN_EPOCHS = 3
# η = 0.005 in milli-residual units (Δw_micro = ⌊lr_x1k·g/n + 0.5⌋ with
# lr_x1k = η·1000): full-batch GD on logistic loss is guaranteed-descent
# only below ~4/max‖x‖², and with raw-count features ‖x‖² ≈ doc length —
# η = 0.5 was tried first and MEASURED OSCILLATING on the fixture
# (0.693 → 1.61 → 0.54 → 1.19), the classic overshoot; 0.005 descends
# monotonically. Callers with short documents (the property test's
# planted classes) pass a larger rate.
_TRAIN_LR_X1K = 5
_TRAIN_BIAS = _TRAIN_DIM  # reserved bucket id for the per-doc bias feature


def train_hashed_logreg(
    docs: DataFrame,
    epochs: int = _TRAIN_EPOCHS,
    lr_x1k: int = _TRAIN_LR_X1K,
) -> tuple[list[tuple], dict[int, int]]:
    """([(epoch, n_docs, avg_loss, sep, w_nnz, w_l1)], final weights):
    full-batch GD on logistic loss, every cross-engine-visible number an
    exact integer.

    Determinism contract (the iterative-oracle convention): features are
    integer gram counts hashed to ``_TRAIN_DIM`` buckets (hash48 % dim —
    q201's trick); weights live in integer MICRO-logits; the per-doc
    margin z = Σ w_b·c_b is an exact int64 sum; the sigmoid — the one
    transcendental, the q221-exp class — quantizes PER DOC to milli
    (pm = clamp(1, 999, ⌊1000·σ(z/1e6)+0.5⌋), clamped so the loss ln is
    finite and the same 999 rational inputs feed ln in both engines);
    residual pm − 1000·y and gradient Σ resid·c_b are then exact integer
    sums under ANY partitioning/fold order, and the weight step
    w −= ⌊lr_x1k·g/n + 0.5⌋ is one float64 op tree mirrored verbatim
    (lr_x1k·g and n both < 2^53, so the doubles are exact). Loss is the
    true logistic NLL at the clamped pm, milli-quantized per doc. A
    reserved bias bucket (one always-on unit per doc) lets the model
    learn the class prior as a threshold.

    Scale: ONE corpus (doc, bucket) groupBy builds the feature table,
    collapsed to PER-DOC SPARSE ARRAYS (doc_id, [(bucket, cnt)…]) and
    persisted — |docs| rows, each carrying its own feature list plus the
    always-on bias element. The round-12 fusion (round-11 VERDICT ask
    #6) put the gradient and the per-doc epoch metrics into one bucket
    aggregation; this round removes the remaining per-epoch machinery
    around it (measured at sf0.1: broadcast-join + window and
    groupBy-join-back epoch spellings both plateau at ~0.95 s/epoch,
    all of it plan machinery around a 0.45 s bucket aggregation):
    weights ship as ONE array literal in the epoch expression (dim is
    4097 — a ~25 KB plan constant, cheaper than a broadcast build job
    per epoch), the per-doc margin z = Σ w_b·c_b is an integer
    ``aggregate`` fold over the feature array (no join, no window, no
    shuffle — the array IS the doc partition), and the per-bucket
    gradient explodes the same array straight into the map-side-
    combinable bucket aggregation. Per epoch: one job — cached scan →
    fold → explode → partial agg → dim-bounded exchange → 4097-row
    driver handoff. Every number in the walk is the same exact integer
    as the row-form (array fold ≡ window sum ≡ groupBy sum over int64;
    the fold order never reaches a float), so the oracle is unchanged.
    Epoch count is the driver loop; nothing per-row ever reaches the
    driver."""
    tok = docs.select("doc_id", tokens("text").alias("w"))
    grams = tok.select(
        "doc_id", F.explode(F.expr(_clf_grams_expr())).alias("g")
    )
    tfa = persist_tracked(
        grams.select(
            "doc_id", (hash48(col("g")) % _TRAIN_DIM).cast("int").alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        # bias feature: one always-on unit per document in the reserved
        # bucket, so the model can learn the class prior as a threshold —
        # and the union guarantees zero-gram docs still carry one row, so
        # the per-doc array groupBy below covers every document
        .unionAll(
            docs.select(
                "doc_id",
                lit(_TRAIN_BIAS).cast("int").alias("bucket"),
                lit(1).cast("long").alias("cnt"),
            )
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("bucket", "cnt")).alias("f"))
    )
    weights: dict[int, int] = {}
    rows: list[tuple] = []
    n = None
    for epoch in range(epochs + 1):
        # weights as one plan-constant array literal (index b+1 ↔ bucket b;
        # unset buckets are 0), replacing the per-epoch broadcast build
        # job — F.lit(list) ships the whole vector in ONE py4j call (an
        # F.expr string parse of the same array measured ~0.15 s/epoch of
        # driver time; the scalar-op spelling of the epoch another ~0.3 —
        # this loop is built once per epoch, so driver-side construction
        # cost is part of the query's wall clock)
        warr = F.expr(
            "array("
            + ",".join(f"{weights.get(b, 0)}L" for b in range(_TRAIN_DIM + 1))
            + ")"
        )
        if epoch == 0:
            # w = 0 for every bucket, so the margin fold is identically
            # zero: Σ 0·cnt = 0 for every document — skip the array fold
            # (and the 4097-literal it would carry) on the init epoch.
            # Round-13 note: a full multi-epoch in-plan fusion (weights as
            # a one-row broadcast state chained through the epochs) was
            # built and MEASURED 3.5× WORSE (11.3 s / 109 jobs vs 3.24 s /
            # 17 jobs at sf0.1): exchange reuse cannot deduplicate the
            # nested broadcast state subtrees, so each epoch's pass re-ran
            # once per downstream reference — exponential in epochs. The
            # driver loop with one job per epoch IS the efficient form.
            z = lit(0).cast("long")
        else:
            z = F.aggregate(
                col("f"),
                lit(0).cast("long"),
                lambda acc, s: acc + F.element_at(warr, s["bucket"] + 1) * s["cnt"],
            )
        d = tfa.select("f", z.alias("z"), F.expr("cast(doc_id % 4 = 0 as long)").alias("y"))
        # per-doc scalars (computed once per document, before the explode),
        # then the feature fan-out straight into the bucket aggregation
        scored = d.selectExpr(
            "y",
            "z",
            "least(999L, greatest(1L, cast(floor(1000.0d / (1.0d + exp(-(z / 1e6))) + 0.5d) as long)))"
            " as pm",
            "f",
        ).selectExpr(
            "y",
            "z",
            "pm - 1000L * y as resid",
            "cast(floor(-1000.0d * ln((case when y = 1 then pm else 1000 - pm end) / 1000.0d) + 0.5d) as long)"
            " as lmd",
            "f",
        ).select(
            "y", "z", "resid", "lmd", F.explode("f").alias("s")
        ).selectExpr(
            "s.bucket as bucket",
            "s.cnt as cnt",
            "y",
            "z",
            "resid",
            # loss only materializes on the one-per-doc bias rows — the
            # fused aggregate below reads it from that bucket's row alone
            f"case when s.bucket = {_TRAIN_BIAS} then lmd end as lm",
        )
        # ONE fused per-bucket aggregation per epoch: g is the gradient in
        # every row; the bias bucket's row (exactly one feature row per
        # doc) simultaneously carries the per-doc epoch metrics.
        per_bucket = scored.groupBy("bucket").agg(
            F.sum(col("resid") * col("cnt")).alias("g"),
            F.count("*").alias("n"),
            F.sum("lm").alias("sl"),
            F.sum(F.when(col("y") == 1, col("z"))).alias("zp"),
            F.sum("y").alias("np"),
            F.sum(F.when(col("y") == 0, col("z"))).alias("zn"),
        ).collect()
        m = next(r for r in per_bucket if int(r["bucket"]) == _TRAIN_BIAS)
        n = int(m["n"])
        sep = (
            float(m["zp"]) / float(m["np"]) - float(m["zn"]) / float(n - m["np"])
        ) / 1e6
        rows.append(
            (
                epoch,
                n,
                round(float(m["sl"]) / n / 1000.0, 4),
                round(sep, 4),
                sum(1 for w in weights.values() if w != 0),
                sum(abs(w) for w in weights.values()),
            )
        )
        if epoch == epochs:
            break
        import math

        for r in per_bucket:
            b = int(r["bucket"])
            weights[b] = weights.get(b, 0) - int(
                math.floor(lr_x1k * 1.0 * int(r["g"]) / n + 0.5)
            )
    return rows, weights


def q201b_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(epoch, n_docs, avg_loss, sep, w_nnz, w_l1): the 4-row training
    trajectory (init + 3 full-batch GD epochs) of the distributed hashed
    logistic regression — see train_hashed_logreg for the determinism and
    scale contract. avg_loss is the logistic NLL in nats; sep the
    positive-minus-negative mean margin (both descend/ascend along the
    walked sequence); w_nnz/w_l1 pin the weight vector itself."""
    docs = spread(load(spark, sf_dir, "documents"))
    rows, _ = train_hashed_logreg(docs)
    return spark.createDataFrame(
        rows, "epoch int, n_docs long, avg_loss double, sep double, "
        "w_nnz long, w_l1 long"
    ).orderBy("epoch")


def _classifier_train_sql() -> str:
    """Unrolled-epoch mirror of train_hashed_logreg: the same integer
    feature table, the same per-epoch z/pm/resid/gradient algebra, the
    same FLOOR(500.0·g/n + 0.5) step — 3 epochs of CTE chain (the q218
    unrolled-power-iteration convention)."""
    grams = (
        "flatten([w, list_transform(range(1, len(w)),"
        " i -> w[i] || ' ' || w[i + 1])])"
    )
    score = """
s{t} AS MATERIALIZED (
  SELECT doc_id, z, y, pm, pm - 1000 * y AS resid,
         CAST(FLOOR(-1000.0 * LN((CASE WHEN y = 1 THEN pm
                                       ELSE 1000 - pm END) / 1000.0) + 0.5)
              AS BIGINT) AS lm
  FROM (SELECT doc_id, z, CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS y,
               LEAST(999, GREATEST(1,
                 CAST(FLOOR(1000.0 / (1.0 + EXP(-(z / 1e6))) + 0.5) AS BIGINT)))
                 AS pm
        FROM z{t}))"""
    metric = """
m{t} AS (
  SELECT {t} AS epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(CAST(SUM(lm) AS DOUBLE) / COUNT(*) / 1000.0, 4) AS avg_loss,
         ROUND((CAST(SUM(CASE WHEN y = 1 THEN z END) AS DOUBLE)
                  / CAST(SUM(y) AS DOUBLE)
                - CAST(SUM(CASE WHEN y = 0 THEN z END) AS DOUBLE)
                  / CAST(COUNT(*) - SUM(y) AS DOUBLE)) / 1e6, 4) AS sep,
         {wnnz} AS w_nnz, {wl1} AS w_l1
  FROM s{t})"""
    parts = [
        f"""tok AS (SELECT doc_id, {tokens_sql()} AS w FROM documents),
gr AS (SELECT doc_id, unnest({grams}) AS g FROM tok),
tf AS MATERIALIZED (
  SELECT doc_id, CAST({hash48_sql('g')} % {_TRAIN_DIM} AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM gr GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {_TRAIN_BIAS} AS bucket, CAST(1 AS BIGINT) AS cnt
  FROM documents),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
z0 AS (SELECT DISTINCT doc_id, CAST(0 AS BIGINT) AS z FROM tf)""",
        score.format(t=0),
        metric.format(
            t=0, wnnz="CAST(0 AS BIGINT)", wl1="CAST(0 AS BIGINT)"
        ),
    ]
    for t in range(1, _TRAIN_EPOCHS + 1):
        prev_w = f"w{t - 1}"
        upd = (
            f"CAST(0 - FLOOR({_TRAIN_LR_X1K}.0 * g / n + 0.5) AS BIGINT)"
            if t == 1
            else f"w - CAST(FLOOR({_TRAIN_LR_X1K}.0 * g / n + 0.5) AS BIGINT)"
        )
        src = (
            f"g{t}, nd"
            if t == 1
            else f"{prev_w} JOIN g{t} USING (bucket), nd"
        )
        parts.append(
            f"""g{t} AS (
  SELECT bucket, CAST(SUM(resid * cnt) AS BIGINT) AS g
  FROM s{t - 1} JOIN tf USING (doc_id) GROUP BY 1)"""
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (SELECT bucket, {upd} AS w FROM {src})"""
        )
        parts.append(
            f"""z{t} AS (
  SELECT tf.doc_id, CAST(SUM(COALESCE(w, 0) * cnt) AS BIGINT) AS z
  FROM tf LEFT JOIN w{t} USING (bucket) GROUP BY 1)"""
        )
        parts.append(score.format(t=t))
        parts.append(
            metric.format(
                t=t,
                wnnz=f"(SELECT CAST(COUNT(*) AS BIGINT) FROM w{t} WHERE w <> 0)",
                wl1=f"(SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w{t})",
            )
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT * FROM m{t}" for t in range(_TRAIN_EPOCHS + 1)
    )
    return "WITH " + ",".join(parts) + f"\n{unions}\nORDER BY epoch"


# --- q202: deterministic epoch shuffle ---------------------------------------

_EPOCHS = (0, 1)
_EPOCH_SHARDS = 8


def q202_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch reshuffle for training export: every epoch
    permutes the corpus differently, yet any epoch is reproducible forever —
    order key = hash48(epoch ':' doc_id), shard = key % n_shards. This is
    the layout step between q82's token packing and q106's partitioned
    write: each (epoch, shard) group is one output file, written in hash
    order, so a training job streams shard files sequentially and sees an
    epoch-specific order without ever materializing a global sort.

    The result proves the order, not just membership: ``order_sum`` is the
    position-weighted checksum SUM(pos * (doc_id + 1)) inside each shard —
    any transposition changes it — and ``head_doc`` pins the first element.
    A property test (tests/test_text_ops.py) asserts epoch 0 and epoch 1
    produce different permutations while each remains a full permutation of
    the corpus.

    Scale: the hash key is map-side; the only shuffle is the partition-by-
    shard ordering — exactly the physical exchange the epoch's file write
    needs anyway, so the operator costs nothing beyond the write it plans.
    Shard count scales with corpus size (files of ~target HDFS block size);
    the per-shard window sort is the per-file writer sort."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.explode(F.array(*[lit(e) for e in _EPOCHS])).alias("epoch")
    )
    k = hash48(
        F.concat_ws(":", col("epoch").cast("string"), col("doc_id").cast("string"))
    )
    d = d.select("epoch", "doc_id", k.alias("k"), (k % _EPOCH_SHARDS).alias("shard"))
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    r = d.select("epoch", "shard", "doc_id", F.row_number().over(w).alias("pos"))
    return (
        r.groupBy("epoch", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(col("pos").cast("long") * (col("doc_id") + 1)).alias("order_sum"),
            F.min(F.when(col("pos") == 1, col("doc_id"))).alias("head_doc"),
        )
        .orderBy("epoch", "shard")
    )


_EPOCH_SHUFFLE_SQL = f"""
WITH e AS (
  SELECT doc_id, epoch
  FROM documents CROSS JOIN (VALUES (0), (1)) AS ep(epoch)),
k AS (
  SELECT epoch, doc_id,
         {hash48_sql("CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
           AS k
  FROM e),
r AS (
  SELECT epoch, k % {_EPOCH_SHARDS} AS shard, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY epoch, k % {_EPOCH_SHARDS} ORDER BY k, doc_id) AS pos
  FROM k)
SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos * (doc_id + 1)) AS BIGINT) AS order_sum,
       MIN(CASE WHEN pos = 1 THEN doc_id END) AS head_doc
FROM r GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q203: bigram backoff LM perplexity filter -------------------------------

_BG_TRAIN_MOD = 4  # docs with doc_id % 4 == 0 train the LM; everything scores
_BG_BACKOFF = 0.4  # stupid-backoff discount (Brants et al. 2007)
_BG_FLAG = -6.0  # docs with mean bigram log-score below this are flagged


def bigram_backoff_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram log-score under a stupid-backoff LM trained
    on a held-in corpus slice (doc_id % 4 == 0) — the CCNet/Wenzek-style
    perplexity filter: train a small LM on trusted text, score the crawl,
    and low-likelihood docs are the junk tail. Unlike q125 (unigram over
    the WHOLE corpus, where every token is by construction in-vocabulary),
    the held-out split makes backoff and OOV paths real:

        score(w2 | w1) = ln(bc / uc1)                   bigram seen in train
                       = ln((0.4 * coalesce(uc2, 1)) / T)   else (backoff;
                                                         OOV w2 counts as 1)

    Determinism: each bigram TYPE's score quantizes to integer micro-units
    (round(ln * 1e6)), so the per-doc accumulation is an exact integer sum
    under any fold order; floats reappear only in the final division.

    Scale: LM counts are one (w1, w2) groupBy over the train slice with
    map-side partial agg; scoring joins per-doc bigram counts to the LM on
    the well-distributed bigram key. The two unigram legs are vocab-
    dimension (AQE broadcasts when they fit); the total is a 1-row
    broadcast. Nothing all-pairs, nothing driver-side.

    Returns (doc_id, source, n_bg, doc_logp) for docs with >= 1 bigram."""
    return bigram_logprob_from_tokens(
        docs.select("doc_id", "source", tokens("text").alias("w"))
    )


def bigram_logprob_from_tokens(tok: DataFrame) -> DataFrame:
    """bigram_backoff_logprob over a pre-tokenized (doc_id, source, w)
    table — the form the composed pipeline (q89b) uses so the corpus
    tokenizes once. Same LM, same held-in slice rule (doc_id % 4 == 0 of
    the INPUT table), same integer-micro quantization."""
    w = col("w")
    m = F.greatest(F.size(w) - 1, lit(0))
    pairs = F.zip_with(
        F.slice(w, 1, m),
        F.slice(w, 2, m),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = tok.select("doc_id", "source", F.explode(pairs).alias("b")).select(
        "doc_id", "source", col("b.w1").alias("w1"), col("b.w2").alias("w2")
    )
    tf = bg.groupBy("doc_id", "source", "w1", "w2").agg(F.count("*").alias("c"))
    train = tok.where(col("doc_id") % _BG_TRAIN_MOD == 0)
    uni = (
        train.select(F.explode(w).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("uc"))
    )
    total = uni.agg(F.sum("uc").cast("double").alias("t"))
    bgc = (
        bg.where(col("doc_id") % _BG_TRAIN_MOD == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("bc"))
    )
    u1 = uni.select(col("term").alias("w1"), col("uc").alias("uc1"))
    u2 = uni.select(col("term").alias("w2"), col("uc").alias("uc2"))
    scored = (
        tf.join(bgc, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            "c",
            F.round(
                lit(1e6)
                * F.when(col("bc").isNotNull(), F.log(col("bc") / col("uc1"))).otherwise(
                    F.log((lit(_BG_BACKOFF) * F.coalesce(col("uc2"), lit(1))) / col("t"))
                )
            )
            .cast("long")
            .alias("llmicro"),
        )
    )
    return scored.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_bg"),
        (F.sum(col("c") * col("llmicro")) / F.sum("c") / lit(1e6)).alias("doc_logp"),
    )


def q203_bigram_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of the stupid-backoff bigram LM score (see
    bigram_backoff_logprob): mean/min doc log-score and the count of docs
    below the junk threshold — the decision table a CCNet-style perplexity
    gate reads."""
    docs = spread(load(spark, sf_dir, "documents"))
    d = bigram_backoff_logprob(docs)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("doc_logp"), 4).alias("avg_logp"),
            F.round(F.min("doc_logp"), 4).alias("min_logp"),
            F.sum((col("doc_logp") < _BG_FLAG).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


def bigram_doc_logp_cte_sql(src: str) -> str:
    """duckdb CTE chain ending in ``doc_{src}(doc_id, source, n_bg,
    doc_logp)`` — the stupid-backoff bigram-LM doc scores — from a
    pre-tokenized table ``src`` holding (doc_id, source, w). Shared by the
    q203 oracle and the composed pipeline (q89b) oracle; the held-in
    slice rule (doc_id % _BG_TRAIN_MOD == 0 of the INPUT table) rides
    along."""
    return f"""
bg0_{src} AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(w)),
                               i -> {{'w1': w[i], 'w2': w[i + 1]}})) AS b
  FROM {src}),
bg_{src} AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bg0_{src}),
tf_{src} AS (SELECT doc_id, source, w1, w2, COUNT(*) AS c
             FROM bg_{src} GROUP BY 1, 2, 3, 4),
uni_{src} AS (
  SELECT term, COUNT(*) AS uc
  FROM (SELECT unnest(w) AS term FROM {src} WHERE doc_id % {_BG_TRAIN_MOD} = 0)
  GROUP BY 1),
tot_{src} AS (SELECT CAST(SUM(uc) AS DOUBLE) AS t FROM uni_{src}),
bgc_{src} AS (SELECT w1, w2, COUNT(*) AS bc FROM bg_{src}
              WHERE doc_id % {_BG_TRAIN_MOD} = 0 GROUP BY 1, 2),
sc_{src} AS (
  SELECT f.doc_id, f.source, f.c,
         CAST(ROUND(1e6 * CASE
             WHEN b.bc IS NOT NULL THEN ln(b.bc / u1.uc)
             ELSE ln((CAST({_BG_BACKOFF} AS DOUBLE) * COALESCE(u2.uc, 1)) / t.t)
           END) AS BIGINT) AS llmicro
  FROM tf_{src} f
  LEFT JOIN bgc_{src} b ON f.w1 = b.w1 AND f.w2 = b.w2
  LEFT JOIN uni_{src} u1 ON f.w1 = u1.term
  LEFT JOIN uni_{src} u2 ON f.w2 = u2.term
  CROSS JOIN tot_{src} t),
doc_{src} AS (
  SELECT doc_id, source, SUM(c) AS n_bg,
         SUM(c * llmicro) / SUM(c) / 1e6 AS doc_logp
  FROM sc_{src} GROUP BY 1, 2)"""


_BIGRAM_LM_SQL = f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
{bigram_doc_logp_cte_sql('tok')}
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(doc_logp), 4) AS avg_logp,
       ROUND(MIN(doc_logp), 4) AS min_logp,
       CAST(SUM(CASE WHEN doc_logp < {_BG_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM doc_tok GROUP BY 1 ORDER BY 1
"""


# --- q204: temperature-scaled source mixing ----------------------------------

_MIX_ALPHA = 0.3  # mT5 / multilingual-T5 sampling temperature


def q204_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the mT5/XLM-R alpha-sampling rule):
    source s with p_s of the corpus tokens trains with weight
    q_s ∝ p_s^alpha (alpha = 0.3), which up-samples small sources and
    down-samples dominant ones. The complement of q196's water-filling
    (max-min fair under caps) — this is the power-law reweight production
    multilingual mixes actually use. Output: each source's natural share,
    its mixture weight, the token allocation for a one-corpus-sized budget,
    and the implied epoch count over that source.

    Determinism: weights quantize to integer micro-units via
    round(1e6 * exp(alpha * ln(n_tok))) — exp/ln composed identically in
    both engines — so the normalizing sum is an exact integer sum; the
    final ratios are single divisions of integers.

    Scale: ONE map-side-partial groupBy(source) absorbs the corpus; all
    math after runs on the |sources| dimension table against a 1-row
    broadcast total. Zero additional shuffles."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokens("text")).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("n_tokens"))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(lit(1e6) * F.exp(lit(_MIX_ALPHA) * F.log(col("n_tokens"))))
            .cast("long")
            .alias("w_micro"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tok"), F.sum("w_micro").alias("tot_w")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(col("n_tokens") / col("tot_tok"), 4).alias("p_share"),
            F.round(col("w_micro") / col("tot_w"), 4).alias("mix_weight"),
            F.floor((col("tot_tok") * col("w_micro")) / col("tot_w"))
            .cast("long")
            .alias("alloc_tokens"),
            F.round(
                F.floor((col("tot_tok") * col("w_micro")) / col("tot_w"))
                / col("n_tokens"),
                4,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


_TEMPERATURE_MIX_SQL = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({tokens_sql()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
wt AS (
  SELECT source, n_docs, n_tokens,
         CAST(ROUND(1e6 * exp({_MIX_ALPHA} * ln(n_tokens))) AS BIGINT) AS w_micro
  FROM per),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tok,
               CAST(SUM(w_micro) AS BIGINT) AS tot_w FROM wt)
SELECT source, n_docs, n_tokens,
       ROUND(n_tokens / CAST(tot_tok AS DOUBLE), 4) AS p_share,
       ROUND(w_micro / CAST(tot_w AS DOUBLE), 4) AS mix_weight,
       CAST(FLOOR((tot_tok * w_micro) / CAST(tot_w AS DOUBLE)) AS BIGINT)
         AS alloc_tokens,
       ROUND(FLOOR((tot_tok * w_micro) / CAST(tot_w AS DOUBLE)) / n_tokens, 4)
         AS epochs
FROM wt CROSS JOIN tot ORDER BY source
"""


# --- q205: Gopher-rule quality funnel ---------------------------------------
# Rae et al. 2021 (Gopher, appendix A1.1): a battery of cheap structural
# document rules. Reported as a FUNNEL — each rule's independent fire count
# (which rule does the work) plus the cumulative survivor count when the
# rules apply in their fixed order (what actually reaches training). The
# rule SHAPES are Gopher's (word-count bounds, mean-word-length bounds,
# stopword floor, repetition ceiling, alphabetic floor); the numeric bounds
# are calibrated to the fixture's distribution so every rule discriminates.
# Complements q31 (scalar heuristic score), q148 (adaptive band), q201
# (model-based classifier): this is the RULE-BATTERY stage with per-rule
# attribution, the form ablation studies need.

_GOPHER_BOUNDS = {
    "wc_lo": 30, "wc_hi": 90,    # word count ∈ [30, 90]
    "mwl_lo": 4.2, "mwl_hi": 4.8,  # mean token length (chars) ∈ [4.2, 4.8]
    "stop_min": 2,               # ≥ 2 English marker stopwords
    "uniq_min": 0.35,            # distinct-token ratio ≥ 0.35 (repetition)
    "alpha_min": 0.8,            # ≥ 80% purely-alphabetic tokens
}

_GOPHER_NAMES = (
    "R1_word_count", "R2_mean_word_len", "R3_stopwords",
    "R4_repetition", "R5_alphabetic",
)


def q205_gopher_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule funnel: one row per rule with the independent
    fail count, the cumulative survivor count after rules 1..k, and the
    cumulative pass rate.

    Scale: pure map-side flag computation (tokenize once, five boolean
    expressions) + ONE all-to-one aggregation of ten partial sums —
    no shuffle of document content, no second corpus pass. The funnel
    pivot runs on the 1-row aggregate."""
    b = _GOPHER_BOUNDS
    docs = load(spark, sf_dir, "documents")
    w = tokens("text")
    d = docs.select(
        F.size(w).alias("n"),
        (F.aggregate(w, lit(0).cast("long"), lambda a, t: a + F.length(t))
         / F.size(w)).alias("mwl"),
        _marker_count(w, "en").alias("stopw"),
        (F.size(F.array_distinct(w)) / F.size(w)).alias("uniq"),
        (F.size(F.filter(w, lambda t: t.rlike("^[a-z]+$"))) / F.size(w)).alias("alpha"),
    )
    p1 = (col("n") >= b["wc_lo"]) & (col("n") <= b["wc_hi"])
    p2 = (col("mwl") >= b["mwl_lo"]) & (col("mwl") <= b["mwl_hi"])
    p3 = col("stopw") >= b["stop_min"]
    p4 = col("uniq") >= b["uniq_min"]
    p5 = col("alpha") >= b["alpha_min"]
    preds = (p1, p2, p3, p4, p5)
    aggs = [F.count("*").alias("total")]
    cum = lit(True)
    for i, p in enumerate(preds, start=1):
        cum = cum & p
        aggs.append(F.sum((~p).cast("long")).alias(f"f{i}"))
        aggs.append(F.sum(cum.cast("long")).alias(f"c{i}"))
    stack_args = ", ".join(
        f"{i}, '{name}', f{i}, c{i}" for i, name in enumerate(_GOPHER_NAMES, start=1)
    )
    return (
        d.agg(*aggs)
        .select(
            F.expr(f"stack(5, {stack_args}) AS (rule_id, rule, n_fail, n_pass_cum)"),
            col("total"),
        )
        .select(
            "rule_id", "rule", "n_fail", "n_pass_cum",
            F.round(col("n_pass_cum") / col("total"), 4).alias("pass_rate"),
        )
        .orderBy("rule_id")
    )


def _gopher_funnel_sql() -> str:
    b = _GOPHER_BOUNDS
    flags = f"""
flags AS (
  SELECT len(w) AS n,
         CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT)
           / CAST(len(w) AS DOUBLE) AS mwl,
         {_marker_count_sql('en')} AS stopw,
         len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS uniq,
         len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$')))
           / CAST(len(w) AS DOUBLE) AS alpha
  FROM (SELECT {tokens_sql()} AS w FROM documents) t),
preds AS (
  SELECT (n >= {b['wc_lo']} AND n <= {b['wc_hi']}) AS p1,
         (mwl >= {b['mwl_lo']} AND mwl <= {b['mwl_hi']}) AS p2,
         (stopw >= {b['stop_min']}) AS p3,
         (uniq >= {b['uniq_min']}) AS p4,
         (alpha >= {b['alpha_min']}) AS p5
  FROM flags),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         {", ".join(
             f"CAST(SUM(CASE WHEN NOT p{i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}, "
             f"CAST(SUM(CASE WHEN {' AND '.join(f'p{j}' for j in range(1, i + 1))} "
             f"THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
             for i in range(1, 6)
         )}
  FROM preds)"""
    rows = " UNION ALL ".join(
        f"SELECT {i} AS rule_id, '{name}' AS rule, f{i} AS n_fail, "
        f"c{i} AS n_pass_cum, ROUND(c{i} / CAST(total AS DOUBLE), 4) AS pass_rate "
        f"FROM agg"
        for i, name in enumerate(_GOPHER_NAMES, start=1)
    )
    return f"WITH {flags.strip()}\n{rows} ORDER BY rule_id"


# --- q208: T5 span-corruption masking stats ----------------------------------
# Raffel et al. 2020 (T5): pre-training corrupts ~15% of tokens in spans of
# mean length 3. The masking here is DETERMINISTIC — position i starts a
# span of _SPAN_LEN tokens iff hash48(doc_id:i) ≡ 0 (mod _SPAN_EVERY) — so
# the realized noise mask is a pure function of the data (reproducible
# across engines, workers, and reruns; the q143/q202 seedless discipline).
# Overlapping spans union; spans clip at the document end.

_SPAN_EVERY = 7  # start odds 1/7 → ≈ 3/7 ≈ 43% pre-overlap, ~35% realized
_SPAN_LEN = 3    # T5's mean span length


def q208_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source span-corruption accounting: span starts, masked tokens,
    realized corruption rate, and mean realized span length (< _SPAN_LEN
    exactly when spans overlap or clip — the statistic T5 tuning watches).

    Scale: pure map-side — the per-doc START-FLAG array is hashed ONCE
    (one md5 per token position, the dominant cost of this query), then
    padded with two leading falses so position j is masked iff
    padded[j+3] | padded[j+2] | padded[j+1] — pure array lookups, no
    re-hashing — then one map-side-partial groupBy(source). Zero extra
    shuffles; integer counts end to end, so every ratio is one
    exact-integer division."""
    docs = load(spark, sf_dir, "documents")

    # sequence(0, n-1) with n=0 would yield the DESCENDING [0, -1] (two
    # phantom positions) — guard the empty-doc case to an empty array, as
    # the oracle's range(0, 0) does.
    def positions(n):
        return F.when(n > 0, F.sequence(lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )

    flags = F.transform(
        positions(F.size(tokens("text"))),
        lambda s: F.pmod(
            hash48(F.concat_ws(":", col("doc_id"), s)), lit(_SPAN_EVERY)
        )
        == 0,
    )
    d = (
        docs.select(
            "source",
            F.size(tokens("text")).alias("n"),
            # two leading falses: element_at is 1-indexed, so the j-1/j-2
            # lookbacks at the doc start read the padding, never index 0
            F.concat(F.array(lit(False), lit(False)), flags).alias("p"),
        )
        .select(
            "source",
            "n",
            F.size(F.filter(col("p"), lambda x: x)).alias("n_spans"),
            F.size(
                F.filter(
                    positions(col("n")),
                    lambda j: F.element_at(col("p"), j + 3)
                    | F.element_at(col("p"), j + 2)
                    | F.element_at(col("p"), j + 1),
                )
            ).alias("n_masked"),
        )
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_masked").alias("n_masked"),
        )
        .select(
            "source", "n_docs", "n_tokens", "n_spans", "n_masked",
            F.round(col("n_masked") / col("n_tokens"), 4).alias("corruption_rate"),
            F.round(col("n_masked") / col("n_spans"), 4).alias("mean_span_len"),
        )
        .orderBy("source")
    )


def _span_corruption_sql() -> str:
    # Mirrors the Spark side's one-hash-per-position form: the start-flag
    # list is built once, padded with two leading falses, and the mask test
    # is pure list indexing (1-based in duckdb, as element_at is in Spark).
    h = hash48_sql("CAST(t.doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
    return f"""
WITH t AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
f AS (
  SELECT source, len(w) AS n,
         [false, false] || list_transform(range(0, len(w)),
                                          j -> {h} % {_SPAN_EVERY} = 0) AS p
  FROM t),
d AS (
  SELECT source, n,
         len(list_filter(p, x -> x)) AS n_spans,
         len(list_filter(range(0, n),
             j -> p[j + 3] OR p[j + 2] OR p[j + 1])) AS n_masked
  FROM f)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(n_spans) AS BIGINT) AS n_spans,
       CAST(SUM(n_masked) AS BIGINT) AS n_masked,
       ROUND(SUM(n_masked) / CAST(SUM(n) AS DOUBLE), 4) AS corruption_rate,
       ROUND(SUM(n_masked) / CAST(SUM(n_spans) AS DOUBLE), 4) AS mean_span_len
FROM d GROUP BY source ORDER BY source
"""


# --- q211: DSIR importance resampling ----------------------------------------
# Xie et al. NeurIPS'23 (Data Selection via Importance Resampling): score
# every raw document by how much more likely its hashed n-gram features are
# under a TARGET distribution than under the raw-corpus distribution, and
# keep the top fraction. This is the third rung of model-based selection
# here and distinct from both neighbors: q201 ships FIXED literal weights
# (a pre-trained classifier), q203 trains a generative bigram LM and
# thresholds perplexity — DSIR derives per-bucket log-ratio weights FROM
# the data (target slice vs whole corpus) and RANKS docs for a budget
# rather than gating on an absolute threshold. Target = the doc_id % 4
# held-in slice (q203's trusted-slice convention).

_DSIR_DIM = 4096       # hashed gram buckets (hashing trick; q201's space)
_DSIR_KEEP_DIV = 4     # keep the global top 1/#, i.e. 25% of docs


def q211_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DSIR selection accounting: docs scored by mean hashed
    uni+bigram importance log-ratio (micro-quantized per bucket via the
    knife-proof FLOOR(x·1e6 + 0.5) form, exact integer doc sums, one
    FLOOR division to the per-doc weight), globally ranked, top 25% kept.

    Scale: bucket stats are ONE groupBy over the exploded grams fused for
    raw and target counts (the λ table is _DSIR_DIM rows — broadcast);
    scoring is a second pass over the cached token projection with a
    broadcast join; the global top-K uses the range-partitioned rank
    (operators/ranking.py), never a single-task window or a driver
    collect of the corpus. Docs with zero grams are unscorable and never
    selected (both engines drop them in the gram explode)."""
    from .ranking import _ranked_with_total

    docs = spread(load(spark, sf_dir, "documents"))
    tok = persist_tracked(
        docs.select("doc_id", "source", tokens("text").alias("w"))
    )
    gb = tok.select(
        "doc_id", "source", F.explode(F.expr(_clf_grams_expr())).alias("g")
    ).select("doc_id", "source", (hash48(col("g")) % _DSIR_DIM).alias("b"))
    counts = gb.groupBy("b").agg(
        F.count("*").alias("rc"),
        F.sum((col("doc_id") % 4 == 0).cast("long")).alias("tc"),
    )
    tots = counts.agg(
        F.sum("rc").alias("rr"), F.sum("tc").alias("tt")
    )
    lam = counts.crossJoin(F.broadcast(tots)).select(
        "b",
        F.floor(
            lit(1e6)
            * (
                F.log((col("tc") + 1) / (col("tt") + lit(_DSIR_DIM)).cast("double"))
                - F.log((col("rc") + 1) / (col("rr") + lit(_DSIR_DIM)).cast("double"))
            )
            + lit(0.5)
        )
        .cast("long")
        .alias("lam"),
    )
    sc = (
        gb.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_g"), F.sum("lam").alias("ws"))
        .select(
            "doc_id",
            "source",
            F.floor(col("ws") / col("n_g").cast("double")).cast("long").alias("w_q"),
        )
    )
    ranked, n = _ranked_with_total(
        sc, [col("w_q").desc(), col("doc_id").asc()], "_r"
    )
    k = -(-n // _DSIR_KEEP_DIV)
    sel = ranked.select(
        "source", "w_q", (col("_r") <= k).cast("long").alias("selected")
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("selected").alias("n_selected"),
            F.round(F.sum("w_q") / F.count("*") / lit(1e6), 4).alias("avg_w"),
            F.round(
                F.sum(F.when(col("selected") == 1, col("w_q")))
                / F.sum("selected")
                / lit(1e6),
                4,
            ).alias("avg_w_sel"),
        )
        .orderBy("source")
    )


def _dsir_sql() -> str:
    grams = (
        "flatten([w, list_transform(range(1, len(w)),"
        " i -> w[i] || ' ' || w[i + 1])])"
    )
    return f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
g AS (SELECT doc_id, source, unnest({grams}) AS g FROM tok),
gb AS (SELECT doc_id, source, {hash48_sql('g')} % {_DSIR_DIM} AS b FROM g),
counts AS (
  SELECT b, COUNT(*) AS rc,
         SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS tc
  FROM gb GROUP BY 1),
tots AS (SELECT CAST(SUM(rc) AS BIGINT) AS rr, CAST(SUM(tc) AS BIGINT) AS tt
         FROM counts),
lam AS (
  SELECT b,
         CAST(FLOOR(1e6 * (ln((tc + 1) / CAST(tt + {_DSIR_DIM} AS DOUBLE))
                           - ln((rc + 1) / CAST(rr + {_DSIR_DIM} AS DOUBLE)))
                    + 0.5) AS BIGINT) AS lam
  FROM counts CROSS JOIN tots),
sc AS (
  SELECT doc_id, source, COUNT(*) AS n_g, CAST(SUM(lam) AS BIGINT) AS ws
  FROM gb JOIN lam USING (b) GROUP BY 1, 2),
wq AS (SELECT doc_id, source,
              CAST(FLOOR(ws / CAST(n_g AS DOUBLE)) AS BIGINT) AS w_q
       FROM sc),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY w_q DESC, doc_id) AS r FROM wq),
nn AS (SELECT CAST(CEIL(COUNT(*) / {_DSIR_KEEP_DIV}.0) AS BIGINT) AS k FROM wq),
sel AS (SELECT source, w_q,
               CASE WHEN r <= nn.k THEN 1 ELSE 0 END AS selected
        FROM rk CROSS JOIN nn)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(selected) AS BIGINT) AS n_selected,
       ROUND(SUM(w_q) / COUNT(*) / 1e6, 4) AS avg_w,
       ROUND(SUM(CASE WHEN selected = 1 THEN w_q END)
             / SUM(selected) / 1e6, 4) AS avg_w_sel
FROM sel GROUP BY 1 ORDER BY 1
"""


# --- q213: negative-sampling candidate table ---------------------------------
# Mikolov et al. NIPS'13 (word2vec): negative examples draw from the
# smoothed unigram distribution P(w) ∝ count(w)^0.75 — the candidate-
# sampling table every embedding/contrastive training job materializes
# before training. The 0.75 exponent up-weights the tail exactly the way
# q204's alpha does for SOURCES; this is the TERM-level member. Output is
# the top-_NS_TOP terms of the table with their sampling probabilities,
# the cumulative boundary each occupies (the inverse-CDF lookup a sampler
# binary-searches), and how much of the total sampling mass the table
# covers.

_NS_TOP = 64
_NS_ALPHA = 0.75


def q213_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE token-count groupBy (map-side partial) absorbs the
    corpus; weights are w = FLOOR(1e6·exp(0.75·ln c) + 0.5) — exact
    integers, knife-proof; the top-64 selection is TakeOrdered (count
    desc, term — never a global sort); the cumulative window runs over
    the 64-row result (dimension-class); the mass total is a 1-row
    broadcast."""
    docs = spread(load(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .select(
            "term",
            "cnt",
            F.floor(lit(1e6) * F.exp(lit(_NS_ALPHA) * F.log(col("cnt"))) + lit(0.5))
            .cast("long")
            .alias("w"),
        )
    )
    tot = tf.agg(F.sum("w").alias("tot_w"))
    top = tf.orderBy(col("cnt").desc(), col("term").asc()).limit(_NS_TOP)
    win = Window.orderBy(col("cnt").desc(), col("term").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number()
            .over(Window.orderBy(col("cnt").desc(), col("term").asc()))
            .cast("long")
            .alias("rank"),
            "term",
            "cnt",
            F.round(col("w") / col("tot_w"), 6).alias("prob"),
            F.round(F.sum("w").over(win) / col("tot_w"), 6).alias("cum_prob"),
        )
        .orderBy("rank")
    )


_NEG_SAMPLING_SQL = f"""
WITH tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(FLOOR(1e6 * exp({_NS_ALPHA} * ln(COUNT(*))) + 0.5) AS BIGINT) AS w
  FROM (SELECT unnest({tokens_sql()}) AS term FROM documents)
  GROUP BY 1),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot_w FROM tf),
top AS (SELECT * FROM tf ORDER BY cnt DESC, term LIMIT {_NS_TOP})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
       term, cnt,
       ROUND(w / CAST(tot_w AS DOUBLE), 6) AS prob,
       ROUND(CAST(SUM(w) OVER (ORDER BY cnt DESC, term
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) / CAST(tot_w AS DOUBLE), 6) AS cum_prob
FROM top CROSS JOIN tot
ORDER BY rank
"""


# --- q214: selection operating curve -----------------------------------------
# The ablation every model-based filter needs BEFORE anyone picks a
# threshold: sweep the classifier's own score deciles and report, at each
# cut, how many documents/tokens survive and at what mean quality — the
# quality-vs-quantity operating curve (how DCLM/FineWeb-Edu calibrate
# "keep top X%" against the token budget). Complements q201 (the score),
# q148 (one corpus-calibrated percentile cut), and q211 (one fixed 25%
# budget): this is the whole frontier, not one point on it.


def q214_selection_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per score-decile (1 = best) cumulative selection accounting.

    Determinism: scores are q201's exact integer micro-logits; deciles
    come from ``scalable_ntile`` (pinned ≡ ANSI NTILE); every cumulative
    column is an integer sum with a single rounded division at the end.

    Scale: one map-side scoring pass (zero shuffle), ONE range exchange
    for the global decile rank (the scalable-rank machinery — never a
    single-task window over the corpus), a 10-row rollup, and a 10-row
    cumulative window (dimension-class)."""
    from .ranking import scalable_ntile

    docs = spread(load(spark, sf_dir, "documents"))
    d = clf_scored_docs(docs).select("doc_id", "n_tok", "lm")
    dec = scalable_ntile(d, [col("lm").desc(), col("doc_id").asc()], 10, "decile")
    per = dec.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tok"),
        F.min("lm").alias("thr"),
        F.sum("lm").alias("slm"),
    )
    cw = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(F.sum("n_tok").alias("tt"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            col("decile").cast("long").alias("decile"),
            F.round(col("thr") / lit(1e6), 4).alias("thr_logit"),
            F.sum("n_docs").over(cw).alias("cum_docs"),
            F.sum("n_tok").over(cw).alias("cum_tokens"),
            F.round(F.sum("n_tok").over(cw) / col("tt"), 4).alias("cum_tok_share"),
            F.round(
                F.sum("slm").over(cw) / F.sum("n_docs").over(cw) / lit(1e6), 4
            ).alias("cum_avg_logit"),
        )
        .orderBy("decile")
    )


def _selection_curve_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
{clf_scored_cte_sql('tok')},
d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, lm,
             NTILE(10) OVER (ORDER BY lm DESC, doc_id) AS decile
      FROM scored_tok),
per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tok,
               MIN(lm) AS thr, CAST(SUM(lm) AS BIGINT) AS slm
        FROM d GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tt FROM per)
SELECT CAST(decile AS BIGINT) AS decile,
       ROUND(thr / 1e6, 4) AS thr_logit,
       CAST(SUM(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
       CAST(SUM(n_tok) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
       ROUND(SUM(n_tok) OVER (ORDER BY decile) / CAST(tt AS DOUBLE), 4)
         AS cum_tok_share,
       ROUND(SUM(slm) OVER (ORDER BY decile)
             / CAST(SUM(n_docs) OVER (ORDER BY decile) AS DOUBLE) / 1e6, 4)
         AS cum_avg_logit
FROM per CROSS JOIN tot
ORDER BY decile
"""


# --- q215: data-constrained scaling audit ------------------------------------
# Muennighoff et al. NeurIPS'23 ("Scaling Data-Constrained Language
# Models"): repeating data decays in value — the R-th epoch of a source
# is worth less than the first, with fitted decay constant R* ≈ 15.
# Given a token budget split uniformly across sources, this audit reports
# each source's epoch count and EFFECTIVE token yield
# D' = U·(1 + R*·(1 − e^{−(R−1)/R*})) — the repetition-discounted data
# the budget actually buys — and the share of budget lost to repetition.
# The budget-side complement of q204 (which sets the mix) and q196
# (which caps it): this prices the repeats the mix implies.

_DCS_RSTAR = 15      # fitted repeat half-value constant (paper's R_D* ≈ 15.4)
_DCS_BUDGET_X = 2    # audit budget = 2x the corpus's total tokens


def q215_data_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source effective-token audit under a uniform 2x-corpus budget.

    Determinism: token counts are exact integers; epochs is one double
    division; the effective-token formula quantizes once via the
    knife-proof FLOOR(x + 0.5) (exp/ln composed identically in both
    engines — the q204 convention).

    Scale: ONE map-side-partial groupBy(source) absorbs the corpus;
    everything after is |sources|-row dimension math against a 1-row
    broadcast total. Zero additional shuffles."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokens("text")).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("u_tok"))
    )
    tot = per.agg(
        F.sum("u_tok").alias("tot_tok"), F.count("*").alias("n_src")
    )
    alloc = F.floor(lit(_DCS_BUDGET_X) * col("tot_tok") / col("n_src")).cast("long")
    r = alloc / col("u_tok")
    eff_rep = F.floor(
        col("u_tok")
        * (
            lit(1.0)
            + lit(float(_DCS_RSTAR))
            * (lit(1.0) - F.exp(-(r - lit(1.0)) / lit(float(_DCS_RSTAR))))
        )
        + lit(0.5)
    ).cast("long")
    eff = F.when(r <= 1.0, alloc).otherwise(F.least(eff_rep, alloc))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "u_tok",
            alloc.alias("alloc_tokens"),
            F.round(r, 4).alias("epochs"),
            eff.alias("eff_tokens"),
            F.round(eff / alloc, 4).alias("budget_yield"),
        )
        .orderBy("source")
    )


_DATA_CONSTRAINED_SQL = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({tokens_sql()})) AS BIGINT) AS u_tok
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(u_tok) AS BIGINT) AS tot_tok,
               CAST(COUNT(*) AS BIGINT) AS n_src FROM per),
j AS (
  SELECT source, n_docs, u_tok,
         CAST(FLOOR({_DCS_BUDGET_X} * tot_tok / CAST(n_src AS DOUBLE)) AS BIGINT)
           AS alloc
  FROM per CROSS JOIN tot),
k AS (
  SELECT *, alloc / CAST(u_tok AS DOUBLE) AS r,
         CAST(FLOOR(u_tok * (1.0 + {_DCS_RSTAR}.0
                * (1.0 - exp(-(alloc / CAST(u_tok AS DOUBLE) - 1.0)
                             / {_DCS_RSTAR}.0))) + 0.5) AS BIGINT) AS eff_rep
  FROM j)
SELECT source, n_docs, u_tok, alloc AS alloc_tokens,
       ROUND(r, 4) AS epochs,
       CASE WHEN r <= 1.0 THEN alloc
            ELSE LEAST(eff_rep, alloc) END AS eff_tokens,
       ROUND(CASE WHEN r <= 1.0 THEN alloc
                  ELSE LEAST(eff_rep, alloc) END / CAST(alloc AS DOUBLE), 4)
         AS budget_yield
FROM k ORDER BY source
"""


# --- q221: DoReMi domain-reweighting step (Xie et al. NeurIPS'23) ------------
# Domain Reweighting with Minimax Optimization, made deterministic and
# oracle-checkable: one exponentiated-gradient step over per-domain excess
# loss. The "reference model" is a Laplace-smoothed unigram LM trained on
# the held-in doc_id % 4 == 0 slice (the q211 reference-slice convention);
# the "proxy" is the same LM trained on the full corpus. A domain's excess
# loss λ_i = max(0, NLL_ref(i) − NLL_full(i)) — how much worse the
# reference-data model explains the domain than a model that saw it —
# and the step is α_i ∝ share_i · exp(η·λ_i), then smoothed with the
# uniform distribution: α'_i = (1−c)·α_i/Σα + c/K (the paper's u-mixing).

_DRM_ETA = 1.0  # EG step size
_DRM_SMOOTH = 0.2  # uniform smoothing mass c


def _two_lm_tables(counts: DataFrame):
    """(ll, tot) from any (…, term, c, cref) count table: per-term
    milli-nat log-probs under TWO Laplace-smoothed unigram LMs sharing
    one union vocab — lf trained on the full corpus, lr on the held-in
    reference slice (cref = the term's count within doc_id % 4 == 0).
    Shared by q221 (domain-level DoReMi) and q224 (doc-level RHO).
    Milli (not micro) so downstream per-GROUP integer sums Σ c·ll hold
    int64 to ~6e14 tokens (the q212 ADVICE overflow class)."""
    # NOT persisted (round 12, measured): the totals aggregate and the ll
    # projection are independent subtrees, so vocab computes twice — but a
    # persisted copy is VOCABULARY-sized, and at the 100× smoke (disjoint
    # per-replica vocabularies) materializing it under the unified pool
    # took q221 from 4.4 s to 17.3 s scaled — the q219 cache-pressure
    # class. The duplicate groupBy is map-side-combined and cheap; the
    # K-row ps persist in _doremi_finish is where the real re-computation
    # was.
    vocab = counts.groupBy("term").agg(
        F.sum("c").alias("tc"), F.sum("cref").alias("tr")
    )
    tot = vocab.agg(
        F.count("*").alias("v"),
        F.sum("tc").alias("t_full"),
        F.sum("tr").alias("t_ref"),
    )
    ll = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(F.log((col("tc") + lit(1.0)) / (col("t_full") + col("v"))) * 1e3)
        .cast("long")
        .alias("lf"),
        F.round(F.log((col("tr") + lit(1.0)) / (col("t_ref") + col("v"))) * 1e3)
        .cast("long")
        .alias("lr"),
    )
    return ll, tot


def q221_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, nll_full, nll_ref, excess, base_share,
    doremi_weight): one DoReMi EG step over the per-source corpus.

    Determinism: both LMs share one Laplace smoothing over the UNION
    vocab, ln(p) quantizes to integer MILLI-nats per term (milli, not the
    unigram_logprob micro, because the accumulation here is per-SOURCE:
    Σ c·ll_milli stays inside int64 up to ~6e14 tokens per source —
    micro-units would wrap at ~6e11, inside 100 TB territory, the q212
    ADVICE class); per-source sums are exact integers; the only floats
    are the final divisions, one exp (present in both engines — the
    q215 convention) and the weight, which re-quantizes to micro before
    normalizing so the K-row normalizer is an integer sum under any fold
    order.

    Scale: ONE corpus-sized groupBy(source, term); the term-level LM
    table aggregates FROM it (second shuffle is vocabulary-sized); the
    scoring join shuffles on term; everything after is |sources|-row
    dimension math. No collects beyond the 1-row totals."""
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", "source", F.explode(tokens("text")).alias("term"))
    st = persist_tracked(
        tok.groupBy("source", "term").agg(
            F.count("*").alias("c"),
            F.sum((col("doc_id") % 4 == 0).cast("long")).alias("cref"),
        )
    )
    ll, _ = _two_lm_tables(st)
    ps = (
        st.join(ll, "term")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(col("c") * col("lf")).alias("sf"),
            F.sum(col("c") * col("lr")).alias("sr"),
        )
    )
    return _doremi_finish(ps)


def _doremi_finish(ps: DataFrame) -> DataFrame:
    """The EG-step dimension math from the per-source integer sums
    ps(source, n_tok, sf, sr) — shared by batch q221 and the streaming
    twin q225 (whose drained state is the SAME integer sums, additive
    under any micro-batching). t_full re-derives as Σ n_tok: every token
    joins the union-vocab LM table, so it equals the corpus total."""
    from ..cache import persist_tracked

    # ps is |sources| rows but COMPUTING it is the corpus scoring join;
    # the totals/normalizer broadcast legs below are independent subtrees,
    # so an unpersisted ps re-ran that join per leg (q221 launched 45
    # Spark jobs per run at sf0.1 — the AQE stages of four re-evaluations).
    ps = persist_tracked(ps)
    tot = ps.agg(F.sum("n_tok").alias("t_full"))
    d = ps.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        "t_full",
        (-col("sf") / col("n_tok") / lit(1e3)).alias("nll_f"),
        (-col("sr") / col("n_tok") / lit(1e3)).alias("nll_r"),
    )
    w = d.select(
        "source",
        "n_tok",
        "nll_f",
        "nll_r",
        (col("n_tok") / col("t_full")).alias("share"),
        F.greatest(col("nll_r") - col("nll_f"), lit(0.0)).alias("excess"),
    ).select(
        "*",
        F.round(
            col("share") * F.exp(lit(_DRM_ETA) * col("excess")) * 1e6
        )
        .cast("long")
        .alias("w_micro"),
    )
    norm = w.agg(F.sum("w_micro").alias("norm"), F.count("*").alias("k"))
    return (
        w.crossJoin(F.broadcast(norm))
        .select(
            "source",
            col("n_tok").alias("n_tokens"),
            F.round("nll_f", 4).alias("nll_full"),
            F.round("nll_r", 4).alias("nll_ref"),
            F.round("excess", 4).alias("excess"),
            F.round("share", 4).alias("base_share"),
            F.round(
                lit(1.0 - _DRM_SMOOTH) * col("w_micro") / col("norm")
                + lit(_DRM_SMOOTH) / col("k"),
                4,
            ).alias("doremi_weight"),
        )
        .orderBy("source")
    )


# --- q235: DoReMi trajectory (multi-step EG, the full published loop) --------

_TRAJ_T = 3  # EG steps in the trajectory


def q235_doremi_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, source, alpha): the full DoReMi loop — T=3 exponentiated-
    gradient steps over the fixed per-source excess losses, not just
    q221's single step. The published algorithm iterates EG against the
    proxy's evolving losses; with the two-LM excess held fixed (the
    monitoring setting q225 streams), iteration shows the MIXTURE's
    convergence path: weights concentrate on high-excess domains
    geometrically while the smoothing floor c/K keeps every domain
    sampled — step 0 is the base share, step t the weights a t-round
    reweighting run would hand the sampler.

    Determinism: the corpus-derived quantities (excess from the milli-nat
    integer sums) are q221's; the iterate is re-quantized to integer
    MICRO-weights after every step (a_micro → round(a·e^(η·excess)) →
    integer normalizer → round back to micro), so all engines walk one
    integer sequence (the q54b/q131/q201b/q218 iterative convention
    applied to a dimension-side recurrence).

    Scale: the corpus is absorbed by q221's one groupBy(source, term);
    every EG step is |sources|-row dimension math (two tiny aggregates
    per step) — T is a constant, the iteration never re-reads data."""
    docs = spread(load(spark, sf_dir, "documents"))
    st = (
        docs.select("doc_id", "source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(
            F.count("*").alias("c"),
            F.sum((col("doc_id") % 4 == 0).cast("long")).alias("cref"),
        )
    )
    ll, _ = _two_lm_tables(st)
    ps = (
        st.join(ll, "term")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(col("c") * col("lf")).alias("sf"),
            F.sum(col("c") * col("lr")).alias("sr"),
        )
    )
    tot = ps.agg(F.sum("n_tok").alias("t_full"))
    nll_f = -col("sf") / col("n_tok") / lit(1e3)
    nll_r = -col("sr") / col("n_tok") / lit(1e3)
    base = persist_tracked(
        ps.crossJoin(F.broadcast(tot)).select(
            "source",
            F.greatest(nll_r - nll_f, lit(0.0)).alias("excess"),
            F.round(lit(1e6) * col("n_tok") / col("t_full"))
            .cast("long")
            .alias("a"),
        )
    )
    steps = [base.select(lit(0).alias("step"), "source", "a")]
    cur = base
    for t in range(1, _TRAJ_T + 1):
        w = cur.select(
            "source",
            "excess",
            F.round(col("a") * F.exp(lit(_DRM_ETA) * col("excess")))
            .cast("long")
            .alias("wq"),
        )
        nm = w.agg(F.sum("wq").alias("nm"), F.count("*").alias("k"))
        cur = persist_tracked(
            w.crossJoin(F.broadcast(nm)).select(
                "source",
                "excess",
                F.round(
                    lit((1.0 - _DRM_SMOOTH) * 1e6) * col("wq") / col("nm")
                    + lit(_DRM_SMOOTH * 1e6) / col("k")
                )
                .cast("long")
                .alias("a"),
            )
        )
        steps.append(cur.select(lit(t).alias("step"), "source", "a"))
    out = steps[0]
    for s in steps[1:]:
        out = out.union(s)
    return out.select(
        "step", "source", F.round(col("a") / lit(1e6), 4).alias("alpha")
    ).orderBy("step", "source")


def _doremi_trajectory_sql() -> str:
    """Unrolled-step mirror of q235 (the q218/q201b unrolled-CTE
    convention): q221's LM CTEs, then T EG steps of integer-quantized
    dimension math."""
    base = f"""
st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cref
  FROM (SELECT doc_id, source, unnest({tokens_sql()}) AS term FROM documents)
  GROUP BY 1, 2),
vocab AS (SELECT term, CAST(SUM(c) AS BIGINT) AS tc,
                 CAST(SUM(cref) AS BIGINT) AS tr
          FROM st GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(tc) AS BIGINT) AS t_full,
               CAST(SUM(tr) AS BIGINT) AS t_ref
        FROM vocab),
ll AS (SELECT term,
              CAST(ROUND(LN((tc + 1.0) / (t_full + v)) * 1e3) AS BIGINT) AS lf,
              CAST(ROUND(LN((tr + 1.0) / (t_ref + v)) * 1e3) AS BIGINT) AS lr
       FROM vocab CROSS JOIN tot),
ps AS (SELECT s.source, CAST(SUM(s.c) AS BIGINT) AS n_tok,
              CAST(SUM(s.c * l.lf) AS BIGINT) AS sf,
              CAST(SUM(s.c * l.lr) AS BIGINT) AS sr
       FROM st s JOIN ll l USING (term) GROUP BY s.source),
b AS (
  SELECT source,
         GREATEST((-sr / n_tok / 1e3) - (-sf / n_tok / 1e3), 0.0) AS excess,
         CAST(ROUND(1e6 * n_tok / t_full) AS BIGINT) AS a
  FROM ps CROSS JOIN (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_full FROM ps) t)"""
    parts = [base]
    selects = ["SELECT 0 AS step, source, ROUND(a / 1e6, 4) AS alpha FROM b"]
    prev = "b"
    for t in range(1, _TRAJ_T + 1):
        parts.append(
            f"""w{t} AS (
  SELECT source, excess,
         CAST(ROUND(a * EXP({_DRM_ETA} * excess)) AS BIGINT) AS wq
  FROM {prev})"""
        )
        parts.append(
            f"""n{t} AS (SELECT CAST(SUM(wq) AS BIGINT) AS nm,
              CAST(COUNT(*) AS BIGINT) AS k FROM w{t})"""
        )
        parts.append(
            f"""a{t} AS (
  SELECT source, excess,
         CAST(ROUND({(1.0 - _DRM_SMOOTH) * 1e6} * wq / nm
                    + {_DRM_SMOOTH * 1e6} / k) AS BIGINT) AS a
  FROM w{t} CROSS JOIN n{t})"""
        )
        selects.append(
            f"SELECT {t} AS step, source, ROUND(a / 1e6, 4) AS alpha FROM a{t}"
        )
        prev = f"a{t}"
    return (
        "WITH "
        + ",".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY step, source"
    )


# --- q236: mixture loss prediction (what the transfer matrix is FOR) ---------


def q236_mixture_loss_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mixture, eval_source, pred_nats): predicted per-domain validation
    loss under candidate sampling mixtures — the linear mixing-law read
    of q234's transfer matrix (L̂_e(α) = Σ_s α_s · CE(e, s), the
    first-order estimate data-mixing-laws fit refinements to): for each
    candidate α — uniform, token-proportional, and q221's one-step
    DoReMi weights — the α-weighted row of the K×K matrix says what
    each domain's loss would look like if training sampled by α. The
    consumer step that turns the q234 measurement + q221 reweighting
    into a decision ("does DoReMi's mixture actually lower predicted
    loss on the domains we care about").

    Determinism: both inputs arrive as 4-decimal-rounded doubles that
    are IDENTICAL across engines (each passed its own differential
    gate), re-quantized here to integers (×1e4) so every prediction is
    ONE integer dot product — no float fold order anywhere.

    Scale: composes two already-bounded results — the K×K matrix and
    the K-row weight table; this operator itself is K²-bounded math. It
    re-runs the q221 + q234 corpus passes (the q89b composition
    convention — oracle-gated, not headlined)."""
    m = q234_domain_transfer_matrix(spark, sf_dir).select(
        "train_source",
        "eval_source",
        F.round(col("ce") * lit(1e4)).cast("long").alias("ce4"),
    )
    w = q221_doremi_step(spark, sf_dir)
    k = w.agg(F.count("*").alias("k"))
    mixes = w.crossJoin(F.broadcast(k)).select(
        "source",
        F.round(lit(10000.0) / col("k")).cast("long").alias("uniform"),
        F.round(col("base_share") * lit(1e4)).cast("long").alias("token_share"),
        F.round(col("doremi_weight") * lit(1e4)).cast("long").alias("doremi"),
    )
    a = mixes.select(
        "source",
        F.explode(
            F.map_from_arrays(
                F.array(lit("uniform"), lit("token_share"), lit("doremi")),
                F.array(col("uniform"), col("token_share"), col("doremi")),
            )
        ).alias("mixture", "a4"),
    )
    return (
        m.join(a, m.train_source == a.source)
        .groupBy("mixture", "eval_source")
        .agg(
            F.round(F.sum(col("a4") * col("ce4")) / lit(1e8), 4).alias(
                "pred_nats"
            )
        )
        .orderBy("mixture", "eval_source")
    )


def _mixture_predict_sql() -> str:
    return f"""
WITH m AS (
  SELECT train_source, eval_source,
         CAST(ROUND(ce * 1e4) AS BIGINT) AS ce4
  FROM ({_TRANSFER_SQL})),
w AS (SELECT * FROM ({_DOREMI_SQL})),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM w),
mixes AS (
  SELECT source,
         CAST(ROUND(10000.0 / k) AS BIGINT) AS uniform,
         CAST(ROUND(base_share * 1e4) AS BIGINT) AS token_share,
         CAST(ROUND(doremi_weight * 1e4) AS BIGINT) AS doremi
  FROM w CROSS JOIN kk),
a AS (
  SELECT source, 'uniform' AS mixture, uniform AS a4 FROM mixes
  UNION ALL
  SELECT source, 'token_share', token_share FROM mixes
  UNION ALL
  SELECT source, 'doremi', doremi FROM mixes)
SELECT a.mixture, m.eval_source,
       ROUND(SUM(a.a4 * m.ce4) / 1e8, 4) AS pred_nats
FROM m JOIN a ON m.train_source = a.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q223: curriculum ordering (difficulty-staged epoch order) ---------------

_CURR_K = 10  # difficulty stages (deciles of the unigram-LM score)


def q223_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy→hard curriculum epoch order — the layout step between
    selection (q201/q211/q224) and packing/sharding (q82/q202): stage =
    NTILE(10) of the unigram-LM doc score (high log-prob = typical/easy
    first), order WITHIN a stage is the deterministic hash shuffle
    (q202's convention — curriculum stages the difficulty, not the
    content order). Output proves the order: per stage, n_docs,
    first/last global position (contiguity: last−first+1 = n — every
    easy doc precedes every harder one), a transposition-sensitive order
    checksum, and the stage's mean score (monotone non-increasing by
    construction). The checksum is SUM(hash48(pos ':' doc_id) mod
    1000003) — q202's pos·(doc_id+1) form overflows int64 once
    pos·doc_id·rows passes ~9e18 (the 100× smoke FAILED with ANSI
    ARITHMETIC_OVERFLOW on it — offset replica doc_ids × global
    positions); the bounded-term form holds to ~9e12 rows and stays
    order-sensitive because the position is baked into each hash.

    Scale: the LM score is q125's machinery (two groupBys); the stage
    assignment is MAP-SIDE against the 9 broadcast NTILE boundary tuples
    picked by the bucketed rank-pick (``exact_value_at_ranks`` with
    tie_col — the round-8 VERDICT reclaim: a row's NTILE stage is
    1 + #{boundaries it sorts strictly after}, and because the order is
    total the boundary TUPLE (doc_logp, doc_id) decides ties exactly as
    the rank would); only the global position pays a range exchange —
    ONE, down from the former two (scalable_ntile + rank).

    Round-9 A/B (script in git history, results asserted equal, steady
    median of 3): one-JVM local[32] does NOT reward the reclaim — 2.86 s
    vs 2.21 s at sf0.1, 10.5 vs 9.3 at 100× — because (a) the LM build
    dominates q223's cost at every measured scale (12.9 of 12.5 s total
    at 100× is upstream of the exchanges) and (b) locally a shuffle is a
    memcpy, so the removed exchange saves about what the pick's three
    cache-local scans + two extra driver round trips cost. The
    one-exchange form is registered anyway: the trade is cache-local
    reads + O(1) driver jobs FOR a full-table NETWORK exchange, which is
    the right direction on a real cluster, and the gap already narrows
    1.30×→1.13× from 1× to 100×. Never a single-task window."""
    from .ranking import _ranked_with_total, exact_value_at_ranks

    docs = spread(load(spark, sf_dir, "documents"))
    scored = persist_tracked(unigram_logprob(docs).select("doc_id", "doc_logp"))

    # NTILE(k) boundary ranks: the first (n mod k) stages hold ceil(n/k)
    # rows, the rest floor(n/k) — B_i = last global rank of stage i.
    def _boundaries(n: int) -> list[int]:
        q, rem = divmod(n, _CURR_K)
        bs = [
            i * (q + 1) if i <= rem else rem * (q + 1) + (i - rem) * q
            for i in range(1, _CURR_K)
        ]
        return [b for b in bs if 1 <= b <= n]

    # Order is (doc_logp DESC, doc_id ASC): negate the score so the pick's
    # ascending (value, tie) order matches; double negation is exact.
    neg = scored.select(
        (-col("doc_logp")).alias("_negl"), col("doc_id"), col("doc_logp")
    )
    _, bnds = exact_value_at_ranks(
        neg, "_negl", _boundaries, tie_col="doc_id", what="documents"
    )
    stage = lit(1)
    for _, (nl, bid) in sorted(bnds.items()):
        after = (col("_negl") > lit(float(nl))) | (
            (col("_negl") == lit(float(nl))) & (col("doc_id") > lit(int(bid)))
        )
        stage = stage + after.cast("int")
    d = neg.select(
        "doc_id",
        stage.cast("int").alias("stage"),
        "doc_logp",
        hash48(col("doc_id").cast("string")).alias("k"),
    )
    ranked, _ = _ranked_with_total(
        d, [col("stage").asc(), col("k").asc(), col("doc_id").asc()], "pos"
    )
    return (
        ranked.groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum(
                hash48(
                    F.concat_ws(
                        ":", col("pos").cast("string"), col("doc_id").cast("string")
                    )
                )
                % lit(1000003)
            ).alias("order_sum"),
            F.round(F.avg("doc_logp"), 4).alias("avg_logp"),
        )
        .orderBy("stage")
    )


_CURRICULUM_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql()}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
vocab AS (SELECT term, COUNT(*) AS tc FROM tok GROUP BY 1),
total AS (SELECT CAST(SUM(tc) AS DOUBLE) AS total FROM vocab),
ll AS (SELECT term, CAST(ROUND(ln(tc / total) * 1e6) AS BIGINT) AS llmicro
       FROM vocab, total),
doc AS (
  SELECT doc_id, SUM(c * llmicro) / SUM(c) / 1e6 AS doc_logp
  FROM tf JOIN ll USING (term) GROUP BY 1),
b AS (SELECT doc_id, doc_logp,
             NTILE({_CURR_K}) OVER (ORDER BY doc_logp DESC, doc_id) AS stage
      FROM doc),
kk AS (SELECT doc_id, stage, doc_logp,
              {hash48_sql("CAST(doc_id AS VARCHAR)")} AS k
       FROM b),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY stage, k, doc_id) AS pos FROM kk)
SELECT CAST(stage AS INT) AS stage, COUNT(*) AS n_docs,
       MIN(pos) AS first_pos, MAX(pos) AS last_pos,
       CAST(SUM({hash48_sql("CAST(pos AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
                % 1000003) AS BIGINT) AS order_sum,
       ROUND(AVG(doc_logp), 4) AS avg_logp
FROM r GROUP BY stage ORDER BY stage
"""


# --- q224: RHO-loss learnability selection (Mindermann et al. ICML'22) -------
# Reducible-holdout-loss selection at the document level: keep the docs the
# corpus-trained model finds HARD but the held-out reference model does NOT
# — high (NLL_full − NLL_ref) means learnable signal, not irreducible noise
# (noise is hard for both) and not already-learned (easy for both). The
# doc-level complement of q221's domain-level reweighting, built on the
# same two Laplace-smoothed unigram LMs, and the third member of the
# selection ladder (q201 fixed classifier / q211 DSIR n-gram importance /
# this, model-loss-difference).

_RHO_KEEP_DEN = 4  # keep the top 1/4 of docs by learnability score


def q224_rho_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_selected, sel_rate, avg_rho_sel, kept_tokens):
    per-source accounting of the global top-25% RHO selection.

    Determinism: per-doc score rho = mean per-token (lf − lr) computed
    from exact integer milli-nat sums, re-quantized to ONE integer
    micro-nat score per doc (rho_u) — the RANKING key is an integer, so
    the global top-N/4 cut is tie-stable by (rho_u desc, doc_id) in both
    engines, and the per-source AVG over rho_u is an exact integer sum
    before its single division.

    Scale: one corpus (doc, term) groupBy + the vocabulary-sized LM
    join (the q221 passes); the global top-N/4 cut needs NO rank at all —
    the bucketed rank-pick (``exact_value_at_ranks`` with tie_col)
    fetches the exact boundary tuple (rho_u, doc_id) at rank ceil(n/4)
    and the kept flag is a MAP-SIDE comparison against it (kept ⟺ the
    row sorts at-or-before the boundary in the total order), replacing
    the former range exchange (the q223/q150/q210 reclaim family). Round-9
    A/B (script in git history): exactly EVEN at 100× (6.80 s both)
    and 0.46 s behind at sf0.1 — the driver-round-trip floor — while
    carrying ZERO full-table exchanges where the old plan had one; on a
    cluster that trade is network traffic for O(1) driver jobs. Never a
    single-task window."""
    from .ranking import exact_value_at_ranks

    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", "source", F.explode(tokens("text")).alias("term"))
    tf = persist_tracked(
        tok.groupBy("doc_id", "source", "term").agg(
            F.count("*").alias("c"),
            F.sum((col("doc_id") % 4 == 0).cast("long")).alias("cref"),
        )
    )
    ll, _ = _two_lm_tables(tf)
    doc = (
        tf.join(ll, "term")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(col("c") * (col("lf") - col("lr"))).alias("s"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.round(col("s") * lit(1000.0) / col("n_tok")).cast("long").alias("rho_u"),
        )
    )
    doc = persist_tracked(doc)
    neg = doc.withColumn("_negr", -col("rho_u"))
    n, bnds = exact_value_at_ranks(
        neg,
        "_negr",
        lambda nn: [(nn + _RHO_KEEP_DEN - 1) // _RHO_KEEP_DEN],
        tie_col="doc_id",
        what="documents",
    )
    (negb, idb) = bnds[(n + _RHO_KEEP_DEN - 1) // _RHO_KEEP_DEN]
    kept = (col("_negr") < lit(int(negb))) | (
        (col("_negr") == lit(int(negb))) & (col("doc_id") <= lit(int(idb)))
    )
    sel = neg.withColumn("kept", kept.cast("long"))
    return (
        sel.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_selected"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("sel_rate"),
            F.round(
                F.avg(F.when(col("kept") == 1, col("rho_u"))) / lit(1e6), 4
            ).alias("avg_rho_sel"),
            F.sum(F.when(col("kept") == 1, col("n_tok")).otherwise(lit(0))).alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )


_RHO_SQL = f"""
WITH tok AS (SELECT doc_id, source, unnest({tokens_sql()}) AS term
             FROM documents),
tf AS (SELECT doc_id, source, term, COUNT(*) AS c,
              CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS cref
       FROM tok GROUP BY doc_id, source, term),
vocab AS (SELECT term, CAST(SUM(c) AS BIGINT) AS tc,
                 CAST(SUM(cref) AS BIGINT) AS tr
          FROM tf GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(tc) AS BIGINT) AS t_full,
               CAST(SUM(tr) AS BIGINT) AS t_ref
        FROM vocab),
ll AS (SELECT term,
              CAST(ROUND(LN((tc + 1.0) / (t_full + v)) * 1e3) AS BIGINT) AS lf,
              CAST(ROUND(LN((tr + 1.0) / (t_ref + v)) * 1e3) AS BIGINT) AS lr
       FROM vocab CROSS JOIN tot),
doc AS (SELECT t.doc_id, t.source, CAST(SUM(t.c) AS BIGINT) AS n_tok,
               CAST(SUM(t.c * (l.lf - l.lr)) AS BIGINT) AS s
        FROM tf t JOIN ll l USING (term) GROUP BY t.doc_id, t.source),
scored AS (SELECT doc_id, source, n_tok,
                  CAST(ROUND(s * 1000.0 / n_tok) AS BIGINT) AS rho_u
           FROM doc),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rho_u DESC, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM scored),
sel AS (SELECT *, CASE WHEN rnk <= (n + {_RHO_KEEP_DEN - 1}) // {_RHO_KEEP_DEN}
                       THEN 1 ELSE 0 END AS kept
        FROM r)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_selected,
       ROUND(CAST(SUM(kept) AS BIGINT) / CAST(COUNT(*) AS BIGINT), 4) AS sel_rate,
       ROUND(AVG(CASE WHEN kept = 1 THEN rho_u END) / 1e6, 4) AS avg_rho_sel,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM sel GROUP BY source ORDER BY source
"""


_DOREMI_SQL = f"""
WITH tok AS (SELECT doc_id, source, unnest({tokens_sql()}) AS term
             FROM documents),
st AS (SELECT source, term, COUNT(*) AS c,
              CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS cref
       FROM tok GROUP BY source, term),
vocab AS (SELECT term, CAST(SUM(c) AS BIGINT) AS tc,
                 CAST(SUM(cref) AS BIGINT) AS tr
          FROM st GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(tc) AS BIGINT) AS t_full,
               CAST(SUM(tr) AS BIGINT) AS t_ref
        FROM vocab),
ll AS (SELECT term,
              CAST(ROUND(LN((tc + 1.0) / (t_full + v)) * 1e3) AS BIGINT) AS lf,
              CAST(ROUND(LN((tr + 1.0) / (t_ref + v)) * 1e3) AS BIGINT) AS lr
       FROM vocab CROSS JOIN tot),
ps AS (SELECT s.source, CAST(SUM(s.c) AS BIGINT) AS n_tok,
              CAST(SUM(s.c * l.lf) AS BIGINT) AS sf,
              CAST(SUM(s.c * l.lr) AS BIGINT) AS sr
       FROM st s JOIN ll l USING (term) GROUP BY s.source),
d AS (SELECT source, n_tok, t_full,
             -sf / n_tok / 1e3 AS nll_f,
             -sr / n_tok / 1e3 AS nll_r
      FROM ps CROSS JOIN (SELECT t_full FROM tot) t),
w AS (SELECT source, n_tok, nll_f, nll_r,
             n_tok * 1.0 / t_full AS share,
             GREATEST(nll_r - nll_f, 0.0) AS excess
      FROM d),
wm AS (SELECT *,
              CAST(ROUND(share * EXP({_DRM_ETA} * excess) * 1e6) AS BIGINT)
                AS w_micro
       FROM w),
nm AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS norm,
              CAST(COUNT(*) AS BIGINT) AS k FROM wm)
SELECT source, n_tok AS n_tokens,
       ROUND(nll_f, 4) AS nll_full,
       ROUND(nll_r, 4) AS nll_ref,
       ROUND(excess, 4) AS excess,
       ROUND(share, 4) AS base_share,
       ROUND({1.0 - _DRM_SMOOTH} * w_micro / norm + {_DRM_SMOOTH} / k, 4)
         AS doremi_weight
FROM wm CROSS JOIN nm ORDER BY source
"""


# --- q228: concat-and-split sequence packing --------------------------------
# The modern pretraining layout (GPT-style): all selected documents are
# concatenated in a deterministic order and the token stream is cut every C
# tokens into fixed-length training sequences — documents STRADDLE sequence
# boundaries (fragments at the edges), unlike q82's next-fit shard packing
# where a document never splits. q82 answers "which docs share a shard";
# this answers "which fixed windows does each doc land in", which is what
# an indexed packed dataset (sample i = tokens [i*C, (i+1)*C)) needs.

_PACK_C = 512  # context length (tokens) of one packed training sequence
_PACK_SHARDS = 8  # deterministic hash shards (q202's writer convention)


def q228_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, n_docs, total_tokens, n_seqs, n_straddle, fill_m,
    assign_sum): per-shard audit of the concat-and-split packed layout.
    Order within a shard is the deterministic hash order
    (hash48('pack:' doc_id), doc_id) — reproducible forever, epoch-style;
    a doc's first/last sequence ids derive from the running token count
    BEFORE it (seq = floor(offset / C)), n_straddle counts docs cut by a
    sequence boundary, fill_m the last-window padding loss in milli, and
    assign_sum pins every (doc → first-sequence) assignment via a hash48
    checksum — any reordering or off-by-one-token shift changes it.

    Scale: the token count is map-side; the only exchange is the
    per-shard hash partition + writer sort the packed-file write pays
    anyway (q202's convention — shard count scales with corpus so each
    shard is one output file of bounded size). The running sum is a
    frame-bounded window per shard, never global. Zero-token docs are
    excluded (they occupy no window positions)."""
    docs = spread(load(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    ).where(col("n_tok") > 0)
    k = hash48(F.concat_ws(":", lit("pack"), col("doc_id").cast("string")))
    d = t.select(
        "doc_id", "n_tok", k.alias("k"), (k % _PACK_SHARDS).alias("shard")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("cum0", F.coalesce(F.sum("n_tok").over(w), lit(0)))
    d = d.select(
        "shard",
        "doc_id",
        "n_tok",
        F.floor(col("cum0") / lit(float(_PACK_C))).alias("seq_first"),
        F.floor((col("cum0") + col("n_tok") - 1) / lit(float(_PACK_C))).alias(
            "seq_last"
        ),
    )
    n_seqs = F.floor(
        (F.sum("n_tok") + lit(_PACK_C - 1)) / lit(float(_PACK_C))
    ).cast("long")
    return (
        d.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            n_seqs.alias("n_seqs"),
            F.sum((col("seq_last") > col("seq_first")).cast("long")).alias(
                "n_straddle"
            ),
            F.round(
                F.sum("n_tok").cast("double")
                * lit(1000.0)
                / (n_seqs * lit(_PACK_C)),
                3,
            ).alias("fill_m"),
            F.sum(
                hash48(
                    F.concat_ws(
                        ":",
                        col("doc_id").cast("string"),
                        col("seq_first").cast("string"),
                    )
                )
                % lit(1000003)
            ).alias("assign_sum"),
        )
        .orderBy("shard")
    )


_SEQUENCE_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({tokens_sql()}) AS BIGINT) AS n_tok FROM documents),
d AS (
  SELECT doc_id, n_tok,
         {hash48_sql("'pack:' || CAST(doc_id AS VARCHAR)")} AS k
  FROM t WHERE n_tok > 0),
s AS (SELECT doc_id, n_tok, k, k % {_PACK_SHARDS} AS shard FROM d),
c AS (
  SELECT shard, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM s),
f AS (
  SELECT shard, doc_id, n_tok,
         CAST(FLOOR(cum0 / {_PACK_C}.0) AS BIGINT) AS seq_first,
         CAST(FLOOR((cum0 + n_tok - 1) / {_PACK_C}.0) AS BIGINT) AS seq_last
  FROM c)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(FLOOR((SUM(n_tok) + {_PACK_C - 1}) / {_PACK_C}.0) AS BIGINT)
         AS n_seqs,
       CAST(SUM(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddle,
       ROUND(CAST(SUM(n_tok) AS DOUBLE) * 1000.0
             / (FLOOR((SUM(n_tok) + {_PACK_C - 1}) / {_PACK_C}.0)
                * {_PACK_C}), 3) AS fill_m,
       CAST(SUM({hash48_sql(
           "CAST(doc_id AS VARCHAR) || ':' || CAST(seq_first AS VARCHAR)"
       )} % 1000003) AS BIGINT) AS assign_sum
FROM f GROUP BY 1 ORDER BY 1
"""


# --- q234: domain transfer matrix (K×K cross-source perplexity) --------------


def q234_domain_transfer_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(train_source, eval_source, n_tok, ce): the K×K domain-interaction
    matrix behind principled data mixing (DoGE, data-mixing-laws): a
    Laplace-smoothed unigram LM per TRAIN source, evaluated as
    cross-entropy (nats/token) on every EVAL source's token stream. The
    diagonal is in-domain perplexity; off-diagonal cells say which
    domains transfer — the measurement that upgrades q221's single
    reference slice to a full domain-by-domain picture, and q146's
    source-vs-corpus KL to source-vs-source.

    Determinism: the q221 discipline — all LMs share ONE union vocab,
    ln(p) quantizes to integer MILLI-nats per (train, term), so each
    cell's numerator is an exact integer sum; unseen terms contribute
    the train LM's Laplace floor times an exact integer token count
    (n_eval − seen), never a per-term NULL path.

    Scale: ONE corpus-sized groupBy(source, term) absorbs the corpus;
    the LM table, floors, and the scoring join are all vocabulary- or
    K-bounded from there (the (eval, term, c) × (train, term, lp) join
    is on term over two ≤K·|vocab| aggregates — corpus size never
    re-enters); the K² output assembles from |sources|-row tables."""
    docs = spread(load(spark, sf_dir, "documents"))
    st = persist_tracked(
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    vtot = st.select(F.count_distinct("term").alias("v"))
    tots = st.groupBy("source").agg(F.sum("c").alias("n"))
    lm = (
        st.join(tots, "source")
        .crossJoin(F.broadcast(vtot))
        .select(
            col("source").alias("ts"),
            "term",
            F.round(
                F.log((col("c") + lit(1.0)) / (col("n") + col("v"))) * 1e3
            )
            .cast("long")
            .alias("lp"),
        )
    )
    floors = tots.crossJoin(F.broadcast(vtot)).select(
        col("source").alias("ts"),
        F.round(F.log(lit(1.0) / (col("n") + col("v"))) * 1e3)
        .cast("long")
        .alias("fl"),
    )
    j = (
        st.select(col("source").alias("es"), "term", "c")
        .join(lm, "term")
        .groupBy("es", "ts")
        .agg(
            F.sum("c").alias("seen_tok"),
            F.sum(col("c") * col("lp")).alias("lp_sum"),
        )
    )
    pairs = tots.select(
        col("source").alias("es"), col("n").alias("n_tok")
    ).crossJoin(F.broadcast(floors))
    num = F.coalesce(col("lp_sum"), lit(0)) + (
        col("n_tok") - F.coalesce(col("seen_tok"), lit(0))
    ) * col("fl")
    return (
        pairs.join(j, ["es", "ts"], "left")
        .select(
            col("ts").alias("train_source"),
            col("es").alias("eval_source"),
            "n_tok",
            F.round(-num.cast("double") / col("n_tok") / lit(1e3), 4).alias(
                "ce"
            ),
        )
        .orderBy("train_source", "eval_source")
    )


_TRANSFER_SQL = f"""
WITH st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({tokens_sql()}) AS term FROM documents)
  GROUP BY 1, 2),
vtot AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM st),
tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
lm AS (
  SELECT st.source AS ts, st.term,
         CAST(ROUND(LN((st.c + 1.0) / (t.n + vtot.v)) * 1e3) AS BIGINT) AS lp
  FROM st JOIN tots t USING (source) CROSS JOIN vtot),
floors AS (
  SELECT source AS ts,
         CAST(ROUND(LN(1.0 / (n + v)) * 1e3) AS BIGINT) AS fl
  FROM tots CROSS JOIN vtot),
j AS (
  SELECT e.source AS es, lm.ts,
         CAST(SUM(e.c) AS BIGINT) AS seen_tok,
         CAST(SUM(e.c * lm.lp) AS BIGINT) AS lp_sum
  FROM st e JOIN lm ON e.term = lm.term GROUP BY 1, 2),
pairs AS (
  SELECT t.source AS es, t.n AS n_tok, f.ts, f.fl
  FROM tots t CROSS JOIN floors f)
SELECT p.ts AS train_source, p.es AS eval_source, p.n_tok,
       ROUND(-(COALESCE(lp_sum, 0)
               + (p.n_tok - COALESCE(seen_tok, 0)) * p.fl)
             / CAST(p.n_tok AS DOUBLE) / 1e3, 4) AS ce
FROM pairs p LEFT JOIN j ON j.es = p.es AND j.ts = p.ts
ORDER BY 1, 2
"""


# --- q230: classifier calibration audit (reliability diagram + ECE) ---------


def q230_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n_docs, n_pos, mean_pred_m, emp_rate_m, gap_m): the
    reliability diagram of q201's quality classifier against the held-in
    reference labels (doc_id % 4 — the q211/q221/q201b convention), the
    audit every model-based data gate runs before trusting its threshold:
    docs bucket by predicted probability decile (pm = the q201b
    milli-sigmoid of the micro-logit, clamped to [1, 999]); each bin
    reports mean predicted vs empirical positive rate (both milli) and
    the |gap| whose n-weighted sum over bins is the expected calibration
    error. A well-calibrated gate has gap_m ≈ 0 in the bins that matter;
    q214 (the operating curve) says what a threshold KEEPS, this says
    whether the scores it thresholds MEAN anything.

    Determinism: the logit is q201's exact integer fold; the sigmoid is
    the q201b milli-quantized spelling (one EXP both engines evaluate on
    the same double); everything after is integer sums with one rounded
    division per output column.

    Scale: pure map-side scoring (zero shuffle, no UDF) into a 10-row
    groupBy — partial aggs absorb the corpus; the result is bin-bounded
    regardless of corpus size."""
    docs = spread(load(spark, sf_dir, "documents"))
    d = clf_scored_docs(docs).select("doc_id", "lm")
    pm = F.least(
        lit(999),
        F.greatest(
            lit(1),
            F.floor(
                lit(1000.0) / (lit(1.0) + F.exp(-(col("lm") / lit(1e6))))
                + lit(0.5)
            ).cast("long"),
        ),
    )
    d = d.select(
        (col("doc_id") % 4 == 0).cast("long").alias("y"), pm.alias("pm")
    ).withColumn("bin", F.floor(col("pm") / lit(100.0)).cast("int"))
    mean_pred = F.sum("pm").cast("double") / F.count("*")
    emp_rate = lit(1000.0) * F.sum("y") / F.count("*")
    return (
        d.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("y").alias("n_pos"),
            F.round(mean_pred, 3).alias("mean_pred_m"),
            F.round(emp_rate, 3).alias("emp_rate_m"),
            F.round(F.abs(mean_pred - emp_rate), 3).alias("gap_m"),
        )
        .orderBy("bin")
    )


def _calibration_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
{clf_scored_cte_sql('tok')},
p AS (
  SELECT doc_id,
         LEAST(999, GREATEST(1,
           CAST(FLOOR(1000.0 / (1.0 + EXP(-(lm / 1e6))) + 0.5) AS BIGINT)))
           AS pm,
         CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS y
  FROM scored_tok),
b AS (SELECT CAST(FLOOR(pm / 100.0) AS INTEGER) AS bin, pm, y FROM p)
SELECT bin, COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(pm) AS DOUBLE) / COUNT(*), 3) AS mean_pred_m,
       ROUND(1000.0 * SUM(y) / COUNT(*), 3) AS emp_rate_m,
       ROUND(ABS(CAST(SUM(pm) AS DOUBLE) / COUNT(*)
                 - 1000.0 * SUM(y) / COUNT(*)), 3) AS gap_m
FROM b GROUP BY 1 ORDER BY 1
"""


ORACLES = {
    "q205_gopher_funnel": _gopher_funnel_sql(),
    "q228_sequence_pack": _SEQUENCE_PACK_SQL,
    "q230_calibration_ece": _calibration_sql(),
    "q234_domain_transfer_matrix": _TRANSFER_SQL,
    "q235_doremi_trajectory": _doremi_trajectory_sql(),
    "q236_mixture_loss_predict": _mixture_predict_sql(),
    "q221_doremi_step": _DOREMI_SQL,
    "q224_rho_select": _RHO_SQL,
    "q223_curriculum_order": _CURRICULUM_SQL,
    "q208_span_corruption": _span_corruption_sql(),
    "q211_dsir_select": _dsir_sql(),
    "q213_negative_sampling": _NEG_SAMPLING_SQL,
    "q214_selection_curve": _selection_curve_sql(),
    "q215_data_constrained": _DATA_CONSTRAINED_SQL,
    "q201_classifier_score": _clf_score_sql(),
    "q201b_classifier_train": _classifier_train_sql(),
    "q202_epoch_shuffle": _EPOCH_SHUFFLE_SQL,
    "q203_bigram_backoff_lm": _BIGRAM_LM_SQL,
    "q204_temperature_mix": _TEMPERATURE_MIX_SQL,
    "q158_bm25_topk": _BM25_SQL,
    "q173_ir_eval": _IR_EVAL_SQL,
    "q243_hybrid_rrf": _HYBRID_RRF_SQL,
    "q162_bpe_encode": _bpe_encode_sql(),
    "q148_adaptive_quality_filter": f"""
WITH scored AS (
  SELECT doc_id, source, n_chars, q FROM (
    SELECT doc_id, source, n_chars, {tokens_sql('text')} AS w, text FROM documents)
  t, LATERAL (SELECT {quality_score_sql()} AS q)),
thr AS (SELECT ROUND(quantile_cont(q, 0.10), 6) AS lo,
               ROUND(quantile_cont(q, 0.95), 6) AS hi FROM scored),
kept AS (SELECT s.* , t.lo, t.hi FROM scored s CROSS JOIN thr t
         WHERE s.q >= t.lo AND s.q <= t.hi)
SELECT source, COUNT(*) AS n_kept, ROUND(AVG(q), 4) AS avg_q,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       MAX(lo) AS lo, MAX(hi) AS hi
FROM kept GROUP BY source ORDER BY source
""",
    "q146_source_drift": f"""
WITH tok AS (SELECT source, unnest({tokens_sql('text')}) AS term FROM documents),
src_tf AS (SELECT source, term, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
src_tot AS (SELECT source, SUM(cs) AS ns FROM src_tf GROUP BY 1),
corp_tf AS (SELECT term, SUM(cs) AS ct FROM src_tf GROUP BY 1),
corp_tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nc FROM corp_tf),
j AS (
  SELECT s.source, s.cs, t.ns,
         CAST(ROUND(ln(s.cs / CAST(t.ns AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(ROUND(ln(c.ct / x.nc) * 1e6) AS BIGINT) AS dll
  FROM src_tf s JOIN src_tot t USING (source)
  JOIN corp_tf c USING (term) CROSS JOIN corp_tot x)
SELECT source, CAST(MAX(ns) AS BIGINT) AS n_tokens, COUNT(*) AS vocab_size,
       ROUND(SUM(cs * dll) / CAST(MAX(ns) AS DOUBLE) / 1e6, 6) AS kl_nats
FROM j GROUP BY source ORDER BY source
""",
    "q142_inverted_index": f"""
WITH t AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents),
per AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2)
SELECT term, COUNT(*) AS df_docs, CAST(SUM(tf) AS BIGINT) AS tf_total,
       (list_sort(list(doc_id)))[1:10] AS postings
FROM per GROUP BY term ORDER BY term
""",
    "q143_weighted_sample": f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         CAST({hash48_sql("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
           / CAST(n_chars AS DOUBLE) AS pri
  FROM documents
  ORDER BY pri, doc_id LIMIT {_WS_TOP_K})
SELECT source, COUNT(*) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       MIN(doc_id) AS first_doc
FROM p GROUP BY source ORDER BY source
""",
    "q131_bpe_learn": _bpe_learn_sql(),
    "q121_pii_scrub": f"""
WITH per_doc AS (
  SELECT source,
         {_PII_HITS_SQL['email']} AS n_email,
         {_PII_HITS_SQL['ssn']} AS n_ssn,
         {_PII_HITS_SQL['phone']} AS n_phone,
         {_PII_HITS_SQL['ipv4']} AS n_ipv4,
         len(text) - len({_pii_redact_sql()}) AS pii_chars,
         {_BLOCKED_SQL} AS n_blocked
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS email_hits,
       CAST(SUM(n_ssn) AS BIGINT) AS ssn_hits,
       CAST(SUM(n_phone) AS BIGINT) AS phone_hits,
       CAST(SUM(n_ipv4) AS BIGINT) AS ipv4_hits,
       CAST(SUM(pii_chars) AS BIGINT) AS pii_chars,
       CAST(SUM(CASE WHEN n_email + n_ssn + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       CAST(SUM(n_blocked) AS BIGINT) AS blocked_tokens
FROM per_doc GROUP BY 1 ORDER BY 1
""",
    "q125_unigram_logprob": f"""
WITH tok AS (SELECT doc_id, source, unnest({tokens_sql()}) AS term FROM documents),
tf AS (SELECT doc_id, source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
vocab AS (SELECT term, COUNT(*) AS tc FROM tok GROUP BY 1),
total AS (SELECT CAST(SUM(tc) AS DOUBLE) AS total FROM vocab),
ll AS (SELECT term, CAST(ROUND(ln(tc / total) * 1e6) AS BIGINT) AS llmicro
       FROM vocab, total),
doc AS (
  SELECT doc_id, source, SUM(c) AS n_tok,
         SUM(c * llmicro) / SUM(c) / 1e6 AS doc_logp
  FROM tf JOIN ll USING (term) GROUP BY 1, 2)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(doc_logp), 4) AS avg_logprob,
       ROUND(MIN(doc_logp), 4) AS min_logprob,
       CAST(SUM(CASE WHEN doc_logp < {_LL_FLAG} THEN 1 ELSE 0 END) AS BIGINT) AS n_surprising
FROM doc GROUP BY 1 ORDER BY 1
""",
    "q126_vocab_stats": f"""
WITH tok AS (SELECT source, unnest({tokens_sql()}) AS term FROM documents),
tf AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
ranked AS (SELECT source, term, c,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, term) AS r
           FROM tf),
per_src AS (SELECT source, CAST(SUM(c) AS BIGINT) AS total_tokens,
                   COUNT(*) AS vocab_size
            FROM tf GROUP BY 1)
SELECT s.source, s.total_tokens, s.vocab_size,
       ROUND(s.vocab_size / CAST(s.total_tokens AS DOUBLE), 4) AS type_token_ratio,
       t.term AS top_term,
       ROUND(t.c / CAST(s.total_tokens AS DOUBLE), 4) AS top_share
FROM per_src s JOIN ranked t ON s.source = t.source AND t.r = 1
ORDER BY s.source
""",
    "q127_length_histogram": f"""
SELECT CAST(LEAST(FLOOR(n_chars / {_HIST_WIDTH}), {_HIST_MAX_BUCKET}) AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY 1 ORDER BY 1
""",
    "q117_doc_chunking": f"""
WITH tok AS (SELECT doc_id, {tokens_sql()} AS w FROM documents),
c AS (SELECT doc_id, w, len(w) AS n,
        CASE WHEN len(w) <= {_CHUNK_SIZE} THEN 1
             ELSE CAST(FLOOR((len(w) - {_CHUNK_SIZE} + {_CHUNK_SIZE - _CHUNK_OVERLAP} - 1)
                             / {_CHUNK_SIZE - _CHUNK_OVERLAP}) AS INT) + 1 END AS k
      FROM tok)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(w, i * {_CHUNK_SIZE - _CHUNK_OVERLAP} + 1,
                                  i * {_CHUNK_SIZE - _CHUNK_OVERLAP} + {_CHUNK_SIZE}), ' ') AS chunk_text,
       CAST(len(list_slice(w, i * {_CHUNK_SIZE - _CHUNK_OVERLAP} + 1,
                           i * {_CHUNK_SIZE - _CHUNK_OVERLAP} + {_CHUNK_SIZE})) AS BIGINT) AS n_tokens
FROM c, UNNEST(range(0, k)) AS t(i)
ORDER BY doc_id, chunk_idx
""",
    "q24_lang_stats": """
SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1 ORDER BY 1
""",
    "q34_bpe_pretokenize": f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE_SQL}'))) AS BIGINT) AS total_pretokens,
       ROUND(AVG(len(regexp_extract_all(text, '{_BPE_RE_SQL}'))), 2) AS avg_pretokens
FROM documents GROUP BY source ORDER BY source
""",
    "q30_lang_id": f"""
WITH tok AS (SELECT doc_id, {tokens_sql()} AS w FROM documents),
scored AS (
  SELECT doc_id,
         {_marker_count_sql('en')} AS n_en,
         {_marker_count_sql('es')} AS n_es,
         {_marker_count_sql('de')} AS n_de,
         {_marker_count_sql('fr')} AS n_fr
  FROM tok)
SELECT {predicted_lang_sql()} AS predicted_lang,
       COUNT(*) AS cnt
FROM scored GROUP BY 1 ORDER BY 1
""",
    "q31_quality_score": f"""
WITH tok AS (SELECT doc_id, text, {tokens_sql()} AS w FROM documents)
SELECT doc_id,
       {quality_score_sql()} AS quality
FROM tok ORDER BY doc_id
""",
    "q32_token_count": f"""
WITH tok AS (
  SELECT source,
         CAST(len({tokens_sql()}) AS BIGINT) AS ws_tokens,
         CAST(ceil(len(text) / 4.0) AS BIGINT) AS bpe_est
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(bpe_est) AS BIGINT) AS total_bpe_est
FROM tok GROUP BY 1 ORDER BY 1
""",
    "q33_fingerprint": f"""
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5({_NORM})) AS n_unique FROM documents
""",
    "q35_tfidf": f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql()}) AS term FROM documents),
s AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT term, tf, df, ROUND(tf * ln(n_docs / df), 4) AS tfidf
FROM s, n ORDER BY tfidf DESC, term LIMIT 20
""",
    "q36_bigram_counts": f"""
WITH tok AS (SELECT doc_id, {tokens_sql()} AS w FROM documents),
bg AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS bigram
       FROM tok, UNNEST(range(1, len(w))) AS t(i))
SELECT bigram, COUNT(*) AS doc_freq
FROM bg GROUP BY 1 ORDER BY doc_freq DESC, bigram LIMIT 20
""",
    "q56_hash_sample": f"""
SELECT COUNT(*) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       MIN(doc_id) AS first_doc
FROM documents
WHERE {hash48_sql("CAST(doc_id AS VARCHAR)")} % 100 < 5
""",
    "q84_repetition_stats": f"""
WITH tok AS (SELECT doc_id, source, {tokens_sql()} AS w FROM documents),
bg AS (SELECT doc_id, source, w[i] || ' ' || w[i + 1] AS bg
       FROM tok, UNNEST(range(1, len(w))) AS t(i)),
per AS (SELECT doc_id, source, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
stats AS (
  SELECT doc_id, source,
         CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
           / CAST(SUM(c) AS DOUBLE) AS dup_frac
  FROM per GROUP BY 1, 2)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(top_frac), 4) AS avg_top_frac,
       CAST(SUM(CASE WHEN dup_frac > 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
FROM stats GROUP BY 1 ORDER BY 1
""",
    "q81_corpus_mix": f"""
WITH rates AS (SELECT * FROM (VALUES {", ".join(f"({i}, {r})" for i, r in enumerate(_MIX_RATES))}) AS t(ri, rate))
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM documents JOIN rates
  ON CAST(substr(source, 4) AS INT) % {len(_MIX_RATES)} = ri
WHERE {hash48_sql("CAST(doc_id AS VARCHAR)")} % 1000 < rate
GROUP BY 1 ORDER BY 1
""",
    "q82_token_packing": f"""
WITH toks AS (
  SELECT source, doc_id, CAST(len({tokens_sql()}) AS BIGINT) AS n_tok
  FROM documents),
packed AS (
  SELECT source, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
              / {_PACK_BUDGET}.0) AS BIGINT) AS shard
  FROM toks)
SELECT source, shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
FROM packed GROUP BY 1, 2 ORDER BY 1, 2
""",
    "q57_stratified_sample": f"""
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY {hash48_sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents)
SELECT source, COUNT(*) AS n_sampled, MAX(n) AS n_total,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM ranked WHERE r <= CEIL(0.1 * n) GROUP BY 1 ORDER BY 1
""",
}

# Evaluate-once CTE pinning (see functions.materialize_ctes): the BPE
# encode oracle re-inlines the learned-vocab CTE per merge application,
# and q211's bucket-stat CTE feeds both the lambda table and the scorer.
from ..functions import materialize_ctes as _mat

for _k in ("q162_bpe_encode", "q211_dsir_select"):
    ORACLES[_k] = _mat(ORACLES[_k])

QUERIES = {
    "q205_gopher_funnel": q205_gopher_funnel,
    "q228_sequence_pack": q228_sequence_pack,
    "q230_calibration_ece": q230_calibration_ece,
    "q234_domain_transfer_matrix": q234_domain_transfer_matrix,
    "q235_doremi_trajectory": q235_doremi_trajectory,
    "q236_mixture_loss_predict": q236_mixture_loss_predict,
    "q221_doremi_step": q221_doremi_step,
    "q224_rho_select": q224_rho_select,
    "q223_curriculum_order": q223_curriculum_order,
    "q208_span_corruption": q208_span_corruption,
    "q211_dsir_select": q211_dsir_select,
    "q213_negative_sampling": q213_negative_sampling,
    "q214_selection_curve": q214_selection_curve,
    "q215_data_constrained": q215_data_constrained,
    "q201_classifier_score": q201_classifier_score,
    "q201b_classifier_train": q201b_classifier_train,
    "q202_epoch_shuffle": q202_epoch_shuffle,
    "q203_bigram_backoff_lm": q203_bigram_backoff_lm,
    "q204_temperature_mix": q204_temperature_mix,
    "q158_bm25_topk": q158_bm25_topk,
    "q173_ir_eval": q173_ir_eval,
    "q243_hybrid_rrf": q243_hybrid_rrf,
    "q117_doc_chunking": q117_doc_chunking,
    "q24_lang_stats": q24_lang_stats,
    "q30_lang_id": q30_lang_id,
    "q31_quality_score": q31_quality_score,
    "q32_token_count": q32_token_count,
    "q33_fingerprint": q33_fingerprint,
    "q34_bpe_pretokenize": q34_bpe_pretokenize,
    "q35_tfidf": q35_tfidf,
    "q36_bigram_counts": q36_bigram_counts,
    "q56_hash_sample": q56_hash_sample,
    "q57_stratified_sample": q57_stratified_sample,
    "q142_inverted_index": q142_inverted_index,
    "q143_weighted_sample": q143_weighted_sample,
    "q146_source_drift": q146_source_drift,
    "q148_adaptive_quality_filter": q148_adaptive_quality_filter,
    "q81_corpus_mix": q81_corpus_mix,
    "q82_token_packing": q82_token_packing,
    "q84_repetition_stats": q84_repetition_stats,
    "q121_pii_scrub": q121_pii_scrub,
    "q125_unigram_logprob": q125_unigram_logprob,
    "q126_vocab_stats": q126_vocab_stats,
    "q127_length_histogram": q127_length_histogram,
    "q131_bpe_learn": q131_bpe_learn,
    "q162_bpe_encode": q162_bpe_encode,
}
