"""Text-analysis operators: token counting, language ID, quality scoring,
document fingerprinting. All pure Column expressions (whole-stage codegen);
DuckDB oracle twins live in oracles.py."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..relops import salted_top_k_per_group, top_k
from .common import pos_grams, words_col
from .dedup import normalized_fingerprint
from .lsh import hash60, minhash64

# BPE-ish lexer: words, digit runs, single punctuation marks. Identical
# semantics under Java regex (Spark) and RE2 (DuckDB) — no lookaround.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Marker stopwords per language for the n-gram/stopword heuristic language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # deterministic tie-break order


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_chars)."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(words_col(t)).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)).cast("long").alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


def _marker_count(text, lang: str):
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def _pred_lang_expr(t):
    """argmax marker-word count, 'und' when all zero; ties break by
    LANG_ORDER (first language with the max count), exactly like the
    oracle's CASE chain."""
    counts = {lang: _marker_count(t, lang) for lang in LANG_ORDER}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when(counts[lang] == best, lang).otherwise(expr)
    return F.when(best == 0, "und").otherwise(expr)


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang) — marker-word heuristic language ID."""
    return docs.select(
        "doc_id", _pred_lang_expr(F.col("text")).alias("pred_lang")
    )


def _quality_exprs(t):
    """(n_tok, stop_ratio, alpha_ratio, score) Column expressions — shared
    by quality_score and clean_corpus so the composed pipeline filters on
    EXACTLY the standalone op's arithmetic."""
    n_tok = F.size(words_col(t))
    n_stop = _marker_count(t, "en")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_chars = F.length(t)
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    score = 0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_score
    return n_tok, stop_ratio, alpha_ratio, score


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, alpha_ratio, score) — a
    length/punct/stopword-ratio quality heuristic, rounded for portability."""
    n_tok, stop_ratio, alpha_ratio, score = _quality_exprs(F.col("text"))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("score"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — md5 of lower/whitespace-normalized text."""
    return docs.select(
        "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
    )


SPLIT_SEED = "split"
SPLIT_BOUNDS = (80, 90)  # train < 80 <= val < 90 <= test (of 100 buckets)


def split_bucket(id_col, seed: str = SPLIT_SEED):
    """Content-stable 0..99 bucket: pmod of the md5-prefix hash of
    '{seed}|{id}'. The engine-portable assignment primitive shared by
    train_test_split and incremental dedup (dedup.incremental_exact_dedup);
    the DuckDB twin is ('0x'||substr(md5(...),1,15))::BIGINT % 100."""
    return F.pmod(minhash64(id_col.cast("string"), seed), F.lit(100))


def train_test_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment by CONTENT-STABLE hash bucket
    — the reproducible-split primitive of a training-data pipeline.
    rand(seed)/sampleBy are partitioning- and engine-dependent (a
    repartition, an engine migration, or an incremental backfill reshuffles
    who lands where); hashing the document id gives every row a permanent
    split that survives all of them, and the same arithmetic runs in any
    engine (the DuckDB oracle reproduces it bit-for-bit via the md5-prefix
    hash). Pure projection: no shuffle, no state, safe to recompute
    anywhere. Change SPLIT_SEED to draw a fresh independent split."""
    bucket = split_bucket(F.col("doc_id"))
    lo, hi = SPLIT_BOUNDS
    split = (
        F.when(bucket < lo, "train").when(bucket < hi, "val").otherwise("test")
    )
    return docs.select(
        "doc_id",
        bucket.cast("long").alias("bucket"),
        split.alias("split"),
    )


# Per-stratum keep rates for stratified sampling, in hundredths (the
# split_bucket granularity): downsample the over-represented head language,
# keep the tail. Unlisted strata default to keep-all.
SAMPLE_RATES: dict[str, int] = {"en": 25, "zh": 50}
SAMPLE_SEED = "sample"


def _rate_expr():
    """Keep-rate-in-hundredths CASE expression over the lang column."""
    rate = F.lit(100)
    for stratum, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == stratum, r).otherwise(rate)
    return rate


def stratified_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — deterministic per-stratum downsampling, the
    data-balancing primitive of a training mix (e.g. downweight the dominant
    language without touching the tail).

    A row survives iff its content-stable hash bucket (split_bucket: the
    same md5-prefix arithmetic as the train/val/test split, different seed)
    falls under the stratum's keep-rate in hundredths. Same reproducibility
    contract as train_test_split: survivors are a pure function of
    (SAMPLE_SEED, id), so the sample is identical under repartitioning, engine
    migration, and incremental backfill — df.sample()/sampleBy() are none
    of those. 100 TB shape: projection + filter, zero shuffle; the rate
    table is a literal CASE expression, not even a broadcast."""
    bucket = split_bucket(F.col("doc_id"), SAMPLE_SEED)
    return (
        docs.select(
            "doc_id",
            "lang",
            bucket.cast("long").alias("bucket"),
            _rate_expr().alias("_rate"),
        )
        .filter(F.col("bucket") < F.col("_rate"))
        .drop("_rate")
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens, n_langs, stop_ratio, chars_per_token) —
    per-source (host/domain) corpus statistics, the "host reputation" rollup
    a crawl pipeline uses to drop low-quality domains wholesale.

    Every emitted float is a ratio of INTEGER sums (token counts, marker
    counts, char counts): integer addition is exact and order-independent,
    so the result is bitwise identical across engines and shuffle orders —
    no sorted-fold anchor needed, unlike a mean over per-row doubles whose
    summation order can flip the 6th decimal. 100 TB shape: the per-row
    token/marker counting is projection-side Column math; the exact
    countDistinct(lang) makes this Spark's standard two-level distinct-agg
    plan (partial agg on (source, lang) -> exchange -> final on source,
    both map-side combinable). At real scale swap in
    approx_count_distinct to collapse it to ONE exchange — exactness here
    is the oracle anchor, lang cardinality is tiny either way."""
    t = F.col("text")
    per_row = docs.select(
        "source",
        "lang",
        F.size(words_col(t)).cast("long").alias("toks"),
        _marker_count(t, "en").cast("long").alias("stops"),
        F.length(t).cast("long").alias("chars"),
    )
    agg = per_row.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("stops").alias("_stops"),
        F.sum("chars").alias("_chars"),
    )
    tok = F.col("n_tokens")
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        F.round(
            F.when(tok > 0, F.col("_stops") / tok).otherwise(F.lit(0.0)), 6
        ).alias("stop_ratio"),
        F.round(
            F.when(tok > 0, F.col("_chars") / tok).otherwise(F.lit(0.0)), 6
        ).alias("chars_per_token"),
    )


TFIDF_TOP_K = 3


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term, score, rank) — the top-TFIDF_TOP_K TF-IDF terms per
    document, the classic keyword/relevance scorer of a training-data
    pipeline (feature extraction, topic tagging, boilerplate detection).

    tf = term count / doc length (whitespace tokens, lowercased);
    idf = ln((N + 1) / (df + 1)) with N = corpus size, df = number of docs
    containing the term. Ranking and the emitted score both use the
    6-dp-ROUNDED score (ties broken by term asc) so the order is stable
    across engines — ln() may differ in the last ulp between libm
    implementations, and an unrounded ORDER BY would let that flip ranks.

    100 TB shape: explode -> two map-side-combinable hash aggs build the
    (doc, term) count and the per-term df; the corpus size N is a 1-row
    aggregate broadcast into the plan (never a driver-side collect); the
    doc-length re-agg and the final window both key on doc_id, so the
    rank's sort is bounded by a single document's vocabulary, never the
    corpus. The df join keys on term — a plain shuffle join that AQE
    broadcasts when the vocabulary is small.
    """
    w = words_col(F.lower(F.col("text")))
    toks = docs.select("doc_id", F.explode(w).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("len"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt") / F.col("len"))
                * F.log((F.col("n") + 1) / (F.col("df") + 1)),
                6,
            ).alias("score"),
        )
    )
    return top_k(
        scored, ["doc_id"], [F.desc("score"), F.asc("term")], TFIDF_TOP_K
    ).select(
        "doc_id", "term", "score", F.col("rk").alias("rank")
    )


def _dup_word_expr(w):
    """1 - distinct/total over a word-array column (0.0 for empty) — shared
    by repetition_scores and clean_corpus."""
    n = F.size(w)
    return F.when(n > 0, 1.0 - F.size(F.array_distinct(w)) / n).otherwise(
        F.lit(0.0)
    )


def _max_run(sorted_arr):
    """Length of the longest run of equal adjacent elements in a SORTED
    array = the count of the most frequent element. Single fold, no shuffle."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )
    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def _singleton_count(sorted_arr):
    """Number of elements that occur EXACTLY once, from a SORTED array:
    +1 when a new run starts, -1 when a run extends from length 1 to 2."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("singles")
    )
    def step(acc, x):
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same & (acc["run"] == 1), acc["singles"] - 1)
            .when(same, acc["singles"])
            .otherwise(acc["singles"] + 1)
            .alias("singles"),
        )
    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["singles"])


def repetition_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, dup_word_frac, top_bigram_frac, dup_trigram_frac) —
    Gopher-style repetition quality signals (Rae et al. 2021 §A1.1), the
    standard "remove auto-generated / boilerplate pages" filter of a
    web-text training pipeline:

    - dup_word_frac: 1 - distinct words / words (vocabulary collapse);
    - top_bigram_frac: occurrences of the most frequent word bigram over all
      bigram positions (the "for for for ..." tell);
    - dup_trigram_frac: fraction of trigram positions whose trigram occurs
      more than once (templated spans).

    The reference corpus has no line structure, so the metrics are
    word-level; all three are 6-dp rounded for engine portability.

    100 TB shape: a PURE PROJECTION — every metric is per-row array math
    (array_sort + a single O(m) fold over the sorted gram list, so
    O(m log m) per document, one md5-free pass) inside whole-stage codegen.
    No explode, no groupBy, no shuffle: the alternative exploded
    (doc, gram) hash-agg costs two shuffles over #gram-positions rows;
    this costs zero. The DuckDB oracle intentionally takes the exploded
    GROUP BY route — two independent computations agreeing is the point.
    NULL text counts as empty on BOTH sides (size(NULL) is -1 in non-ANSI
    Spark; the oracle coalesces to '' to match)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    # PROJECTION BOUNDARY (same as winnow_fingerprints): CSE does not reach
    # inside the pos_grams lambdas, so building grams over words_col(t)
    # directly re-tokenizes once per element_at; materialize the word array
    # first (multiply referenced -> CollapseProject keeps the boundary).
    staged = docs.select("doc_id", words_col(t).alias("_ws"))
    w = F.col("_ws")
    n = F.size(w)
    bg = F.array_sort(pos_grams(w, 2))
    tg = F.array_sort(pos_grams(w, 3))
    n_bg = F.size(bg)
    n_tg = F.size(tg)
    dup_word = _dup_word_expr(w)
    top_bigram = F.when(n_bg > 0, _max_run(bg) / n_bg).otherwise(F.lit(0.0))
    dup_trigram = F.when(
        n_tg > 0, (n_tg - _singleton_count(tg)) / n_tg
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(dup_word, 6).alias("dup_word_frac"),
        F.round(top_bigram, 6).alias("top_bigram_frac"),
        F.round(dup_trigram, 6).alias("dup_trigram_frac"),
    )


# Winnowing (rolling-hash) fingerprints — Schleimer/Wilkerson/Aiken, the
# MOSS scheme: hash every word-k-gram, slide a w-window over the positional
# hash sequence, keep the min of each window. Guarantees any shared run of
# >= k+w-1 words between two docs shares a fingerprint, with ~2/(w+1)
# selection density.
WINNOW_K = 4  # words per k-gram
WINNOW_W = 5  # k-gram hashes per selection window
_WINNOW_SEED = 777


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — distinct selected winnowing fingerprints per doc.

    Everything is per-row array math inside whole-stage codegen (transform/
    slice/array_min on the POSITIONAL gram sequence — duplicates kept, not
    the de-duplicated gram set): no shuffle at all until a consumer aggregates, and
    the downstream shape (explode -> groupBy fp) is the same inverted-index
    join family as the other dedup tiers. Docs shorter than k+w-1 words
    yield no fingerprints. Oracle twin: list comprehensions in oracles.py."""
    # TWO projection boundaries, not style: common-subexpression elimination
    # does not reach inside higher-order-function lambdas. (1) pos_grams'
    # lambda does WINNOW_K element_at reads of the word array per gram, so
    # building grams over words_col(text) directly re-runs split+filter per
    # read — materialize the words first. (2) referencing the `hashes`
    # expression from the per-window lambda would re-evaluate the ENTIRE md5
    # chain once per window — O(m^2) digests per doc (measured: minutes
    # instead of seconds at sf0.1) — materialize `hs` as a column so it is
    # one md5 pass per row.
    words = docs.select("doc_id", words_col(F.col("text")).alias("_ws"))
    hashes = F.transform(
        pos_grams(F.col("_ws"), WINNOW_K), lambda g: minhash64(g, _WINNOW_SEED)
    )
    staged = words.select("doc_id", hashes.alias("hs"))
    hs = F.col("hs")
    m = F.size(hs)
    starts = F.when(
        m >= WINNOW_W, F.sequence(F.lit(1), m - (WINNOW_W - 1))
    ).otherwise(F.array().cast("array<int>"))
    sel = F.array_distinct(
        F.transform(starts, lambda i: F.array_min(F.slice(hs, i, WINNOW_W)))
    )
    return staged.select("doc_id", F.explode(sel).alias("fp"))


# The composed corpus-cleaning thresholds: score >= 0.4 drops the bottom
# ~12% and dup_word_frac <= 0.65 the most repetitive ~25% of the synthetic
# corpus — both checked non-degenerate at sf0.001 and sf0.01.
CLEAN_MIN_SCORE = 0.4
CLEAN_MAX_DUP_WORD = 0.65


def clean_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, n_tokens, score, dup_word_frac) — the END PRODUCT
    of the training-data pipeline: exact-dedup canonical representatives
    that pass the quality-score and repetition filters and survive the
    stratified sample. Every metric is computed by the SAME shared
    expressions as the standalone ops (_quality_exprs, _dup_word_expr,
    _pred_lang_expr, split_bucket/_rate_expr, normalized_fingerprint), so
    this query certifies that the ops COMPOSE, not just that each works.

    100 TB shape: all metrics are per-row projections folded into ONE pass
    over the scan; canonicalization is a window-min over the fingerprint
    (one shuffle keyed by fingerprint, no self-join, no second scan — the
    min-aggregate window needs no ordering beyond the partition sort, and
    a boilerplate hub fingerprint sorts as one constant-key run). The
    metric filters sit ABOVE the window by construction — pushing them
    below would drop dup-group members before the canonical min is taken,
    changing which doc represents a group (dedup-then-filter, the pipeline
    order); Catalyst correctly leaves them there."""
    from pyspark.sql.window import Window

    t = F.col("text")
    tc = F.coalesce(t, F.lit(""))
    n_tok, _, _, score = _quality_exprs(t)
    base = docs.select(
        "doc_id",
        normalized_fingerprint(t).alias("_fp"),
        _pred_lang_expr(t).alias("pred_lang"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(score, 6).alias("score"),
        F.round(_dup_word_expr(words_col(tc)), 6).alias("dup_word_frac"),
        split_bucket(F.col("doc_id"), SAMPLE_SEED).alias("_bucket"),
        _rate_expr().alias("_rate"),
    )
    canon = F.min("doc_id").over(Window.partitionBy("_fp"))
    return (
        base.withColumn("_canon", canon)
        .filter(
            (F.col("doc_id") == F.col("_canon"))
            & (F.col("score") >= CLEAN_MIN_SCORE)
            & (F.col("dup_word_frac") <= CLEAN_MAX_DUP_WORD)
            & (F.col("_bucket") < F.col("_rate"))
        )
        .select("doc_id", "pred_lang", "n_tokens", "score", "dup_word_frac")
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, mean_logprob) — per-document mean unigram log-probability
    under the corpus's own unigram model, the CCNet-style language-model
    quality filter (docs far below the corpus's typical logprob are
    boilerplate/gibberish; far above are repetitive). mean_logprob =
    sum over tokens of ln(count(term)/total_tokens) / doc length, over
    lowercased whitespace tokens (same tokenization as doc_tfidf_top_terms).

    100 TB shape: explode -> (doc, term) hash agg (map-side combinable);
    the unigram model is a second hash agg on term; total_tokens is a 1-row
    aggregate broadcast into the plan (no driver collect); the model join
    keys on term (AQE broadcasts a small vocabulary). Determinism anchor:
    the per-doc reduction is the kmeans-proven sorted sequential fold
    (collect_list -> array_sort by term -> aggregate(0.0, +)) so the oracle
    replays it bitwise; plain sum() is the documented scale path. The final
    6-dp round absorbs cross-libm ln() ulp (the tfidf/pmi precedent)."""
    w = words_col(F.lower(F.col("text")))
    tf = (
        docs.select("doc_id", F.explode(w).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    termcnt = tf.groupBy("term").agg(F.sum("cnt").alias("tc"))
    total = tf.agg(F.sum("cnt").alias("t"))
    contrib = (
        tf.join(termcnt, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "cnt",
            F.struct(
                F.col("term"),
                (
                    F.col("cnt").cast("double")
                    * F.log(F.col("tc").cast("double") / F.col("t").cast("double"))
                ).alias("c"),
            ).alias("sc"),
        )
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("sc")),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("s"),
        F.sum("cnt").alias("toks"),
    )
    return per_doc.select(
        "doc_id",
        "toks",
        F.round(F.col("s") / F.col("toks"), 6).alias("mean_logprob"),
    )


LENGTH_P_LO = 0.05
LENGTH_P_HI = 0.95


def length_outliers(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, n_ws_tokens, reason) — Gopher-style length filtering:
    docs whose whitespace-token count falls strictly outside their language's
    [p5, p95] band. Per-language bands matter because token-length
    distributions differ by language (CJK vs whitespace scripts).

    Two-phase: exact per-lang percentiles (bounded group count — one tiny
    aggregate), broadcast back onto the scan as a filter join. The exact
    `percentile` collects each GROUP's values, fine at bounded lang
    cardinality; at unbounded group counts swap approx_percentile and keep
    the broadcast-back shape. Threshold comparisons are long-vs-double with
    both engines interpolating percentiles identically on sorted integers,
    so the outlier set is bit-stable."""
    d = docs.select(
        "doc_id", "lang", F.size(words_col(F.col("text"))).cast("long").alias("n_ws_tokens")
    )
    q = d.groupBy("lang").agg(
        F.expr(f"percentile(n_ws_tokens, {LENGTH_P_LO})").alias("p_lo"),
        F.expr(f"percentile(n_ws_tokens, {LENGTH_P_HI})").alias("p_hi"),
    )
    return (
        d.join(F.broadcast(q), "lang")
        .filter((F.col("n_ws_tokens") < F.col("p_lo")) | (F.col("n_ws_tokens") > F.col("p_hi")))
        .select(
            "doc_id",
            "lang",
            "n_ws_tokens",
            F.when(F.col("n_ws_tokens") < F.col("p_lo"), F.lit("short"))
            .otherwise(F.lit("long"))
            .alias("reason"),
        )
    )


def vocab_dense_ids(docs: DataFrame) -> DataFrame:
    """(token, token_id) — the corpus vocabulary with ORDER-PRESERVING dense
    long ids 0..|V|-1: tokenizer/embedding-table id assignment as a corpus
    job. Built on graph.cc.dense_ids, the repo's distributed id-assignment
    primitive (range-repartition -> per-partition counts -> broadcast
    offsets -> bounded per-partition rank): no zipWithIndex RDD pass, no
    monotonically_increasing_id gaps, and — the part that matters at 10^12
    documents — no single-partition global window: every sort is bounded by
    one range partition of the DISTINCT token set. Dense gap-free ids are
    what embedding tables index by; order preservation makes the mapping
    reproducible from the vocabulary alone (same tokens -> same ids, on any
    cluster at any partitioning).

    Oracle: row_number() - 1 over the distinct tokens in token order."""
    from ..graph.cc import dense_ids

    words = docs.select(F.explode(words_col(F.col("text"))).alias("token"))
    return dense_ids(words, "token").select(
        "token", F.col("nid").alias("token_id")
    )


def content_key(text_col, id_col) -> F.Column:
    """Content-stable 60-bit selection key md5(text|doc_id) prefix, shared
    by doc_domain_quota and doc_global_sample (SQL twin: oracles._CONTENT_KEY).
    NULL text is coalesced to '' BEFORE the concat: Spark sorts NULLs first
    ascending while DuckDB's ORDER BY defaults to NULLs last, so a NULL key
    would silently put the row on different sides of the cutoff in the two
    engines. The id in the hash makes the key unique per row (total order,
    bit-stable ranks)."""
    return hash60(
        F.concat(F.coalesce(text_col, F.lit("")), F.lit("|"), id_col.cast("string"))
    )


DOMAIN_QUOTA_K = 10


def domain_quota(docs: DataFrame) -> DataFrame:
    """(doc_id, source, rk) — per-domain quota sampling: keep at most
    DOMAIN_QUOTA_K documents per source, chosen by a content-stable hash
    rank. The corpus-composition staple that stops mega-domains from dominating a training
    mix (the complement of doc_stratified_sample's per-stratum RATE: a
    quota is an absolute CAP, which a rate cannot express when domain sizes
    span orders of magnitude).

    Selection key = md5(text|doc_id) prefix: content-derived, so survivors
    are identical under repartitioning / engine migration / incremental
    backfill (the train_test_split argument), and unique per row, so ranks
    are total and the output is bit-stable.

    Scale shape: runs through salted_top_k_per_group — k per (salt, source)
    slice then k-of-k — because the quota's whole reason to exist is hub
    domains with millions of rows, exactly the groups a plain per-source
    row_number window would sort in ONE partition. The salted composition
    bounds every sort at slice size while provably keeping the same k
    survivors. Oracle: the plain global row_number per source."""
    staged = docs.select(
        "doc_id", "source", content_key(F.col("text"), F.col("doc_id")).alias("qkey")
    )
    return salted_top_k_per_group(
        staged, ["source"], [F.asc("qkey")], DOMAIN_QUOTA_K
    ).select("doc_id", "source", "rk")


GLOBAL_SAMPLE_K = 200


def global_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, source, sample_rank) — an EXACT-size deterministic global
    sample: the GLOBAL_SAMPLE_K documents with the smallest content-stable
    hash, ranked. Rate-based samplers (sample(), doc_stratified_sample) cannot hit an
    exact row count, and rand()-seeded ones are not stable under
    repartitioning; "give me exactly 100k held-out docs from 10^12, the
    same ones every run" needs a total order on a content key.

    Scale shape: orderBy(hash).limit(k) compiles to TakeOrderedAndProject
    (plan-asserted in tests/test_plans.py) — every task keeps a k-element
    bounded heap over its partition and the driver merges P*k candidates;
    no global sort, no full shuffle, the KMV-sketch execution shape applied
    to row selection. The final rank is a window over k rows.

    Selection key = md5(text|doc_id) prefix (the domain_quota key): unique
    per row, so the sample and its ranks are total and bit-stable."""
    from pyspark.sql.window import Window as W

    top = (
        docs.select(
            "doc_id",
            "source",
            content_key(F.col("text"), F.col("doc_id")).alias("qkey"),
        )
        .orderBy("qkey")
        .limit(GLOBAL_SAMPLE_K)
    )
    return top.select(
        "doc_id",
        "source",
        F.row_number().over(W.orderBy("qkey")).cast("long").alias("sample_rank"),
    )
