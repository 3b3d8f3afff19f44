"""Deduplication operators for web-scale training-data pipelines.

Four tiers, all shuffle-aware and expressed as DataFrame ops (no Python in
the hot path); each has a DuckDB oracle twin in oracles.py:

  exact_dedup         hash-groupBy on a normalized-text md5 fingerprint
  ngram_jaccard_pairs exact n-gram Jaccard all-pairs (inverted-index join —
                      the standard prefix-filter-free similarity join)
  minhash_lsh_pairs   MinHash-LSH candidate pairs (the scale path: cost
                      ~ #docs x #bands, not #pairs); blocking and the
                      Jaccard verifier live in textops/lsh.py, shared with
                      pipeline/pagedup.py and pipeline/canonicalize.py
  simhash             per-doc SimHash bit signature for Hamming-style near-dup

At 100 TB: all joins key on content-derived hashes -> uniformly distributed,
no skew salting needed; the banding join groups by (band_id, band_key) so
each bucket is small by construction. Empty-text docs produce no shingles and
silently drop out of pair generation (they are caught by exact_dedup instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import pos_grams, words_col
from .lsh import MAX_BUCKET, band_rows, candidate_pairs, gram_table, hash60, signatures

# ---------------------------------------------------------------------------


def normalized_fingerprint(text_col):
    """md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct normalized text: (fingerprint, canonical_id =
    lowest doc id, dup_count). Map-side-combinable single shuffle."""
    return (
        docs.select(
            normalized_fingerprint(F.col("text")).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------

INCREMENTAL_BATCH_BUCKET = 90  # buckets >= this play the newly-arrived batch


def incremental_exact_dedup(docs: DataFrame) -> DataFrame:
    """Ingest-time dedup of a NEW BATCH against an EXISTING CORPUS — the
    incremental face of exact_dedup (a crawl pipeline never re-dedups the
    whole corpus; each arriving batch is checked against what is already
    stored). Here the batch is simulated deterministically as the docs whose
    content-stable split bucket (quality.split_bucket, the train/test
    machinery) is >= INCREMENTAL_BATCH_BUCKET; everything below is corpus.

    Plan: one scan computes (fingerprint, id, bucket); the corpus side
    collapses to a distinct-fingerprint hash agg, the batch side to a
    min-id/count hash agg, and a LEFT ANTI join on fingerprint keeps only
    genuinely-new content. At 100 TB the corpus fingerprint set dominates:
    the anti join shuffles on a content-derived md5 key (uniform, no skew
    salting needed) and both sides take map-side partial aggregation; in
    production the corpus side is a pre-bucketed fingerprint table so only
    the (small) batch shuffles. Output: one row per new fingerprint —
    (fingerprint, new_id = lowest batch doc id, batch_dups)."""
    from .quality import split_bucket

    tagged = docs.select(
        normalized_fingerprint(F.col("text")).alias("fingerprint"),
        "doc_id",
        split_bucket(F.col("doc_id")).alias("__bucket"),
    )
    corpus = (
        tagged.filter(F.col("__bucket") < INCREMENTAL_BATCH_BUCKET)
        .select("fingerprint")
        .distinct()
    )
    batch = (
        tagged.filter(F.col("__bucket") >= INCREMENTAL_BATCH_BUCKET)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("new_id"),
            F.count(F.lit(1)).alias("batch_dups"),
        )
    )
    return batch.join(corpus, "fingerprint", "left_anti")


# ---------------------------------------------------------------------------


SHINGLE_N = 3  # words per shingle: n-gram Jaccard, MinHash and page dedup


def _doc_ngrams(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # words materialized at a projection boundary before the gram transform:
    # CSE does not reach inside the pos_grams lambda, so grams built directly
    # over words_col(text) re-tokenize once per element_at (n per gram) — the
    # same fix as winnow_fingerprints/decontaminate, kept by CollapseProject
    # because the word array is multiply referenced.
    staged = docs.select(F.col(id_col), words_col(F.col(text_col)).alias("_ws"))
    return gram_table(staged, id_col, F.array_distinct(pos_grams(F.col("_ws"), n)))


NGRAM_MAX_DF = 50  # drop n-grams present in more docs than this before the self-join
NGRAM_JACCARD_MIN = 0.5


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """All pairs (id_a < id_b) with word-SHINGLE_N-gram Jaccard >=
    NGRAM_JACCARD_MIN, computed
    over *discriminative* n-grams only: grams whose document frequency exceeds
    NGRAM_MAX_DF (boilerplate — "click here to subscribe") are dropped before
    the self-join, from intersections AND set sizes, so the score stays a
    true Jaccard over the filtered gram sets.

    Why the cap is load-bearing at scale: the inverted-index join costs
    sum over grams of df(gram)^2 — one hot shingle makes it a cartesian on
    that key. With df <= NGRAM_MAX_DF the cost is bounded by
    NGRAM_MAX_DF * |gram rows|, i.e. linear in corpus size. (Measured here:
    sf0.1 went 198.8s -> seconds.) The df guard is one window over the gram
    shuffle key, and the self-join reuses that exchange."""
    grams = _doc_ngrams(docs, "doc_id", "text", SHINGLE_N)
    # The df guard is a count() window over the gram shuffle key ON
    # PURPOSE — measured against a hash-agg + broadcast-anti-join
    # variant (20.2s vs 50.1s at sf0.1): the self-join below is a
    # sort-merge join on the very same gram key, so the window's
    # exchange+sort is reused by BOTH join inputs and costs nothing
    # extra, while the anti-join variant re-tokenizes the corpus for
    # the hot-gram aggregate and then sorts both join sides anyway.
    # (LSH blocking caps its band buckets inside the bucket aggregate it
    # already runs, so it needs neither a window nor an anti-join.)
    from pyspark.sql.window import Window

    w = Window.partitionBy("g")
    grams = (
        grams.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= NGRAM_MAX_DF)
        .drop("__df")
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))

    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_MIN)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_bands they collide in):
    lsh.candidate_pairs over word SHINGLE_N-grams. The hot-bucket cap is ON by
    default; max_bucket=None opts into the uncapped all-candidates variant
    (only sane on corpora known to be free of hot buckets)."""
    return candidate_pairs(_doc_ngrams(docs, id_col, text_col, SHINGLE_N), max_bucket)


# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — SIMHASH_BITS-char '0'/'1' string.

    Bit j is the sign of sum over tokens of +-1 by the high bit of md5
    nibble j (nibble in 89abcdef => +1). Token multiset, not set: repeated
    words weigh more, like classic SimHash term weighting."""
    toks = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).select("doc_id", F.md5("w").alias("h"))
    aggs = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    summed = toks.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(SIMHASH_BITS)]
    )
    return summed.select("doc_id", bits.alias("simhash"))

# ---------------------------------------------------------------------------

DECON_NGRAM = 8  # word n-gram width for train-vs-eval overlap (GPT-3 used 13)


def decontaminate(docs: DataFrame) -> DataFrame:
    """Training-data decontamination: which TRAIN documents share a word
    DECON_NGRAM-gram with any EVAL (held-out test split) document, and how
    many distinct eval grams each shares. Output: (doc_id, n_shared_grams),
    contaminated train docs only.

    The eval set is the 'test' slice of the content-stable hash split
    (quality.split_bucket, same seed as doc_train_test_split), so the op
    composes with the split it is meant to protect. Both sides reduce grams
    to the md5-prefix BIGINT (the portable 64-bit hash used throughout):
    at 10^12 docs the benchmark/eval side is a few thousand documents, so
    its distinct gram-hash set is kilobytes-to-megabytes -> broadcast into a
    map-side semi join; only contaminated (doc, gram) survivors reach the
    per-doc count, which is a plain map-side-combinable hash aggregate.
    NULL text coalesces to '' (zero grams) like the repetition/clean ops."""
    from .quality import SPLIT_BOUNDS, split_bucket

    # PROJECTION BOUNDARY (same reason as quality.winnow_fingerprints): CSE
    # does not reach inside the pos_grams transform lambda, so building the
    # 8-gram directly over words_col(text) re-evaluates split+filter once per
    # element_at — ~8 x n_grams tokenizations per doc (measured 33s -> 3s at
    # sf0.1). Materializing the word array as a column makes it one pass;
    # CollapseProject keeps the boundary because `_ws` is multiply referenced.
    staged = docs.select(
        "doc_id",
        split_bucket(F.col("doc_id")).alias("_b"),
        words_col(F.coalesce(F.col("text"), F.lit(""))).alias("_ws"),
    )
    grams = staged.select(
        "doc_id",
        "_b",
        F.explode(F.array_distinct(pos_grams(F.col("_ws"), DECON_NGRAM))).alias(
            "gram"
        ),
    ).select(
        "doc_id",
        "_b",
        hash60(F.col("gram")).alias("gh"),
    )
    eval_grams = (
        grams.filter(F.col("_b") >= SPLIT_BOUNDS[1]).select("gh").distinct()
    )
    train_grams = grams.filter(F.col("_b") < SPLIT_BOUNDS[0]).select("doc_id", "gh")
    return (
        train_grams.join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# --- C4-style duplicated-span removal ---------------------------------------

# C4's rule: of any three-sentence span occurring more than once in the
# corpus, keep the FIRST occurrence and cut the rest from their documents.
# This corpus has no sentence delimiters, so the span unit is a fixed
# SPAN_WORDS-word non-overlapping block (the last block of a doc may be
# shorter). "First occurrence" = minimum (doc_id, pos), bit-packed as
# doc_id * SPAN_POS_PACK + pos so the argmin stays a primitive min() in
# whole-stage HashAggregate (the min_by-declarative-aggregate lesson:
# struct buffers fall to SortAggregate).
SPAN_WORDS = 3
SPAN_POS_PACK = 1 << 20  # pos < 1M blocks/doc; ~3M-word docs — far above any
# web page; a corpus with longer docs raises the pack width with the id range


def span_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_spans_dropped) — cross-corpus duplicated-span
    removal: every SPAN_WORDS-word block that appears anywhere else in the
    corpus is cut except its first occurrence, and each document is
    reassembled from its surviving blocks in order.

    100 TB shape: blocks are built per-row in codegen (staged word array ->
    slice/concat_ws -> posexplode, zero shuffle); the occurrence stats are
    ONE map-side-combinable hash agg keyed by the block string (content-
    derived -> uniform, no salt); the stats join back keys on the same
    block column so AQE reuses the exchange; reassembly is one hash agg on
    doc_id with a pos-sorted fold (bounded by a single document's length).
    A boilerplate block repeated billions of times is ONE stats row, and
    its group in the stats agg is map-side-combined — the skew lives in the
    pre-agg explode, which is embarrassingly parallel."""
    wc = words_col(F.coalesce(F.col("text"), F.lit("")))
    staged = docs.select("doc_id", wc.alias("_w"))
    m = F.size("_w")
    n_blocks = F.ceil(m / F.lit(SPAN_WORDS)).cast("int")
    blocks_arr = F.when(m > 0, F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.concat_ws(
            " ", F.slice("_w", i * SPAN_WORDS + 1, SPAN_WORDS)
        ),
    )).otherwise(F.array().cast("array<string>"))
    per_doc = staged.select("doc_id", blocks_arr.alias("_blocks"))
    spans = per_doc.select(
        "doc_id", F.posexplode("_blocks").alias("pos", "block")
    )
    stats = spans.groupBy("block").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.col("doc_id") * SPAN_POS_PACK + F.col("pos")).alias("fk"),
    )
    kept = spans.join(stats, "block").filter(
        (F.col("cnt") == 1)
        | (F.col("doc_id") * SPAN_POS_PACK + F.col("pos") == F.col("fk"))
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "block"))),
                lambda x: x["block"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        per_doc.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.size("_blocks") - F.coalesce("n_kept", F.lit(0))).cast("long")
            .alias("n_spans_dropped"),
        )
    )


def incremental_minhash_neardup(
    docs: DataFrame, max_bucket: int | None = MAX_BUCKET
) -> DataFrame:
    """NEAR-dup candidates of a NEW BATCH against an EXISTING CORPUS — the
    incremental face of minhash_lsh_pairs, completing the pair with
    incremental_exact_dedup (a crawl increment is checked for near-dups
    against what is already stored; the corpus is never re-self-joined).
    Batch/corpus split is the same content-stable hash bucket as the exact
    variant (quality.split_bucket >= INCREMENTAL_BATCH_BUCKET = batch).

    Plan: ONE scan builds signatures for both sides (the bucket is a pure
    function of the id, recomputed after the signature agg rather than
    dragged through it); banding is lsh.band_rows. The corpus side is one
    bucket aggregate, as in lsh.candidate_pairs: collect_list(id) per
    (band, key), buckets of more than max_bucket ids dropped. The cap
    applies to the CORPUS side only — that is the side whose boilerplate
    buckets grow with the archive; the batch side is one increment and joins
    as the (smaller) probe. The batch x corpus band join is a plain
    equi-join on (band, key) — NOT a self-join, so cost scales with batch
    size x bucket occupancy, not corpus^2; in production the corpus bucket
    table is a persisted, bucketed-by-key artifact appended per increment,
    so only the batch side is ever rebuilt.

    Output: (new_id, corpus_id, n_bands) — batch docs likely-near-duplicate
    of an archived doc, with LSH evidence strength."""
    from .quality import split_bucket

    sig = signatures(_doc_ngrams(docs, "doc_id", "text", SHINGLE_N))
    bucket = split_bucket(F.col("id"))
    corp = (
        band_rows(sig.filter(bucket < INCREMENTAL_BATCH_BUCKET))
        .groupBy("band", "key")
        .agg(F.collect_list("id").alias("ids"))
    )
    if max_bucket:
        corp = corp.filter(F.size("ids") <= max_bucket)
    batch = band_rows(sig.filter(bucket >= INCREMENTAL_BATCH_BUCKET))
    return (
        batch.join(corp, ["band", "key"])
        .select(F.col("id").alias("new_id"), F.explode("ids").alias("corpus_id"))
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
