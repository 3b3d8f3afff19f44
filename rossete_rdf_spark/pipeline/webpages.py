"""Deterministic synthetic Common-Crawl-style page table.

Schema per BASELINE.json input_hint:
  (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Everything is derived arithmetically from the row id (fixed multiplicative
constants, no RNG, no Date.now) so any scale factor regenerates bit-identical
content — required for the byte-identical-extraction invariant, the resume
test, and the two-parallelism bench. Generation is `spark.range` + Column
expressions: it runs distributed and never materializes on the driver."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = [
    "spark", "table", "query", "join", "shuffle", "partition", "filter",
    "window", "stream", "batch", "vector", "column", "hash", "merge",
    "scan", "sort", "group", "index", "cache", "graph", "entity", "node",
    "edge", "triple", "mapping", "schema", "crawl", "page", "linker",
    "anchor",
]
N_LANGS = ("en", "es", "de", "fr", "zh")
BASE_TS = 1_600_000_000  # fixed epoch base for warc_ts

# ~5% of pages are near-duplicates of a neighbor (same text, one word
# appended) and ~2% are exact duplicates — gives the dedup/canonicalization
# stages real work at every scale.
DUP_EVERY = 20
EXACT_DUP_EVERY = 50


RARE_TOKENS = 50_000  # long-tail vocabulary size (web text is heavy-tailed)


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    partitions: int = 32,
    min_words: int = 16,
    word_spread: int = 24,
) -> DataFrame:
    """Generate the page table with `n_pages` rows of min_words..
    (min_words+word_spread-1) words each. Tests use small pages; the bench
    uses a few hundred words/page (Common-Crawl-ish extracted-text size) so
    compute, not task overhead, dominates."""
    df = spark.range(0, n_pages, 1, partitions)
    # near-dups share the text seed of the previous row
    seed = F.when(
        (F.col("id") % DUP_EVERY == 1) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    # exact dups reuse a seed from the same bucket deterministically
    seed = F.when(
        (F.col("id") % EXACT_DUP_EVERY == 3) & (F.col("id") > 3), F.col("id") - 3
    ).otherwise(seed)

    n_words = (seed % word_spread + min_words).cast("int")

    def pick(i):
        mix = (seed * 2654435761 + (i * 40503 + 7)) % (2**31)
        common = F.element_at(F.lit(VOCAB), (mix % len(VOCAB) + 1).cast("int"))
        # every 3rd position draws from the 50k-token long tail: web text is
        # heavy-tailed, and without shingle diversity MinHash band keys would
        # collide across unrelated pages (mega-buckets -> quadratic LSH join)
        rare = F.concat(F.lit("tok"), (mix % RARE_TOKENS).cast("string"))
        return F.when(i % 3 == 2, rare).otherwise(common)

    words = F.transform(F.sequence(F.lit(0), n_words - 1), pick)
    text = F.concat_ws(" ", words)
    # near-dup marker: one extra word appended so a near dup != exact dup
    text = F.when(
        (F.col("id") % DUP_EVERY == 1) & (F.col("id") > 0),
        F.concat(text, F.lit(" extra")),
    ).otherwise(text)

    url = F.concat(
        F.lit("https://site"),
        (F.col("id") % 1000).cast("string"),
        F.lit(".example.com/page/"),
        F.col("id").cast("string"),
    )
    lang = F.element_at(F.lit(list(N_LANGS)), (F.col("id") % len(N_LANGS) + 1).cast("int"))
    warc_ts = F.timestamp_seconds(F.lit(BASE_TS) + F.col("id") % (86400 * 30))
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>p"),
            F.col("id").cast("string"),
            F.lit("</title></head><body><p>"),
            text,
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )
