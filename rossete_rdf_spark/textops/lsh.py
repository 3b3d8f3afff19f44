"""MinHash-LSH blocking and exact-Jaccard verification: the one
implementation behind page near-dup detection (textops.dedup
minhash_lsh_pairs / incremental_minhash_neardup, pipeline.pagedup) and
entity canonicalization (pipeline.canonicalize).

Blocking and verification are separate steps, as in MinoanER: blocking
proposes candidate pairs at a cost linear in #ids x #bands (never
all-pairs), verification scores only those candidates. Every function works
on one gram-table shape (id, g): one row per DISTINCT gram g of an id.
Blocking is one bucket aggregate, verification one count-distinct
aggregate.

The hash family, the banding and the bucket cap are replayed bit for bit by
the DuckDB oracles (oracles.py imports these constants), so both engines
block identically and miss the same pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HASHES = 8
BAND_ROWS = 2  # 4 bands of 2 rows
# A band bucket with more members than this is non-discriminative
# (boilerplate pages; short surfaces with only a handful of char n-grams)
# and would make its pair list quadratic, so it is dropped before pairing;
# it loses only low-signal candidates.
MAX_BUCKET = 50
# Pipeline callers keep candidates that collide in >= MIN_BANDS of the 4
# bands: single-band collisions on few-gram ids are near-random and flood
# the verifier (8000-page probe: 186k single-band surface pairs -> 26k).
MIN_BANDS = 2


def hash60(col) -> Column:
    """Portable 60-bit hash: the first 15 hex chars of md5 as a BIGINT.
    Identical in DuckDB: ('0x' || substr(md5(x),1,15))::BIGINT.

    Numeric on purpose: min(string) has a variable-length aggregation buffer
    which forces Spark out of the hash-aggregate fast path into sort-based
    aggregation (measured 20x slower on the signature build); min(long)
    stays in the UnsafeRow hash map."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash64(col, seed: int | str) -> Column:
    """hash60 of '{seed}|{col}': one member of a seeded hash family."""
    return hash60(F.concat(F.lit(f"{seed}|"), col))


def gram_table(df: DataFrame, id_col: str, grams: Column) -> DataFrame:
    """(id, g) from a per-row array of distinct grams."""
    # explode_outer + a null filter, not explode: an inner explode of the
    # staged `_ga` column makes the optimizer infer size(_ga) > 0 and push it
    # below the projections, re-inlining the gram expression (and the word
    # tokenization under it) once per reference.
    staged = df.select(F.col(id_col).alias("id"), grams.alias("_ga"))
    return staged.select("id", F.explode_outer("_ga").alias("g")).filter(
        F.col("g").isNotNull()
    )


def signatures(grams: DataFrame) -> DataFrame:
    """(id, h0..h{N_HASHES-1}) MinHash signature; hash family i is the
    numeric md5-prefix hash of (i || '|' || gram)."""
    # hash columns projected BEFORE the aggregate: keeps the generator stage
    # and the partial aggregation in separate codegen shapes (measured 2x
    # faster than evaluating the hash chain inside the agg)
    proj = grams.select(
        "id", *[minhash64(F.col("g"), i).alias(f"x{i}") for i in range(N_HASHES)]
    )
    return proj.groupBy("id").agg(*[F.min(f"x{i}").alias(f"h{i}") for i in range(N_HASHES)])


def band_rows(sig: DataFrame) -> DataFrame:
    """(id, band, key) banding rows of a signature table: band key = md5 of
    that band's '|'-joined BAND_ROWS signature columns."""

    def band(b: int) -> Column:
        rows = [F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
        return F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *rows)).alias("key"))

    return sig.select("id", F.inline(F.array(*[band(b) for b in range(N_HASHES // BAND_ROWS)])))


def candidate_pairs(grams: DataFrame, max_bucket: int | None = MAX_BUCKET) -> DataFrame:
    """(id_a, id_b, n_bands): pairs id_a < id_b sharing at least one band
    key, with the number of bands they collide in. max_bucket=None turns
    the hot-bucket cap off. Bucket-local: pairs are enumerated inside each
    kept bucket's id list, with no self-join (a hot bucket's list is held
    in one task before the size filter drops it)."""
    size = F.size("ids")
    keep = size > 1 if not max_bucket else (size > 1) & (size <= max_bucket)
    buckets = (
        band_rows(signatures(grams))
        .groupBy("band", "key")
        .agg(F.collect_list("id").alias("ids"))
        .filter(keep)
    )
    return (
        buckets.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def pair_jaccard_filter(pair_grams: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) pairs whose exact gram-set Jaccard is >= threshold > 0,
    from (id_a, id_b, g) rows: each endpoint's DISTINCT grams, stacked.

    One aggregate: tot = |A| + |B| and uni = |A u B|, so (tot - uni) / uni
    is the Jaccard (a disjoint pair scores 0, hence threshold > 0). Never
    per-pair array_intersect/array_union columns: those allocate a hash set
    per evaluated pair, serialized into whatever single task AQE coalesces
    the tiny pair table into (observed: a 14-minute one-task stage)."""
    if threshold <= 0:
        raise ValueError(f"Jaccard threshold must be > 0, got {threshold}")
    scored = pair_grams.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("tot"), F.countDistinct("g").alias("uni")
    )
    jaccard = (F.col("tot") - F.col("uni")) / F.col("uni")
    return scored.filter(jaccard >= threshold).select("id_a", "id_b")


def verify_jaccard(cands: DataFrame, grams: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) candidate pairs whose exact gram-set Jaccard is >=
    threshold > 0. The pair table is small by construction (bucket cap +
    band threshold), so its endpoints are broadcast onto the gram rows."""
    ends = cands.select("id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id"))
    return pair_jaccard_filter(grams.join(F.broadcast(ends), "id"), threshold)
