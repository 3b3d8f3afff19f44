"""Page-level deduplication: exact (fingerprint hash-groupBy) + near-dup
(MinHash-LSH blocking and exact-Jaccard verification, textops/lsh.py)
edges, collapsed with connected components; only the canonical page of
each duplicate cluster survives into mention detection and triple
materialisation.

This is the classic Common-Crawl hygiene stage: ~several percent of pages
are boilerplate duplicates; dropping them BEFORE the Python mention stage
also cuts the most expensive part of the pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# bound under this name: perfbench/kg_build.py traces CC by patching it here
from ..graph.cc import connected_components as connected_components_encoded
from ..textops.dedup import SHINGLE_N, _doc_ngrams, normalized_fingerprint
from ..textops.lsh import MAX_BUCKET, MIN_BANDS, candidate_pairs, verify_jaccard

NEAR_DUP_JACCARD = 0.5  # exact-verify bar: candidates below this are dropped


def duplicate_edges(pages_text: DataFrame) -> DataFrame:
    """(src, dst) url pairs that are exact or near duplicates. Near-dup
    candidates are exact-Jaccard verified before CC: a false-positive band
    collision would otherwise permanently and silently drop a distinct page
    from the corpus."""
    grams = _doc_ngrams(pages_text, "url", "text", SHINGLE_N)
    cands = candidate_pairs(grams, MAX_BUCKET).filter(F.col("n_bands") >= MIN_BANDS)
    near = verify_jaccard(cands, grams, NEAR_DUP_JACCARD)
    return exact_duplicate_edges(pages_text).unionByName(
        near.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def canonical_pages(pages_text: DataFrame) -> DataFrame:
    """Drop non-canonical duplicates: CC over duplicate edges, keep one page
    (the min url) per cluster. Output schema == input schema."""
    return _keep_canonical(pages_text, duplicate_edges(pages_text))


def exact_duplicate_edges(pages_text: DataFrame) -> DataFrame:
    """(src, dst) pairs from EXACT fingerprint duplicates only — the
    deterministic subset of duplicate_edges, used by the driver-contract
    query below (near-dup LSH edges have no clean SQL oracle; the exact tier
    exercises the same CC + canonical-selection path end-to-end)."""
    fp = pages_text.select("url", normalized_fingerprint(F.col("text")).alias("fp"))
    canon = fp.groupBy("fp").agg(
        F.min("url").alias("dst"), F.count(F.lit(1)).alias("n")
    )
    return (
        fp.join(canon.filter(F.col("n") > 1), "fp")
        .filter(F.col("url") != F.col("dst"))
        .select(F.col("url").alias("src"), F.col("dst"))
    )


def canonical_pages_exact(pages_text: DataFrame) -> DataFrame:
    """canonical_pages restricted to exact-duplicate edges: runs
    graph/cc.py's connected_components over the exact edge set (union-find
    on the driver at registry sizes, the distributed star loop above its
    bound), then keeps one page per component. Because the component id is
    the min url of each fingerprint group, the result has a closed-form
    DuckDB oracle (url = min(url) over fingerprint) — this is what promotes
    the CC tier into the driver's CORRECTNESS gate."""
    return _keep_canonical(pages_text, exact_duplicate_edges(pages_text))


def page_canonical_exact_query(docs: DataFrame) -> DataFrame:
    """Driver-contract wrapper for the CC tier. The documents table has no
    exact duplicates, so the query deterministically plants them — every 7th
    doc gets a second url with identical text — then runs the full
    exact-edges -> connected-components -> keep-canonical path and returns
    the surviving urls. Oracle: url = min(url) per text fingerprint."""
    def pages(tag: str, flt=None):
        d = docs.filter(flt) if flt is not None else docs
        return d.select(
            F.concat(F.lit(tag), F.col("doc_id").cast("string")).alias("url"),
            "text",
        )

    all_pages = pages("u").unionByName(pages("d", (F.col("doc_id") % 7) == 0))
    return canonical_pages_exact(all_pages).select("url")


def page_canonical_lsh_query(docs: DataFrame) -> DataFrame:
    """Driver-contract wrapper for the NEAR-DUP tier — the full
    duplicate_edges path that page_canonical_exact cannot reach: capped
    MinHash-LSH banding, >=2-band agreement, one-aggregate exact-Jaccard
    verification, then connected components. The corpus has no
    near-duplicates, so the query plants them deterministically: every
    11th doc gets a twin with the first word substituted (word-level
    trigrams lose only the one leading gram, so the planted Jaccard is
    (w-3)/(w-1) — far above the 0.5 bar at any doc length >= the corpus
    minimum). The oracle replays the
    identical LSH pipeline in SQL (same md5 hash family, banding, bucket
    cap, band threshold, Jaccard verify) and closes the components with a
    recursive min-label reachability CTE — so every planted OR incidental
    collision resolves identically on both engines."""
    orig = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"), "text"
    )
    twin = docs.filter((F.col("doc_id") % 11) == 0).select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("url"),
        F.regexp_replace("text", r"^\S+", "xsubx").alias("text"),
    )
    return canonical_pages(orig.unionByName(twin)).select("url")


def _keep_canonical(pages_text: DataFrame, edges: DataFrame) -> DataFrame:
    comp = connected_components_encoded(edges)  # (node, component)
    return (
        pages_text.join(comp, pages_text["url"] == comp["node"], "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("url")))
        .select(*pages_text.columns)
    )
