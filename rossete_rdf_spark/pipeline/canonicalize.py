"""Entity canonicalization: MinHash-LSH blocking over surface char-n-grams
generates candidate duplicate pairs, exact Jaccard verifies them (both in
textops/lsh.py), and connected components collapses the verified pairs into
canonical entities.

Scale shape: candidate generation is linear in #surfaces x #bands (never
all-pairs); verification touches only candidates; CC runs on the (tiny
relative to pages) entity-pair edge list, which at gazetteer sizes stays
under graph/cc.py's bound and is closed with union-find on the driver."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph.cc import connected_components
from ..textops.lsh import (
    MAX_BUCKET,
    MIN_BANDS,
    candidate_pairs,
    gram_table,
    minhash64,
    verify_jaccard,
)

NGRAM = 3
CANON_JACCARD = 0.6  # exact-Jaccard verification threshold (oracle twin imports it)


def _surface_grams(surfaces: DataFrame, col: str) -> DataFrame:
    """(id = surface, g, n) over distinct character n-grams."""
    c = F.col(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (NGRAM - 1), F.lit(0)))
    grams = F.transform(idx, lambda i: F.substring(c, i, NGRAM))
    return gram_table(surfaces, col, F.array_distinct(grams))


def surface_candidate_pairs(surfaces: DataFrame, col: str = "surface") -> DataFrame:
    """(surface) -> candidate pairs (a, b) with a < b that collide in >=
    MIN_BANDS bands."""
    return (
        candidate_pairs(_surface_grams(surfaces, col), MAX_BUCKET)
        .filter(F.col("n_bands") >= MIN_BANDS)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )


def verified_pairs(candidates: DataFrame, threshold: float = CANON_JACCARD) -> DataFrame:
    """Candidate pairs (a, b) whose exact char-n-gram Jaccard is >=
    threshold; grams are built once per candidate surface."""
    surfaces = (
        candidates.select(F.col("a").alias("s"))
        .unionByName(candidates.select(F.col("b").alias("s")))
        .distinct()
    )
    cands = candidates.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    return verify_jaccard(cands, _surface_grams(surfaces, "s"), threshold).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


def canonical_entity_map(surfaces: DataFrame, threshold: float = CANON_JACCARD) -> DataFrame:
    """(surface) -> (surface, canonical) where canonical = min surface of the
    duplicate cluster (connected component); singletons map to themselves.

    Both intermediates here are multiply referenced and gazetteer-BOUNDED,
    so they are lazily localCheckpointed (the pair-table lesson of page
    near-dup verification, measured at 8k pages as 202s -> 20s): `surfaces`
    feeds the gram explode AND the final distinct join — without the
    checkpoint a caller passing a derived plan (kg_job passes the salted
    gazetteer aggregate) re-executes that whole upstream DAG once per
    reference; `cands` is referenced twice by verified_pairs (the candidate
    surface set and the verifier's pair table), which otherwise re-runs the
    LSH banding self-join twice. Lazy (eager=False) so each materializes at
    most once, on first use, and never adds a separate job."""
    surfaces = surfaces.localCheckpoint(eager=False)
    cands = surface_candidate_pairs(surfaces).localCheckpoint(eager=False)
    edges = verified_pairs(cands, threshold).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    comp = connected_components(edges)  # (node, component)
    return (
        surfaces.select(F.col("surface"))
        .distinct()
        .join(comp, F.col("surface") == F.col("node"), "left")
        .select(
            "surface",
            F.coalesce(F.col("component"), F.col("surface")).alias("canonical"),
        )
    )


CANON_PLURAL_MOD = 3  # ~1/3 of surfaces get a deterministic plural twin


def entity_canonical_query(spark, sf_dir: str) -> DataFrame:
    """Driver-contract face of the canonicalization stage: (surface,
    canonical) over the corpus's mention-eligible vocabulary, with
    deterministic plural twins ('w' -> 'ws' for surfaces whose content hash
    % CANON_PLURAL_MOD == 0) planted so the LSH -> >=2-band -> exact-Jaccard
    -> CC path has real merges to find — the pagedup-tier pattern
    (page_canonical_lsh) applied to ENTITY surfaces. LSH recall < 1 is fine:
    the DuckDB oracle replays the identical banding/cap/verify pipeline and
    closes components with a recursive min-label CTE, so both engines miss
    the same pairs. Scale shape: that of canonical_entity_map."""
    from pyspark.sql import functions as F

    from ..kgops import eligible_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = eligible_tokens(docs, "w").select("w").distinct()
    variants = words.filter(
        minhash64(F.col("w"), "plural") % CANON_PLURAL_MOD == 0
    ).select(F.concat(F.col("w"), F.lit("s")).alias("w"))
    surfaces = (
        words.unionByName(variants).distinct().select(F.col("w").alias("surface"))
    )
    return canonical_entity_map(surfaces)
