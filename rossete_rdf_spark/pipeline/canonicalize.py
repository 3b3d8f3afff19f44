"""Entity canonicalization: MinHash-LSH blocking over surface char-n-grams
generates candidate duplicate pairs, exact Jaccard verifies them (both in
textops/lsh.py), and connected components collapses the verified pairs into
canonical entities.

Scale shape: candidate generation is linear in #surfaces x #bands (never
all-pairs); verification builds grams in each candidate pair's row; CC
runs on the (tiny relative to pages) entity-pair edge list, which at
gazetteer sizes stays under graph/cc.py's bound and is closed with
union-find on the driver into a table the final join broadcasts."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph.cc import connected_components
from ..kgops import eligible_tokens
from ..textops.lsh import (
    MAX_BUCKET,
    MIN_BANDS,
    candidate_pairs,
    gram_table,
    minhash64,
    pair_jaccard_filter,
)

NGRAM = 3
CANON_JACCARD = 0.6  # exact-Jaccard verification threshold (oracle twin imports it)


def _char_grams(c: Column) -> Column:
    """The distinct character n-grams of a surface."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (NGRAM - 1), F.lit(0)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, NGRAM)))


def surface_candidate_pairs(surfaces: DataFrame) -> DataFrame:
    """(surface) -> candidate pairs (a, b) with a < b that collide in >=
    MIN_BANDS bands."""
    grams = gram_table(surfaces, "surface", _char_grams(F.col("surface")))
    return (
        candidate_pairs(grams, MAX_BUCKET)
        .filter(F.col("n_bands") >= MIN_BANDS)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )


def verified_pairs(candidates: DataFrame, threshold: float = CANON_JACCARD) -> DataFrame:
    """Candidate pairs (a, b) whose exact char-n-gram Jaccard is >=
    threshold > 0, with each endpoint's grams built in the pair row."""
    ends = candidates.select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b"),
        F.explode(F.array("a", "b")).alias("s"),
    )
    pair_grams = ends.select("id_a", "id_b", F.explode(_char_grams(F.col("s"))).alias("g"))
    return pair_jaccard_filter(pair_grams, threshold).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


def canonical_entity_map(surfaces: DataFrame, threshold: float = CANON_JACCARD) -> DataFrame:
    """(surface) -> (surface, canonical) where canonical = min surface of the
    duplicate cluster (connected component); singletons map to themselves.

    `surfaces` feeds the gram explode AND the final distinct join, so it is
    lazily localCheckpointed: without it a caller passing a derived plan
    (kg_job passes the salted gazetteer aggregate) re-executes that whole
    upstream DAG once per reference. Lazy (eager=False) so it materializes
    at most once, on first use, and never adds a separate job."""
    surfaces = surfaces.localCheckpoint(eager=False)
    edges = verified_pairs(surface_candidate_pairs(surfaces), threshold).select(
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


def entity_canonical_query(docs: DataFrame) -> DataFrame:
    """Driver-contract face of the canonicalization stage: (surface,
    canonical) over the corpus's mention-eligible vocabulary, with
    deterministic plural twins ('w' -> 'ws' for surfaces whose content hash
    % CANON_PLURAL_MOD == 0) planted so the LSH -> >=2-band -> exact-Jaccard
    -> CC path has real merges to find — the pagedup-tier pattern
    (page_canonical_lsh) applied to ENTITY surfaces. LSH recall < 1 is fine:
    the DuckDB oracle replays the identical banding/cap/verify pipeline and
    closes components with a recursive min-label CTE, so both engines miss
    the same pairs. Scale shape: that of canonical_entity_map."""
    words = eligible_tokens(docs, "doc_id", "w").select("w").distinct()
    variants = words.filter(
        minhash64(F.col("w"), "plural") % CANON_PLURAL_MOD == 0
    ).select(F.concat(F.col("w"), F.lit("s")).alias("w"))
    surfaces = (
        words.unionByName(variants).distinct().select(F.col("w").alias("surface"))
    )
    return canonical_entity_map(surfaces)
