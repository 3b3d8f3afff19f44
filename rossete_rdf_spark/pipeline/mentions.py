"""Mention detection + entity linking over extracted page text.

No Python runs here: mention detection is kgops.eligible_tokens, the same
JVM tokenizer and length bar the registry's kg_* twin uses, exploded per
occurrence; linking is a broadcast join against the corpus-derived
gazetteer (small side), with the mention-count aggregation SALTED to survive
hub surfaces (a surface like 'spark' can appear on a large fraction of all
pages — a plain groupBy would put one key on one reducer)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kgops import eligible_tokens

SALT_BUCKETS = 16


def page_mentions(
    pages_text: DataFrame, python_parallelism: int | None = None
) -> DataFrame:
    """(url, text) -> (url, surface) one row per mention occurrence.
    python_parallelism is accepted and ignored: this stage runs no Python
    (bench.py passes it positionally)."""
    return eligible_tokens(pages_text, "url", "surface")


def salted_surface_counts(mentions: DataFrame) -> DataFrame:
    """Two-phase (salted), approximate count of pages per surface:
    (surface, n_pages_approx).

    Phase 1 groups by (surface, salt) — hub surfaces fan out over
    SALT_BUCKETS reducers; phase 2 sums the per-salt partials. The salt is
    derived from url, so each url falls in exactly one salt and the per-salt
    distinct counts add up."""
    salted = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("surface", "salt").agg(
        F.approx_count_distinct("url").alias("u")
    )
    return partial.groupBy("surface").agg(F.sum("u").alias("n_pages_approx"))


def build_gazetteer(mentions: DataFrame, min_pages: int = 3) -> DataFrame:
    """Corpus-derived entity dictionary: surfaces on >= min_pages pages.
    Output: (surface, entity_id) with entity_id = the surface itself (the
    canonicalization stage collapses variant surfaces afterwards)."""
    counts = salted_surface_counts(mentions)
    # Lazily checkpointed: the gazetteer is threshold-filtered (small by
    # construction) but every downstream reference — the link join's
    # broadcast build AND the canonicalization surface set — would
    # otherwise re-execute the two-phase salted aggregation over the full
    # mention stream (measured ~0.6s per extra reference at 8k pages,
    # several references in the KG pipeline). eager=False: materialized
    # once on first use, no extra job.
    return (
        counts.filter(F.col("n_pages_approx") >= min_pages)
        .select(F.col("surface"), F.col("surface").alias("entity_id"))
        .localCheckpoint(eager=False)
    )


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """(url, surface) x gazetteer -> (url, surface, entity_id).
    The gazetteer is orders of magnitude smaller than the mention stream —
    broadcast it so linking is map-side (no shuffle of the big side)."""
    return mentions.join(F.broadcast(gazetteer), "surface").select(
        "url", "surface", "entity_id"
    )
