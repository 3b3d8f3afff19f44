"""End-to-end web-scale KG construction (the north-rule pipeline):

  pages (url, warc_ts, html, text, lang)
    -> extract      text re-derived from html bytes (one JVM projection;
                    byte-identical per url — the pinned invariant)
    -> mentions     kgops.eligible_tokens (the registry's JVM tokenizer),
                    one row per occurrence
    -> gazetteer    corpus-derived entity dictionary (salted counting)
    -> linked       broadcast entity linking
    -> canonical    MinHash-LSH blocking + Jaccard verify + connected
                    components -> canonical surface per entity
    -> triples      RML-style (subj, pred, obj, graph) quad table, mention
                    edges rewritten to canonical entity IRIs; checkpointed
                    as ONE unpartitioned parquet with a `graph` column
                    (rml/writers.write_quad_table is the partitioned sink)

Every stage snapshots through CheckpointManager: a killed run resumes from
the last complete stage and produces the identical final triple set (tested
in tests/test_pipeline.py); load_triples reads the final snapshot with the
schema its manifest entry records. No stage starts a Python worker. Skew
levers: salted surface counting, AQE skew-join (session default), broadcast
for every small side."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kgops import ENTITY_NS, LANG_PRED, MENTIONS_PRED, ONTO
from ..rml.terms import RDF_TYPE, XSD_DATETIME, XSD_STRING, emit_triples, iri, po, typed_literal
from .canonicalize import canonical_entity_map
from .checkpoint import CheckpointManager
from .extract import extract_pages
from .mentions import build_gazetteer, link_mentions, page_mentions
from .pagedup import canonical_pages

STAGES = (
    "extract",
    "pagedup",
    "mentions",
    "gazetteer",
    "linked",
    "canonical",
    "triples",
)


def page_triples(pages_text: DataFrame) -> DataFrame:
    """Per-page triples: rdf:type, lang literal, warc_ts literal — one
    emit_triples pass over the pages."""
    crawled_at = F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss")
    return emit_triples(
        pages_text,
        iri(F.col("url")),
        [
            po(RDF_TYPE, iri(ONTO, "WebPage")),
            po(LANG_PRED, typed_literal(F.col("lang"), XSD_STRING)),
            po(f"<{ONTO}crawledAt>", typed_literal(crawled_at, XSD_DATETIME)),
        ],
    )


def mention_triples(linked: DataFrame, canonical: DataFrame) -> DataFrame:
    """Mention edges with objects rewritten to canonical entity IRIs.
    The canonical map is small (one row per gazetteer surface) -> broadcast."""
    rewritten = linked.join(F.broadcast(canonical), "surface").select(
        "url", F.col("canonical").alias("entity")
    )
    return rewritten.distinct().select(
        iri(F.col("url")).alias("subj"),
        F.lit(MENTIONS_PRED).alias("pred"),
        iri(ENTITY_NS, F.col("entity")).alias("obj"),
    )


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    stop_after: str | None = None,
) -> dict:
    """Run (or resume) the pipeline; returns the manifest's stage metrics.

    `stop_after` aborts after the named stage (one of STAGES) completes —
    the resume test uses it to simulate a mid-pipeline kill. Every stage runs
    with its defaults: build_gazetteer's min_pages and
    canonicalize.CANON_JACCARD, the bar the canonicalization oracle also
    imports."""
    if stop_after is not None and stop_after not in STAGES:
        raise ValueError(f"unknown stage {stop_after!r}; expected one of {STAGES}")
    cp = CheckpointManager(spark, workdir)
    out: dict[str, DataFrame] = {}

    def build_triples() -> DataFrame:
        pt = page_triples(out["pagedup"]).withColumn("graph", F.lit("pages"))
        mt = mention_triples(out["linked"], out["canonical"])
        return pt.unionByName(mt.withColumn("graph", F.lit("mentions")))

    builds = {
        "extract": lambda: extract_pages(pages),
        "pagedup": lambda: canonical_pages(out["extract"]),
        "mentions": lambda: page_mentions(out["pagedup"]),
        "gazetteer": lambda: build_gazetteer(out["mentions"]),
        "linked": lambda: link_mentions(out["mentions"], out["gazetteer"]),
        "canonical": lambda: canonical_entity_map(out["gazetteer"].select("surface")),
        "triples": build_triples,
    }
    for name in STAGES:
        out[name] = cp.run_stage(name, builds[name])
        if name == stop_after:
            break
    return cp.stage_metrics()


def load_triples(spark: SparkSession, workdir: str) -> DataFrame:
    return CheckpointManager(spark, workdir).read("triples")
