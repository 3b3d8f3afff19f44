"""Synthetic large-scale RML materialization job — the scaling workload.

Builds child/parent relations with `spark.range` (fully distributed, no
external data), then runs the engine's core operators at scale:
  P2 projected-field dedup (first_occurrence_dedup)
  P3 subject minting (template concat + space-discard)
  J1 referencing-object-map join with first-match parent collapse
  P4/P5 multi-predicate emit in the compiler's single pass (emit_triples)
  W1 triple assembly
This is the join/shuffle-dominated heart of graph materialization — the part
whose throughput determines 100 TB feasibility — expressed with exactly the
same primitives the queries use (first_occurrence_dedup, first_match_join
and terms.emit_triples)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .compiler import first_match_join, first_occurrence_dedup
from .terms import XSD_INTEGER, emit_triples, iri, iri_is_valid, po, typed_literal


PARENT_FANOUT = 4  # parent rows per join key: the first-match collapse's input


def rml_materialize_job(spark: SparkSession, n_child: int, partitions: int = 64) -> int:
    """Materialize `child -> parent` reference triples for n_child rows
    against a parent table with PARENT_FANOUT duplicate rows per key
    (exercising the first-match collapse). Returns the triple count."""
    n_parent_keys = max(n_child // 10, 1)

    child = spark.range(0, n_child, 1, partitions).select(
        F.col("id").alias("c_id"),
        (F.col("id") % n_parent_keys).alias("c_ref"),
        (F.col("id") % 97).alias("c_attr"),
    )
    parent = spark.range(0, n_parent_keys * PARENT_FANOUT, 1, partitions).select(
        (F.col("id") % n_parent_keys).alias("p_key"),
        F.col("id").alias("p_rid"),
        F.md5(F.col("id").cast("string")).alias("p_name"),
    )

    # P2: dedup child on its projected fields, first occurrence by ingest id
    # (the engine's own primitive: one aggregation, no sort exchange).
    # NOTE (r6, measured): pre-partitioning the dedup by the join key to
    # share one exchange (guide §2.4) was tried — dedup keyed by c_ref +
    # shuffle_hash-hinted join, one 40M-row shuffle instead of two — and ran
    # 25% SLOWER at 1 core (15.2s vs 12.0s on 10M rows, interleaved reps,
    # clean probes): the planner's two-exchange shape lets AQE rewrite the
    # join to shuffled-hash from bare shuffle stages and keeps the partial
    # aggregation below the exchange. Kept the planner shape.
    child = first_occurrence_dedup(child, ["c_id", "c_ref"], order_col="c_attr")

    # J1: first parent row per join key by ingest order
    joined = first_match_join(child, parent, [("c_ref", "p_key")], order_col="p_rid")

    # P3-P5 + W1: mint the subject IRI, then emit ALL scalar predicates in
    # the compiler's single pass (terms.emit_triples) — a class triple, two
    # typed literals, and the referencing-object triple. This matches what
    # materialize_map really does per row (real TriplesMaps carry several
    # predicateObjectMaps), not a one-triple strawman.
    terms = [
        po("a", iri("http://ex.org/Child")),
        po("<http://ex.org/id>", typed_literal(F.col("c_id"), XSD_INTEGER)),
        po("<http://ex.org/attr>", typed_literal(F.col("c_attr"), XSD_INTEGER)),
        po("<http://ex.org/ref>", iri("http://ex.org/parent/", F.col("p_name"))),
    ]
    subj = iri("http://ex.org/child/", F.col("c_id"))
    triples = emit_triples(joined, subj, terms).filter(iri_is_valid(F.col("subj")))
    return triples.count()
