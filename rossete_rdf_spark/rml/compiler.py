"""Compile TriplesMap ASTs into Spark DataFrame plans.

Each TriplesMap becomes one declarative DataFrame pipeline producing
(subj, pred, obj, graph) string columns; all maps union together. Where the
reference runs a per-row SQLite lookup under a global mutex for referencing
object maps (src/materialiser.rs:547-616 — effectively serialized), we run
one set-oriented distributed join per referencing predicate, with the parent
side collapsed to its FIRST matching row per join key to preserve the
reference's `query_row` first-match semantics (src/materialiser.rs:573-580).

Scale notes (100 TB design point):
- term construction is pure Column exprs -> whole-stage codegen, no Python
- ingest-order ties are broken by two primitives, both one aggregation
  with map-side partials and no row_number window: first_occurrence_dedup
  (per-map dedup, P2) and first_match_join (parent collapse + equi-join, J1)
- the referencing join is an equi-join that AQE can broadcast (small dims)
  or skew-split (hub keys); no driver-side loops
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ast import JoinObject, ObjectTerm, TriplesMap
from .config import EngineConfig
from .sources import RID, colmap_for, load_logical_source, sanitize
from .terms import (
    RDF_TYPE,
    emit_triples,
    expand_curie,
    iri,
    iri_is_valid,
    object_term_column,
    po,
    template_column,
)


def _same_source(a: TriplesMap, b: TriplesMap) -> bool:
    return a.source.source == b.source.source and (a.source.iterator or "") == (
        b.source.iterator or ""
    )


def first_occurrence_dedup(df: DataFrame, keys: list[str], order_col: str = RID) -> DataFrame:
    """DISTINCT on `keys` keeping the first row by `order_col` — the
    reference's `GROUP BY fields HAVING MIN(col_id)` (src/materialiser.rs:358)
    and its ingest-time duplicate delete (src/input.rs:454-466): one
    aggregation, `min_by(c, order_col)` per carried column plus
    `min(order_col)`, in `df`'s column order.

    Precondition: when columns other than `keys` and `order_col` are
    carried, `order_col` is unique per key, so every min_by picks the same
    row (`__rid` is unique; so is any primary-key packing).

    The aggregate kind follows the carried columns: all fixed-width keeps
    every buffer primitive -> whole-stage HashAggregate; a string carried
    makes min_by's buffer immutable -> SortAggregate. Either way it is an
    aggregation with map-side partials, not a row_number window (a full
    sort exchange on the keys: measured 3.6x slower at 4 cores, and it did
    not scale with cores — 4.9s->6.1s from 1 to 4 cores on 10M rows)."""
    carried = [c for c in df.columns if c not in keys and c != order_col]
    return (
        df.groupBy(*keys)
        .agg(
            *[F.min_by(c, order_col).alias(c) for c in carried],
            F.min(order_col).alias(order_col),
        )
        .select(*df.columns)
    )


def first_match_join(
    child: DataFrame, parent: DataFrame, on: list[tuple[str, str]], order_col: str
) -> DataFrame:
    """Inner equi-join of `child` to the FIRST `parent` row by `order_col`
    per join key — the set-oriented form of the reference's per-child-row
    `query_row` first-match lookup (src/materialiser.rs:573-580). `on` holds
    (child column, parent column) pairs, ANDed; the parent collapses with
    first_occurrence_dedup BEFORE the join, so the collapsed side is
    broadcastable when small. Returns child's columns plus the collapsed
    parent's (its `order_col` included)."""
    first = first_occurrence_dedup(parent, [p for _c, p in on], order_col)
    cond = [child[c] == first[p] for c, p in on]
    return child.join(first, cond or None, "inner")


def materialize_map(
    spark: SparkSession,
    tmap: TriplesMap,
    maps_by_name: dict[str, TriplesMap],
    config: EngineConfig | None = None,
) -> DataFrame:
    """One TriplesMap -> DataFrame(subj, pred, obj, graph)."""
    own_fields = tmap.referenced_fields()

    # Self-join parents need the parent's subject-template fields from the
    # SAME row (reference short-circuits to a col_id == col_id lookup,
    # src/materialiser.rs:673-677): project them too, but keep them OUT of
    # the dedup keys — the reference dedups on the map's own fields only and
    # then fetches the kept row's other columns by rowid.
    extra_fields: list[str] = []
    for pom in tmap.poms:
        if isinstance(pom.object, JoinObject):
            parent = maps_by_name.get(pom.object.parent_map)
            if parent is not None and _same_source(tmap, parent):
                for f in parent.subject.template.fields:
                    if f not in own_fields and f not in extra_fields:
                        extra_fields.append(f)

    all_fields = own_fields + extra_fields
    cmap = colmap_for(all_fields)
    child = load_logical_source(spark, tmap.source, all_fields, config=config)
    dedup_keys = [cmap[f] for f in own_fields]
    if dedup_keys:
        child = first_occurrence_dedup(child, dedup_keys)

    subj = template_column(tmap.subject.template, cmap)
    child = child.withColumn("subj", subj).filter(iri_is_valid(F.col("subj")))

    graph_iri = tmap.subject.graph or tmap.name
    frames: list[DataFrame] = []

    # All scalar (non-join) predicates — including the rr:class triple and
    # same-source self-joins — are emitted in ONE pass over the source by
    # terms.emit_triples, each term a po() struct nulled where its
    # keep-condition fails. A union of per-predicate frames would re-scan
    # the source once per predicate; at 100 TB that's the difference between
    # 1 and N passes.
    scalar_terms: list = []

    if tmap.subject.rr_class:
        cls = expand_curie(tmap.subject.rr_class, tmap.prefixes, tags=True)
        scalar_terms.append(po(RDF_TYPE, F.lit(cls)))

    for pom in tmap.poms:
        pred = expand_curie(pom.predicate, tmap.prefixes, tags=True)
        if isinstance(pom.object, ObjectTerm):
            obj_col, keep = object_term_column(pom.object, tmap.prefixes, cmap)
            scalar_terms.append(po(pred, obj_col, keep))
        else:
            parent = maps_by_name.get(pom.object.parent_map)
            if parent is not None and _same_source(tmap, parent):
                # J2 self-join: same-row compute, stays in the single pass
                obj_col = template_column(parent.subject.template, cmap)
                scalar_terms.append(po(pred, obj_col, iri_is_valid(obj_col)))
            else:
                frames.append(
                    _join_pom_frame(
                        spark, tmap, pom.object, pred, child, cmap, maps_by_name,
                        config=config,
                    )
                )

    if scalar_terms:
        frames.insert(0, emit_triples(child, F.col("subj"), scalar_terms))

    if not frames:
        frames = [
            child.select(
                F.col("subj"),
                F.lit(RDF_TYPE).alias("pred"),
                iri("http://www.w3.org/2000/01/rdf-schema#Resource").alias("obj"),
            ).limit(0)
        ]

    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.withColumn("graph", F.lit(graph_iri))


def _join_pom_frame(
    spark: SparkSession,
    tmap: TriplesMap,
    join: JoinObject,
    pred: str,
    child: DataFrame,
    cmap: dict[str, str],
    maps_by_name: dict[str, TriplesMap],
    config: EngineConfig | None = None,
) -> DataFrame:
    """Referencing object map -> (subj, pred, parentIRI) frame.

    Reference semantics (src/materialiser.rs:547-740): per child row, take the
    FIRST parent row (by ingest order) whose parent fields equal the child's
    join-condition values; no match -> no triple; the parent's subject
    template mints the object IRI (space-discard applies). Same-source
    parents never get here: materialize_map computes them in its scalar
    pass."""
    parent_map = maps_by_name.get(join.parent_map)
    if parent_map is None:
        raise KeyError(f"{tmap.name}: unknown parentTriplesMap {join.parent_map}")

    parent_fields: list[str] = list(parent_map.subject.template.fields)
    for _child_f, parent_f in join.conditions:
        if parent_f not in parent_fields:
            parent_fields.append(parent_f)
    pmap_cols = {f: "p_" + sanitize(f) for f in parent_fields}

    parent_df = load_logical_source(spark, parent_map.source, parent_fields, config=config)
    parent_df = parent_df.select(
        *[F.col(sanitize(f)).alias(pmap_cols[f]) for f in parent_fields],
        F.col(RID).alias("__prid"),
    )
    on = [(cmap[c], pmap_cols[p]) for c, p in join.conditions]
    joined = first_match_join(child, parent_df, on, order_col="__prid")
    obj_col = template_column(parent_map.subject.template, pmap_cols)
    return joined.filter(iri_is_valid(obj_col)).select(
        "subj", F.lit(pred).alias("pred"), obj_col.alias("obj")
    )


def materialize_all(
    spark: SparkSession, maps: list[TriplesMap], config: EngineConfig | None = None
) -> DataFrame:
    """Union of all TriplesMaps' triples: the full graph as one DataFrame."""
    by_name = {m.name: m for m in maps}
    frames = [materialize_map(spark, m, by_name, config=config) for m in maps]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
