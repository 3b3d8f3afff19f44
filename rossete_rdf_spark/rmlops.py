"""Driver-contract queries that exercise the REAL RML engine (parser ->
compiler -> triples) over the synthetic parquet tables, so the DuckDB oracle
can check the engine's operator semantics (subject minting, space-discard,
class triples, typed literals, referencing-object-map join, self-join)
end-to-end on data DuckDB can see."""

from __future__ import annotations

import csv
import json
import os

from pyspark.sql import DataFrame, SparkSession

from .rml.compiler import materialize_all
from .rml.config import EngineConfig, FileSpec
from .rml.parser import parse_mapping_text
from .rml.writers import nt_lines, ttl_lines
from .tables import scratch_dir, table_path

_PREFIXES = """
@prefix rr: <http://www.w3.org/ns/r2rml#>.
@prefix rml: <http://semweb.mmlab.be/ns/rml#>.
@prefix ex: <http://ex.org/>.
@prefix xsd: <http://www.w3.org/2001/XMLSchema#>.
"""


def _run(
    spark: SparkSession, mapping: str, config: EngineConfig | None = None
) -> DataFrame:
    maps = parse_mapping_text(mapping)
    return materialize_all(spark, maps, config=config).select("subj", "pred", "obj")


def rml_nation_region_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class triples + typed literals + a cross-source referencing join
    (nation -> region), all through the mapping engine."""
    mapping = (
        _PREFIXES
        + f"""
<#NationMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/nation.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/nation/{{n_nationkey}}"; rr:class ex:Nation ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "n_name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:key;
    rr:objectMap [ rml:reference "n_nationkey"; rr:datatype xsd:integer ] ];
  rr:predicateObjectMap [ rr:predicate ex:inRegion;
    rr:objectMap [ rr:parentTriplesMap <#RegionMap>;
      rr:joinCondition [ rr:child "n_regionkey"; rr:parent "r_regionkey" ]; ]; ].

<#RegionMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/region.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/region/{{r_regionkey}}"; rr:class ex:Region ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "r_name" ] ].
"""
    )
    return _run(spark, mapping)


def rml_subject_space_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject minting over a field whose values sometimes contain spaces
    (o_orderpriority, e.g. '4-NOT SPECIFIED') — those rows are discarded
    whole (reference src/materialiser.rs:422-425); dedup on the projected
    fields collapses orders to distinct (priority, status) combos."""
    mapping = (
        _PREFIXES
        + f"""
<#PrioMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/orders.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/prio/{{o_orderpriority}}/{{o_orderstatus}}";
                  rr:class ex:PriorityStatus ];
  rr:predicateObjectMap [ rr:predicate ex:status;
    rr:objectMap [ rml:reference "o_orderstatus" ] ].
"""
    )
    return _run(spark, mapping)


def rml_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referencing object map whose parent shares the logical source: the
    reference short-circuits to the same physical row (J2,
    src/materialiser.rs:673-677) — the object template is computed from the
    child row, no join executed."""
    mapping = (
        _PREFIXES
        + f"""
<#OrderMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/orders.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/order/{{o_orderkey}}" ];
  rr:predicateObjectMap [ rr:predicate ex:by;
    rr:objectMap [ rr:parentTriplesMap <#CustRefMap>;
      rr:joinCondition [ rr:child "o_orderkey"; rr:parent "o_orderkey" ]; ]; ].

<#CustRefMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/orders.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/customer/{{o_custkey}}" ].
"""
    )
    return _run(spark, mapping)


def rml_constant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant objectMaps + unresolved-prefix passthrough: quoted constants
    IRI-wrap, bare CURIE constants expand to typed literals, and a predicate
    with an undeclared prefix passes through raw."""
    mapping = (
        _PREFIXES
        + f"""
<#RegionConst> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/region.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/region/{{r_regionkey}}" ];
  rr:predicateObjectMap [ rr:predicate ex:seeAlso;
    rr:objectMap [ rr:constant "http://example.org/static" ] ];
  rr:predicateObjectMap [ rr:predicate ex:kind;
    rr:objectMap [ rr:constant ex:RegionKind ] ];
  rr:predicateObjectMap [ rr:predicate missing:pred;
    rr:objectMap [ rml:reference "r_name" ] ].
"""
    )
    return _run(spark, mapping)


def rml_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV scan through the engine, oracle-checkable: the nation table is
    exported (driver-side, deterministic, sorted) to a ';'-delimited CSV with
    header, then mapped via a LogicalSource + per-file FileSpec — exercising
    the reference's CSV reader semantics (header map, configured delimiter,
    all-TEXT values; src/input.rs:252-318, config src/config.rs:364-374).
    The DuckDB oracle reads the same rows from the nation parquet view."""
    import pyarrow.parquet as pq

    path = os.path.join(scratch_dir(sf_dir, "src_fixtures"), "nation.csv")
    tbl = pq.read_table(
        table_path(sf_dir, "nation"),
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    rows = sorted(tbl.to_pylist(), key=lambda r: r["n_nationkey"])
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, delimiter=";")
        w.writerow(["n_nationkey", "n_name", "n_regionkey"])
        for r in rows:
            w.writerow([r["n_nationkey"], r["n_name"], r["n_regionkey"]])

    cfg = EngineConfig(file_specs={path: FileSpec(delimiter=";")})
    mapping = (
        _PREFIXES
        + f"""
<#NationCsv> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{path}"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/nation/{{n_nationkey}}"; rr:class ex:Nation ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "n_name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:key;
    rr:objectMap [ rml:reference "n_nationkey"; rr:datatype xsd:integer ] ].
"""
    )
    return _run(spark, mapping, config=cfg)


def rml_json_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 JSON scan with a NESTED JSONPath iterator ($.regions[*].nations[*])
    through the engine: region+nation are exported (driver-side,
    deterministic) as one nested JSON document, exercising per-match field
    extraction like the reference's JSONPath evaluation
    (src/input.rs:333-392). Oracle reads the nation parquet view."""
    import pyarrow.parquet as pq

    path = os.path.join(scratch_dir(sf_dir, "src_fixtures"), "regions_nested.json")
    regions = sorted(
        pq.read_table(
            table_path(sf_dir, "region"), columns=["r_regionkey", "r_name"]
        ).to_pylist(),
        key=lambda r: r["r_regionkey"],
    )
    nations = sorted(
        pq.read_table(
            table_path(sf_dir, "nation"),
            columns=["n_nationkey", "n_name", "n_regionkey"],
        ).to_pylist(),
        key=lambda r: r["n_nationkey"],
    )
    doc = {
        "regions": [
            {
                "r_name": reg["r_name"],
                "nations": [
                    {"n_nationkey": n["n_nationkey"], "n_name": n["n_name"]}
                    for n in nations
                    if n["n_regionkey"] == reg["r_regionkey"]
                ],
            }
            for reg in regions
        ]
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, sort_keys=True)

    mapping = (
        _PREFIXES
        + f"""
<#NationJson> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{path}";
    rml:referenceFormulation ql:JSONPath;
    rml:iterator "$.regions[*].nations[*]" ];
  rr:subjectMap [ rr:template "http://ex.org/nation/{{n_nationkey}}" ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "n_name" ] ].
"""
    )
    return _run(spark, mapping)


def nt_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: N-Triples text lines for the nation/region graph — one `s p o .`
    string per triple with the reference's `a` shorthand quirk
    (src/materialiser.rs:135-217, output.nt:1)."""
    return nt_lines(rml_nation_region_graph(spark, sf_dir))


def ttl_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: Turtle text lines — triples grouped by subject with `;`
    continuations (src/materialiser.rs:220-319), predicate-object pairs
    sorted within each subject for deterministic output."""
    return ttl_lines(rml_nation_region_graph(spark, sf_dir))


def rml_graph_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rr:graphMap demo: the reference parses graphMap but never materializes
    it (no GraphMap arm in src/materialiser.rs — SURVEY §2 quirk 7); we carry
    it through as the quad table's `graph` column (falling back to the map
    name for provenance when absent)."""
    mapping = (
        _PREFIXES
        + f"""
<#RegionQuads> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{sf_dir}/region.parquet" ];
  rr:subjectMap [ rr:template "http://ex.org/region/{{r_regionkey}}";
                  rr:graphMap [ rr:constant <http://ex.org/graph/regions> ] ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "r_name" ] ].
"""
    )
    maps = parse_mapping_text(mapping)
    return materialize_all(spark, maps).select("subj", "pred", "obj", "graph")
