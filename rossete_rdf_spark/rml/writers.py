"""Graph sinks: N-Triples text, Turtle text, and a partitioned quad table.

The reference streams text to a single writer thread (src/materialiser.rs:
113-133, NT :135-217, TTL :220-319); here serialization is a Column
expression and the write is a distributed `.write.text` / `.write.parquet`.
Both writers emit the `a` shorthand for rdf:type like the reference's
exemplar outputs (output.nt:1)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .terms import RDF_TYPE

def _pred_out() -> F.Column:
    return F.when(F.col("pred") == RDF_TYPE, F.lit("a")).otherwise(F.col("pred"))


def nt_lines(triples: DataFrame, strict: bool = False) -> DataFrame:
    """(subj,pred,obj[,graph]) -> one `s p o .` line per triple.

    Default (strict=False) keeps the reference's quirk of emitting the Turtle
    `a` shorthand for rdf:type even in .nt output (output.nt:1; NT writer
    src/materialiser.rs:175-179) — byte-parity with the reference, but NOT
    valid N-Triples. strict=True emits the full rdf:type IRI so standard NT
    parsers/loaders accept the files."""
    pred = F.col("pred") if strict else _pred_out()
    return triples.select(
        F.concat_ws(" ", F.col("subj"), pred, F.col("obj"), F.lit(".")).alias("value")
    )


def write_nt(triples: DataFrame, path: str, strict: bool = False) -> None:
    nt_lines(triples, strict=strict).write.mode("overwrite").text(path)


def ttl_lines(triples: DataFrame) -> DataFrame:
    """Subject-grouped Turtle: `s p1 o1 ;\n\tp2 o2 .` — one aggregation on
    subj (the reference groups per row buffer, src/materialiser.rs:220-319).
    Pairs are sorted within each subject so output is deterministic across
    runs/partitionings (collect_list order is not); the graph is unchanged."""
    grouped = (
        triples.select("subj", _pred_out().alias("p"), F.col("obj"))
        .groupBy("subj")
        .agg(
            F.array_sort(
                F.collect_list(F.concat_ws(" ", F.col("p"), F.col("obj")))
            ).alias("po")
        )
    )
    return grouped.select(
        F.concat(
            F.col("subj"),
            F.lit(" "),
            F.concat_ws(" ;\n\t\t", F.col("po")),
            F.lit(" ."),
        ).alias("value")
    )


def write_ttl(triples: DataFrame, path: str) -> None:
    """No @prefix header: the reference's own TTL exemplars carry none
    (output.ttl:1 starts directly with triples)."""
    ttl_lines(triples).write.mode("overwrite").text(path)


def write_quad_table(triples: DataFrame, path: str) -> None:
    """Partitioned (subj, pred, obj, graph) table — the scale sink.

    Partitioned by `graph` (mapping/provenance id) so per-mapping reprocessing
    prunes files. On a real cluster this would be an Iceberg table with
    bucket(subj) partition transform; plain parquet keeps the sandbox
    dependency-free."""
    triples.write.mode("overwrite").partitionBy("graph").parquet(path)
