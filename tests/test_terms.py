"""Unit tests for term construction semantics (reference quirks pinned in
SURVEY.md §2 checklist)."""

from pyspark.sql import functions as F

from rossete_rdf_spark.rml.ast import ObjectTerm, Template
from rossete_rdf_spark.rml.terms import (
    RDF_TYPE,
    XSD_INTEGER,
    XSD_STRING,
    emit_triples,
    expand_curie,
    iri,
    iri_is_valid,
    object_term_column,
    po,
    template_column,
    typed_literal,
)

PREFIXES = {
    "ex:": "http://ex.org/",
    "xsd:": "http://www.w3.org/2001/XMLSchema#",
}


def test_expand_curie_known_prefix():
    assert expand_curie("ex:Thing", PREFIXES, tags=True) == "<http://ex.org/Thing>"
    assert expand_curie("ex:Thing", PREFIXES, tags=False) == "http://ex.org/Thing"


def test_expand_curie_unresolved_passthrough():
    # golden fixture behavior: ex:located stays bare (ex_out.ttl:15)
    assert expand_curie("nope:located", PREFIXES, tags=True) == "nope:located"


def test_expand_curie_unresolved_warns_once(caplog):
    # reference logs "prefix ... was not found" per token
    # (src/materialiser.rs:752-760); we warn once per distinct token
    import logging

    from rossete_rdf_spark.rml import terms

    terms._warned_prefix_tokens.discard("warn1:x")
    terms._warned_prefix_tokens.discard("warn2:x")
    with caplog.at_level(logging.WARNING, logger="rossete_rdf_spark.rml.terms"):
        expand_curie("warn1:x", PREFIXES, tags=True)
        expand_curie("warn1:x", PREFIXES, tags=True)  # repeated: no second warn
        expand_curie("warn2:x", PREFIXES, tags=True)
    msgs = [r.message for r in caplog.records if "was not found" in r.message]
    assert len(msgs) == 2
    assert any("warn1:" in m for m in msgs) and any("warn2:" in m for m in msgs)


def test_expand_curie_no_colon_unchanged():
    assert expand_curie("plain", PREFIXES, tags=True) == "plain"


def _eval(col, row: dict, spark):
    df = spark.createDataFrame([row])
    return df.select(col.alias("v")).collect()[0]["v"]


def test_template_and_space_discard(spark):
    t = Template("http://x.org/{a}/{b}")
    col = template_column(t, {"a": "a", "b": "b"})
    assert _eval(col, {"a": "1", "b": "z"}, spark) == "<http://x.org/1/z>"
    bad = _eval(col, {"a": "1", "b": "z z"}, spark)
    assert bad == "<http://x.org/1/z z>"
    df = spark.createDataFrame([{"a": "1", "b": "z z"}])
    assert df.filter(iri_is_valid(col)).count() == 0


def test_literal_always_typed_default_string(spark):
    obj = ObjectTerm(reference="r")
    col, keep = object_term_column(obj, PREFIXES, {"r": "r"})
    v = _eval(col, {"r": "None"}, spark)
    assert v == '"None"^^<http://www.w3.org/2001/XMLSchema#string>'


def test_literal_datatype_unvalidated(spark):
    obj = ObjectTerm(reference="r", datatype="xsd:int")
    col, _ = object_term_column(obj, PREFIXES, {"r": "r"})
    # lexical form is NOT validated against the datatype (ex_out.ttl:2)
    assert _eval(col, {"r": "None"}, spark) == '"None"^^<http://www.w3.org/2001/XMLSchema#int>'


def test_empty_reference_drops_term(spark):
    obj = ObjectTerm(reference="r")
    _, keep = object_term_column(obj, PREFIXES, {"r": "r"})
    df = spark.createDataFrame([{"r": ""}])
    assert df.filter(keep).count() == 0


def test_constant_string_is_iri_wrapped(spark):
    obj = ObjectTerm(constant_string="http://static.org/x")
    col, _ = object_term_column(obj, PREFIXES, {})
    assert _eval(col, {"d": 1}, spark) == "<http://static.org/x>"


def test_constant_term_is_typed_literal(spark):
    # bare rr:constant CURIE -> expanded, emitted as typed literal
    # (reference src/materialiser.rs:521-527 -> kind 3)
    obj = ObjectTerm(constant_term="ex:Kind")
    col, _ = object_term_column(obj, PREFIXES, {})
    v = _eval(col, {"d": 1}, spark)
    assert v == '"http://ex.org/Kind"^^<http://www.w3.org/2001/XMLSchema#string>'


def test_termtype_iri_and_blanknode_wrap(spark):
    for tt in ("IRI", "BlankNode"):
        obj = ObjectTerm(reference="r", termtype=tt)
        col, _ = object_term_column(obj, PREFIXES, {"r": "r"})
        assert _eval(col, {"r": "http://v.org/1"}, spark) == "<http://v.org/1>"


def test_object_template_break_ignores_datatype(spark):
    obj = ObjectTerm(template=Template("http://t.org/{r}"), datatype="xsd:int")
    col, _ = object_term_column(obj, PREFIXES, {"r": "r"})
    assert _eval(col, {"r": "9"}, spark) == "<http://t.org/9>"


def test_emit_triples_matches_python_expansion(spark):
    # keep=False and NULL-valued keep conditions drop just that term of the
    # row; rows and terms come out in input order
    rows = [("s1", "a", 1), ("s2", "", 2), ("s3", None, 3), ("s4", "d", None)]
    df = spark.createDataFrame(rows, "s string, v string, n int")
    subj = iri("http://ex.org/", F.col("s"))
    terms = [
        po(RDF_TYPE, iri("http://ex.org/T")),
        po("<p:v>", typed_literal(F.col("v"), XSD_STRING), F.col("v") != ""),
        po("<p:n>", iri("http://ex.org/n/", F.col("n")), F.col("n") % 2 == 1),
    ]
    expected = []
    for s, v, n in rows:
        expected.append((f"<http://ex.org/{s}>", RDF_TYPE, "<http://ex.org/T>"))
        if v:
            expected.append((f"<http://ex.org/{s}>", "<p:v>", f'"{v}"^^{XSD_STRING}'))
        if n is not None and n % 2 == 1:
            expected.append((f"<http://ex.org/{s}>", "<p:n>", f"<http://ex.org/n/{n}>"))
    got = emit_triples(df, subj, terms).collect()
    assert [tuple(r) for r in got] == expected

    # no term can be NULL: every row yields every term
    non_null = [
        po(RDF_TYPE, iri("http://ex.org/T")),
        po("<p:n>", typed_literal(F.col("n"), XSD_INTEGER)),
    ]
    got = emit_triples(df.fillna({"n": 0}), subj, non_null).collect()
    expected = [
        t
        for s, _v, n in rows
        for t in (
            (f"<http://ex.org/{s}>", RDF_TYPE, "<http://ex.org/T>"),
            (f"<http://ex.org/{s}>", "<p:n>", f'"{n or 0}"^^{XSD_INTEGER}'),
        )
    ]
    assert [tuple(r) for r in got] == expected
