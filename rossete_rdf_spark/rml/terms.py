"""RDF term construction as Spark Column expressions.

All term logic stays JVM-side (concat/when/filter on Columns) so Catalyst can
prune/prune-pushdown and whole-stage-codegen the whole triple build — the
reference does this per row in Rust (src/materialiser.rs:394-545); at 100 TB
a per-row Python path would be the bottleneck, so there are NO UDFs here.

Terms are stored as final N-Triples tokens:
  IRIs      ->  <http://...>
  literals  ->  "lexical"^^<datatype-iri>   (always typed; default xsd:string,
                reference src/materialiser.rs:481,533-535)
  raw passthrough (unresolved prefix) -> the bare CURIE token

Every triple producer in the package builds its terms with these four (a
single-predicate frame stays a plain select over iri/typed_literal):
  iri(*parts)                    <...> around literal text and row values
  typed_literal(value, dt)       "value"^^dt
  po(pred, obj, keep=None)       one (pred, obj) struct, NULL where keep fails
  emit_triples(df, subj, terms)  one pass: explode the po structs, drop the
                                 NULL ones, select (subj, pred, obj)
template_column and object_term_column (the RML term maps) build through
iri and typed_literal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ast import ObjectTerm, Template

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_STRING = "<http://www.w3.org/2001/XMLSchema#string>"
XSD_INTEGER = "<http://www.w3.org/2001/XMLSchema#integer>"
XSD_DATETIME = "<http://www.w3.org/2001/XMLSchema#dateTime>"

# warn-once registry for unresolved prefixes, mirroring the reference's
# per-token "prefix ... was not found" log (src/materialiser.rs:752-760):
# expansion happens at COMPILE time on the driver (tokens come from the
# mapping document, not from data rows), so a plain module-level set is the
# right granularity — one warning per distinct token per process.
_warned_prefix_tokens: set[str] = set()


def expand_curie(token: str, prefixes: dict[str, str], tags: bool) -> str:
    """Prefix expansion with the reference's exact quirks
    (src/materialiser.rs:742-771):
    - no ':' in token -> returned unchanged
    - `pre:local` with known prefix -> expanded; wrapped <...> when tags
    - unknown prefix -> the raw token passes through un-wrapped
      (golden fixture: `ex:located` stays a bare CURIE, ex_out.ttl:15)
    Prefix keys include the trailing ':' like the reference's map.
    """
    if ":" not in token:
        return token
    prefix, local = token.split(":", 1)
    key = prefix + ":"
    if key in prefixes:
        expanded = prefixes[key] + local
        return f"<{expanded}>" if tags else expanded
    # unresolved-prefix passthrough, warned once per distinct token like the
    # reference (src/materialiser.rs:752-760). Deliberate divergence on the
    # VALUE: the reference appends two trailing spaces to the raw token
    # (`format!("{token}  ")`); we return it bare — the graph comparator
    # trims terms, so golden parity is unaffected, and the bare form
    # round-trips through the writers without a double space.
    if token not in _warned_prefix_tokens:
        _warned_prefix_tokens.add(token)
        import logging

        logging.getLogger(__name__).warning(
            "prefix '%s' was not found in the document prefixes; "
            "passing token %r through unexpanded", key, token
        )
    return token


def iri(*parts: str | Column) -> Column:
    """`<...>` around `parts`: a str part is literal IRI text, a Column part
    a row value (all-text parts constant-fold to one literal)."""
    cols = [F.lit(p) if isinstance(p, str) else p for p in parts]
    return F.concat(F.lit("<"), *cols, F.lit(">"))


def typed_literal(value: Column, dt: str) -> Column:
    """`"value"^^dt`, dt an N-Triples datatype token. concat, not
    format_string: String.format allocates per call and was the dominant
    cost of the term pass (UTF8String concat is ~2x faster)."""
    return F.concat(F.lit('"'), value, F.lit(f'"^^{dt}'))


def po(pred: str, obj: Column, keep: Column | None = None) -> Column:
    """One (pred, obj) term struct for emit_triples; NULL where `keep` is
    false, so emit_triples drops that term for the row."""
    term = F.struct(F.lit(pred).alias("pred"), obj.alias("obj"))
    return term if keep is None else F.when(keep, term)


def emit_triples(df: DataFrame, subj: Column, terms: list[Column]) -> DataFrame:
    """(subj, pred, obj) for every po() term of every row, in ONE pass over
    `df`: explode the term array, then drop NULL terms on the exploded rows.
    A union of per-predicate frames would scan `df` once per predicate; a
    lambda filter inside the array would run as an interpreted per-element
    function. When no term can be NULL, Catalyst prunes the filter."""
    return (
        df.select(subj.alias("subj"), F.explode(F.array(*terms)).alias("t"))
        .filter(F.col("t").isNotNull())
        .select("subj", F.col("t.pred").alias("pred"), F.col("t.obj").alias("obj"))
    )


def template_column(template: Template, colmap: dict[str, str]) -> Column:
    """Fill {field} placeholders with row values and wrap <...>
    (reference format_uri, src/materialiser.rs:406-429). The space-discard
    rule is applied by the caller as a filter so the whole row can be
    dropped for subjects."""
    parts: list[str | Column] = []
    for i, chunk in enumerate(template.chunks):
        if chunk:
            parts.append(chunk)
        if i < len(template.fields):
            parts.append(F.col(colmap[template.fields[i]]))
    return iri(*parts)


def iri_is_valid(iri_col: Column) -> Column:
    """format_uri discards any minted IRI containing a space
    (src/materialiser.rs:422-425)."""
    return ~iri_col.contains(" ")


def object_term_column(
    obj: ObjectTerm, prefixes: dict[str, str], colmap: dict[str, str]
) -> tuple[Column, Column]:
    """Build (object_column, keep_condition) for a non-join objectMap.

    Mirrors term_from_object (src/materialiser.rs:479-545):
      kind 0 template -> minted IRI (space -> drop)
      kind 1 IRI      -> <value>      (constant string, or termType IRI/BlankNode)
      kind 3 literal  -> "value"^^<dt>, dt default xsd:string, never plain
    Empty reference value -> term dropped (predicate omitted for that row).
    """
    termtype = obj.termtype or ""
    as_iri = "IRI" in termtype or "BlankNode" in termtype

    if obj.template is not None:
        col = template_column(obj.template, colmap)
        return col, iri_is_valid(col)

    if obj.constant_string is not None:
        # quoted rr:constant -> IRI-wrapped (src/materialiser.rs:516-520)
        return iri(obj.constant_string), F.lit(True)

    if obj.constant_term is not None:
        # bare rr:constant -> prefix-expanded *without* tags, then emitted as
        # a typed literal (src/materialiser.rs:521-527 -> kind 3)
        value = expand_curie(obj.constant_term, prefixes, tags=False)
        dt = expand_curie(obj.datatype or "xsd:string", prefixes, tags=True)
        return typed_literal(F.lit(value), dt), F.lit(True)

    # rml:reference
    ref_col = F.col(colmap[obj.reference])
    keep = ref_col.isNotNull() & (ref_col != "")
    if as_iri:
        return iri(ref_col), keep
    dt = expand_curie(obj.datatype or "xsd:string", prefixes, tags=True)
    return typed_literal(ref_col, dt), keep
