"""KG-construction ops over the `documents` table (the driver-checkable,
batch face of the web-pipeline stages in pipeline/):

  kg_mentions     mentions_from: mention detection (term extraction) over text
  kg_entity_link  dictionary-based entity linking (corpus-derived gazetteer)
  kg_doc_triples  doc_triples_from: RML-style triple materialisation

These are the same shapes the web pipeline runs over (url, warc_ts, html,
text, lang) pages; here they run over the synthetic documents table so the
driver can oracle-check them in DuckDB. Tokenization is shared outright:
eligible_tokens is the pipeline's mentions stage too (keyed by url).

Scan discipline (the 100 TB concern): `kg_doc_triples` reads `documents`
exactly twice — one column-pruned scan of the metadata columns (doc_id, lang,
n_chars, source) expanded to four triples per row by rml/terms.emit_triples
(the compiler's single pass), and one scan of (doc_id, text) for the mention
chain. The gazetteer is a hash aggregate over the mention rows broadcast back
onto them — no second tokenization pass, no shuffle of the fact side, and no
window sort on the (potentially hub-skewed) term key."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rml.terms import RDF_TYPE, XSD_INTEGER, XSD_STRING, emit_triples, iri, po, typed_literal
from .textops.common import words_col

MIN_MENTION_LEN = 4
MIN_ENTITY_DOCS = 20  # a term is an "entity" if it appears in >= N distinct docs
ENTITY_NS = "http://kg.example.com/entity/"
DOC_NS = "http://kg.example.com/doc/"
ONTO = "http://kg.example.com/ontology#"
MENTIONS_PRED = f"<{ONTO}mentions>"
LANG_PRED = f"<{ONTO}lang>"


def eligible_tokens(docs: DataFrame, key: str, out_col: str) -> DataFrame:
    """(<key>, <out_col>) token stream of mention-ELIGIBLE terms of `text`
    (length >= MIN_MENTION_LEN) — the single definition of eligibility,
    shared by the registry's kg_* twin, entity canonicalization and the
    pipeline's mentions stage, so none of them can silently see a
    different surface set.

    Domain: tokens split on Java `\\s`, which is ASCII `[ \\t\\n\\x0B\\f\\r]`.
    Unicode spaces (NBSP, U+3000, `\\x1c`-`\\x1f`) do NOT split, so
    "alpha\\xa0beta" is one token; on ASCII-whitespace text the stream
    equals Python's `[w for w in t.split() if len(w) >= 4]`."""
    return docs.select(
        key, F.explode(words_col(F.col("text"))).alias(out_col)
    ).filter(F.length(out_col) >= MIN_MENTION_LEN)


def mentions_from(docs: DataFrame) -> DataFrame:
    """(doc_id, mention, n_occurrences) — eligible tokens counted per doc.
    Explode + count: one shuffle keyed by (doc_id, mention)."""
    return eligible_tokens(docs, "doc_id", "mention").groupBy("doc_id", "mention").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


def linked_mentions_from(docs: DataFrame) -> DataFrame:
    """Mention rows whose term clears the gazetteer bar, plus n_docs.

    Because mentions_from is already one row per (doc_id, mention), the
    per-term distinct-doc count is a plain groupBy(mention).count() hash
    aggregate; the (small, threshold-filtered) gazetteer broadcasts back
    onto the mention rows. NOT a count() window over mention: WindowExec
    sorts each partition by the key — the shape that inverts under
    parallelism here (BENCH.md) — and a hub term's partition can't be
    skew-split by AQE, whereas the hash agg takes map-side partials and the
    broadcast join never shuffles the fact side. Catalyst's ReuseExchange
    dedupes the shared mention-aggregate subtree, so `documents` is still
    scanned exactly once (asserted in tests/test_plans.py)."""
    m = mentions_from(docs)
    # max(n_occurrences) > 0 is always true (counts are >= 1) — it exists so
    # the optimizer cannot prune n_occurrences out of this branch: pruned,
    # the two (doc_id, mention) partial aggregates stop being canonically
    # equal and AQE re-scans + re-tokenizes the corpus for the gazetteer
    # instead of reusing the mention shuffle stage (verified in
    # tests/test_plans.py: one scan, one exchange, reused)
    gaz = (
        m.groupBy("mention")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.max("n_occurrences").alias("__t"))
        .filter((F.col("n_docs") >= MIN_ENTITY_DOCS) & (F.col("__t") > 0))
        .drop("__t")
    )
    return m.join(F.broadcast(gaz), "mention").select(
        "doc_id", "mention", "n_occurrences", "n_docs"
    )


def kg_entity_link(docs: DataFrame) -> DataFrame:
    """(doc_id, mention, entity_iri, n_occurrences) — mention rows whose term
    is in the corpus gazetteer."""
    return linked_mentions_from(docs).select(
        "doc_id",
        "mention",
        F.concat(F.lit(ENTITY_NS), F.col("mention")).alias("entity_iri"),
        "n_occurrences",
    )


def doc_triples_from(docs: DataFrame) -> DataFrame:
    """RML-style (subj, pred, obj) triples for a documents DataFrame:
    rdf:type, lang + n_chars literals (always-typed, reference semantics),
    source IRI, and one `mentions` edge per linked entity.

    The four per-document triples come from ONE metadata scan via
    rml/terms.emit_triples; the mention edges reuse the shared mention
    aggregate. Shared by kg_doc_triples, kg_predicate_stats,
    kg_bgp_entity_lang, and kg_triples_delta so every triple consumer sees
    the identical materialisation."""
    per_doc = emit_triples(
        docs,
        iri(DOC_NS, F.col("doc_id")),
        [
            po(RDF_TYPE, iri(ONTO, "Document")),
            po(LANG_PRED, typed_literal(F.col("lang"), XSD_STRING)),
            po(f"<{ONTO}nChars>", typed_literal(F.col("n_chars"), XSD_INTEGER)),
            po(f"<{ONTO}source>", iri("http://kg.example.com/source/", F.col("source"))),
        ],
    )

    t_ment = (
        linked_mentions_from(docs)
        # always-true (counts are >= 1): stops the optimizer pruning
        # n_occurrences out of this branch, which would desynchronize it
        # from the gazetteer branch's aggregate and defeat AQE stage reuse
        # (same trick as linked_mentions_from; plan-asserted in test_plans)
        .filter(F.col("n_occurrences") > 0)
        .select(
            iri(DOC_NS, F.col("doc_id")).alias("subj"),
            F.lit(MENTIONS_PRED).alias("pred"),
            iri(ENTITY_NS, F.col("mention")).alias("obj"),
        )
        .distinct()
    )
    return per_doc.unionByName(t_ment)


def kg_predicate_stats(docs: DataFrame) -> DataFrame:
    """VoID-style dataset summary over the materialised triple table:
    per predicate, the triple count and the distinct subject/object counts.

    The first thing anyone runs against a fresh KG (reference analogue: the
    triple-count log line after materialisation, src/main.rs stage timers).
    Plan shape: the two exact count(DISTINCT) plus count(*) compile to ONE
    Expand(3x)+two-phase hash aggregate keyed by pred — map-side partials
    absorb the per-predicate fan-in, so a hot predicate (rdf:type is ~1/5 of
    every real KG) costs a skewed-but-partial-aggregated shuffle rather than
    a single-reducer sort. At 10^12 triples you'd swap the exact distincts
    for approx_count_distinct and keep the same single-pass shape."""
    t = doc_triples_from(docs)
    return t.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
    )


def kg_bgp_entity_lang(docs: DataFrame) -> DataFrame:
    """SPARQL-style basic-graph-pattern star join over the triple table:

        ?doc <onto:mentions> ?entity .  ?doc <onto:lang> ?lang

    grouped to (entity, lang, n_docs) — 'which languages talk about which
    entities', the canonical consumption query of the KG this engine
    materialises. Executed exactly as a triple store would: two
    predicate-filtered views of the SAME spo relation equi-joined on subject.
    Catalyst constant-folds `pred = '<...lang>'` against the mention branch's
    literal predicate and prunes that union child entirely (the lang side
    never tokenizes text); in the production layout the triple table is
    partitioned by predicate, so each pattern is a partition-pruned scan and
    the subject join co-partitions. Mention edges are distinct per
    (doc, entity) and lang triples are exactly one per doc, so count(*)
    counts documents with no distinct needed."""
    t = doc_triples_from(docs)
    m = t.filter(F.col("pred") == MENTIONS_PRED).select(
        "subj", F.col("obj").alias("entity")
    )
    lang = t.filter(F.col("pred") == LANG_PRED).select(
        "subj", F.col("obj").alias("lang")
    )
    return (
        m.join(lang, "subj")
        .groupBy("entity", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


DELTA_SEED = "delta"
DELTA_DROP_BELOW = 10  # "new" snapshot loses buckets < 10 ...
DELTA_OLD_BELOW = 90  # ... "old" snapshot lacked buckets >= 90


def kg_triples_delta(docs: DataFrame) -> DataFrame:
    """Incremental KG maintenance: the exact (add/del) triple delta between
    two corpus snapshots — the op a resumable 10^12-doc pipeline runs per
    crawl increment instead of re-materialising the world.

    Snapshots are content-stable hash-bucket slices (textops.quality.
    split_bucket, seed 'delta'): old = buckets [0, 90), new = buckets
    [10, 100) — 80% overlap, 10% removed, 10% added. The delta is NOT just
    the changed documents' own triples: the gazetteer threshold
    (MIN_ENTITY_DOCS) is corpus-wide, so adding/removing docs can flip a
    term's entity status and add/del `mentions` edges on UNCHANGED documents
    — which is why the op diffs materialised triple sets rather than doc ids.

    Plan shape: each side's triples are unique by construction (per-doc
    metadata triples + distinct mention edges), so the diff is ONE
    map-side-combinable shuffle — union the sides tagged +1/-1, hash-agg on
    (subj, pred, obj), keep sum != 0 — never a pairwise anti-join per side
    (two shuffles of the same key) and never a sort."""
    from .textops.quality import split_bucket

    bucket = split_bucket(F.col("doc_id"), DELTA_SEED)
    t_old = doc_triples_from(docs.filter(bucket < DELTA_OLD_BELOW)).withColumn(
        "_side", F.lit(-1)
    )
    t_new = doc_triples_from(docs.filter(bucket >= DELTA_DROP_BELOW)).withColumn(
        "_side", F.lit(1)
    )
    return (
        t_old.unionByName(t_new)
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("_side").alias("_d"))
        .filter(F.col("_d") != 0)
        .select(
            F.when(F.col("_d") > 0, F.lit("add")).otherwise(F.lit("del")).alias("op"),
            "subj",
            "pred",
            "obj",
        )
    )


# SPARQL algebra over the materialised triple table: OPTIONAL (left outer
# join), FILTER NOT EXISTS (anti join), DESCRIBE (semi join). Entity IRIs are
# fixed gazetteer members at every SF (core vocabulary words appear in >=
# MIN_ENTITY_DOCS docs at all scales).
ENT_SPARK = f"<{ENTITY_NS}spark>"
ENT_STREAM = f"<{ENTITY_NS}stream>"
ENT_TABLE = f"<{ENTITY_NS}table>"
UNBOUND = "<urn:unbound>"


def kg_optional_mentions(docs: DataFrame) -> DataFrame:
    """SPARQL OPTIONAL over the triple table:

        ?doc <onto:lang> ?lang .
        OPTIONAL { ?doc <onto:mentions> ?e .
                   FILTER(?e IN (ent:spark, ent:stream)) }

    compiled the way a SPARQL engine lowers OPTIONAL: a left outer join
    between two predicate-filtered views of the SAME spo relation, keyed on
    the shared subject variable. Left-join multiplicity is the SPARQL
    semantics (a doc matching both entities yields two rows; an unmatched
    doc yields one row with the variable unbound). Unbound is emitted as a
    '<urn:unbound>' sentinel, not NULL — NULL join keys poison downstream
    comparisons and hash-partitioning (same policy as events_rollup).

    At production layout (triple table partitioned by pred) each pattern is
    a partition-pruned scan; the join shuffles on subj, and AQE broadcasts
    the optional side when the entity filter makes it small — which a
    2-constant IN does, but a hub entity would not, so no broadcast is
    hard-coded."""
    t = doc_triples_from(docs)
    lang = t.filter(F.col("pred") == LANG_PRED).select("subj", F.col("obj").alias("lang"))
    opt = t.filter(
        (F.col("pred") == MENTIONS_PRED) & F.col("obj").isin(ENT_SPARK, ENT_STREAM)
    ).select("subj", F.col("obj").alias("entity"))
    return lang.join(opt, "subj", "left").select(
        "subj", "lang", F.coalesce("entity", F.lit(UNBOUND)).alias("entity")
    )


def kg_not_exists(docs: DataFrame) -> DataFrame:
    """SPARQL FILTER NOT EXISTS:

        ?doc <onto:mentions> ent:table .
        FILTER NOT EXISTS { ?doc <onto:mentions> ent:stream }

    i.e. docs that discuss tables but never streams — negation lowered to a
    LEFT ANTI join (Spark's set-oriented NOT EXISTS: one shuffle on subj, no
    per-row subquery), then the lang triple joined for the projection. Anti
    joins keep only the probe side's columns, so the shape is
    anti-first-then-enrich: the anti join shrinks the row set before the
    enrichment join touches it."""
    t = doc_triples_from(docs)
    pos = t.filter((F.col("pred") == MENTIONS_PRED) & (F.col("obj") == ENT_TABLE)).select("subj")
    neg = t.filter((F.col("pred") == MENTIONS_PRED) & (F.col("obj") == ENT_STREAM)).select("subj")
    lang = t.filter(F.col("pred") == LANG_PRED).select("subj", F.col("obj").alias("lang"))
    return pos.join(neg, "subj", "left_anti").join(lang, "subj").select("subj", "lang")


def kg_describe_entity(docs: DataFrame) -> DataFrame:
    """SPARQL DESCRIBE ent:spark (concise-bounded-description flavor): every
    triple of every document that mentions the seed entity — the seed's
    1-hop neighborhood through its incoming `mentions` edges.

    Lowered to a LEFT SEMI join of the triple table against the seed's
    subject set: semi joins deduplicate the build side by construction (no
    distinct pre-job) and shuffle on subj, which in the production
    subj-partitioned layout is co-partitioned and shuffle-free. The seed set
    is corpus-size-dependent (a hub entity's CBD is large), so no broadcast
    is hard-coded — AQE downgrades to broadcast when the seed set is small."""
    t = doc_triples_from(docs)
    seeds = t.filter(
        (F.col("pred") == MENTIONS_PRED) & (F.col("obj") == ENT_SPARK)
    ).select("subj")
    return t.join(seeds, "subj", "semi").select("subj", "pred", "obj")


def kg_ask(docs: DataFrame) -> DataFrame:
    """SPARQL ASK — the boolean query form:

        ASK { ?doc <onto:mentions> ent:spark . ?doc <onto:mentions> ent:table }

    lowered to a semi join between the two patterns with a LIMIT 1 above it:
    Spark's CollectLimit lets the job stop after the first match surfaces
    (local limit per task + early-exit global limit), so at 10^12 triples a
    satisfiable ASK touches a few partitions, not the corpus. The final
    single-row aggregate just converts presence to a boolean."""
    t = doc_triples_from(docs)
    a = t.filter((F.col("pred") == MENTIONS_PRED) & (F.col("obj") == ENT_SPARK)).select("subj")
    b = t.filter((F.col("pred") == MENTIONS_PRED) & (F.col("obj") == ENT_TABLE)).select("subj")
    return a.join(b, "subj", "semi").limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))


CONSTRUCT_MIN_DOCS = 60


def kg_construct_popular(docs: DataFrame) -> DataFrame:
    """SPARQL CONSTRUCT — pattern-rewriting query form: derive NEW triples

        CONSTRUCT { ?e <onto:popularIn> ?lang }
        WHERE { ?doc <onto:mentions> ?e . ?doc <onto:lang> ?lang }
        (grouped, kept when >= CONSTRUCT_MIN_DOCS docs support the pair)

    i.e. enrichment triples ready to be unioned back into the KG — the
    inference/materialized-view maintenance loop of a production triple
    store. Same star-join + aggregate shape as kg_bgp_entity_lang (one
    subject-keyed join, one map-side-combinable aggregate); the CONSTRUCT
    step itself is a free projection into (subj, pred, obj) form."""
    t = doc_triples_from(docs)
    m = t.filter(F.col("pred") == MENTIONS_PRED).select("subj", F.col("obj").alias("entity"))
    lang = t.filter(F.col("pred") == LANG_PRED).select("subj", F.col("obj").alias("lang"))
    return (
        m.join(lang, "subj")
        .groupBy("entity", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= CONSTRUCT_MIN_DOCS)
        .select(
            F.col("entity").alias("subj"),
            iri(ONTO, "popularIn").alias("pred"),
            F.col("lang").alias("obj"),
        )
    )


# --- RDFS forward chaining ---------------------------------------------------
# TBox: per-source leaf classes under a 3-level hierarchy. Sources src0..src9
# come from crawl A, src10+ from crawl B (content-free but deterministic
# grouping on the numeric suffix).
#   Source_{src} < Crawl{A|B}Document < WebDocument < Document
RDFS_CRAWL_A_BELOW = 10


def _tbox_edges() -> list[tuple[str, str]]:
    """(subclass, superclass) direct edges of the static ontology."""
    edges = [
        (f"{ONTO}CrawlADocument", f"{ONTO}WebDocument"),
        (f"{ONTO}CrawlBDocument", f"{ONTO}WebDocument"),
        (f"{ONTO}WebDocument", f"{ONTO}Document"),
    ]
    for n in range(20):
        crawl = "A" if n < RDFS_CRAWL_A_BELOW else "B"
        edges.append((f"{ONTO}Source_src{n}", f"{ONTO}Crawl{crawl}Document"))
    return edges


def kg_rdfs_inference(docs: DataFrame) -> DataFrame:
    """RDFS subClassOf materialisation (forward chaining): every document's
    full type set — its per-source leaf class plus ALL transitive
    superclasses — as (subj, type_iri) rows. The enrichment step a KG
    pipeline runs after construction so consumers can query `?x a
    onto:WebDocument` without reasoning at read time.

    Split the way production reasoners split it: the TBox closure is
    computed on the (tiny, schema-sized) subclass edge list by iterated
    self-join to a fixpoint — O(depth) driver-coordinated rounds over rows
    that number in the hundreds even for large real ontologies — and the
    ABox pass is then ONE broadcast hash join of instance type triples
    against the closed TBox. No shuffle touches the corpus-sized side: leaf
    types are minted in the scan projection, the join is map-side, and no
    distinct is needed because (leaf unique per doc) x (closure rows unique,
    strictly-super) can't produce duplicates. At 10^12 docs this is a
    map-only job.

    Closure loop: new paths = paths JOIN direct edges, unioned and deduped
    per round; terminates when a round adds nothing (depth 3 here). The
    closure runs DRIVER-SIDE in plain Python: the TBox is the static,
    schema-sized edge list already materialised as a Python list (real
    ontologies are hundreds of edges — this is exactly the "driver should do
    almost no data work" exception: the data is born on the driver and never
    corpus-sized), where it previously ran as 2-3 Spark job waves with
    per-round localCheckpoints + counts — measured ~2.5s of pure driver-
    coordination overhead on a 23-edge list (guide §1.2: fix the algorithm's
    constant factors before configs; the ABox side is untouched). The
    DuckDB twin is a recursive CTE over the same edge list."""
    direct_edges = _tbox_edges()
    closed: set[tuple[str, str]] = set(direct_edges)
    while True:
        grown = {
            (a, d)
            for (a, b) in closed
            for (c, d) in direct_edges
            if b == c
        } - closed
        if not grown:
            break
        closed |= grown
    closure = docs.sparkSession.createDataFrame(
        sorted(closed), "sub string, super string"
    )

    direct = docs.select(
        iri(DOC_NS, F.col("doc_id")).alias("subj"),
        F.concat(F.lit(f"{ONTO}Source_"), F.col("source")).alias("leaf"),
    )
    inferred = direct.join(
        F.broadcast(closure), direct["leaf"] == closure["sub"]
    ).select("subj", F.col("super").alias("type"))
    return (
        direct.select("subj", F.col("leaf").alias("type"))
        .unionByName(inferred)
        .select("subj", iri(F.col("type")).alias("type_iri"))
    )


# --- SHACL-style validation --------------------------------------------------
SHACL_MIN_NCHARS = 100  # sh:minInclusive on onto:nChars
SHACL_ALLOWED_LANGS = ("en", "es", "de", "fr")  # sh:in on onto:lang
SHACL_MAX_MENTIONS = 23  # sh:maxCount on onto:mentions (link-farm bar)


def kg_shacl_validate(docs: DataFrame) -> DataFrame:
    """SHACL-style validation report over the MATERIALISED triple table:
    (focus, shape, value) rows, one per violation — the QA gate a KG
    pipeline runs before publishing a snapshot. Three shapes:

      MentionsMinCount   sh:minCount 1 on onto:mentions — documents linked
                         to no entity at all (suspicious extraction; this
                         corpus links every doc, so the shape exists to
                         prove the anti-join shape and reports zero rows)
      MentionsMaxCount   sh:maxCount SHACL_MAX_MENTIONS on onto:mentions —
                         the link-farm bar: a doc whose entity fan-out
                         exceeds the cap is flagged with the count
      NCharsMinInclusive sh:minInclusive 100 on the onto:nChars literal —
                         validated by PARSING the serialized typed literal,
                         as a SHACL engine would, not by re-reading the
                         source column
      LangIn             sh:in (en es de fr) on the onto:lang literal

    Shapes like minCount lower to an ANTI join between the focus set and the
    constrained-predicate view — one shuffle on subj (co-partitioned and
    shuffle-free in a subj-partitioned triple layout); value shapes are
    predicate-filtered scans with a per-row check, map-only. The three
    violation sets union without dedup (each shape emits at most one row per
    focus by construction: minCount from the distinct focus set, value
    shapes from single-valued predicates)."""
    t = doc_triples_from(docs)
    focus = t.filter(F.col("pred") == RDF_TYPE).select("subj")
    ment = t.filter(F.col("pred") == MENTIONS_PRED).select("subj")
    v_mincount = focus.join(ment, "subj", "left_anti").select(
        "subj", F.lit("MentionsMinCount").alias("shape"), F.lit("").alias("value")
    )
    # maxCount: mention edges are distinct per (doc, entity) by construction,
    # so fan-out is a plain map-side-combinable count per subject
    v_maxcount = (
        ment.groupBy("subj")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > SHACL_MAX_MENTIONS)
        .select(
            "subj",
            F.lit("MentionsMaxCount").alias("shape"),
            F.col("n").cast("string").alias("value"),
        )
    )
    nchars = t.filter(F.col("pred") == f"<{ONTO}nChars>").select(
        "subj", F.regexp_extract("obj", r'^"(\d+)"', 1).cast("long").alias("n")
    )
    v_nchars = nchars.filter(F.col("n") < SHACL_MIN_NCHARS).select(
        "subj",
        F.lit("NCharsMinInclusive").alias("shape"),
        F.col("n").cast("string").alias("value"),
    )
    lang = t.filter(F.col("pred") == LANG_PRED).select(
        "subj", F.regexp_extract("obj", r'^"([^"]*)"', 1).alias("lang")
    )
    v_lang = lang.filter(~F.col("lang").isin(*SHACL_ALLOWED_LANGS)).select(
        "subj", F.lit("LangIn").alias("shape"), F.col("lang").alias("value")
    )
    return (
        v_mincount.unionByName(v_maxcount).unionByName(v_nchars).unionByName(v_lang)
    )


def kg_group_concat_langs(docs: DataFrame) -> DataFrame:
    """SPARQL 1.1 GROUP_CONCAT — the aggregate query form:

        SELECT ?e (GROUP_CONCAT(DISTINCT ?lang; separator=",") AS ?langs)
        WHERE { ?doc <onto:mentions> ?e . ?doc <onto:lang> ?lang }
        GROUP BY ?e

    i.e. the language coverage string per entity. Same BGP star join as
    kg_bgp_entity_lang; the concat is collect_set -> array_sort ->
    concat_ws so the result is order-deterministic regardless of partition
    arrival order (an unordered GROUP_CONCAT is non-reproducible by
    definition — the ORDER BY inside the aggregate is the only sane
    contract, and what the oracle replays). collect_set's state is bounded
    by the language cardinality (single digits), so the ObjectHashAggregate
    buffer stays tiny even for hub entities; n_langs rides along from the
    same set."""
    t = doc_triples_from(docs)
    m = t.filter(F.col("pred") == MENTIONS_PRED).select(
        "subj", F.col("obj").alias("entity")
    )
    lang = t.filter(F.col("pred") == LANG_PRED).select(
        "subj",
        F.regexp_extract("obj", r'^"([^"]*)"', 1).alias("lang"),
    )
    langs = F.array_sort(F.collect_set("lang"))
    return (
        m.join(lang, "subj")
        .groupBy("entity")
        .agg(
            F.concat_ws(",", langs).alias("langs"),
            F.size(langs).alias("n_langs"),
        )
    )


def kg_apply_delta(docs: DataFrame) -> DataFrame:
    """Incremental-maintenance ROUND TRIP: apply kg_triples_delta's (add/del)
    stream to the OLD snapshot and return the reconstructed NEW snapshot —
    proving, in-band against an oracle that materialises the new snapshot
    directly, that delta-apply is lossless (the MERGE step of the
    incremental pipeline; kg_triples_delta only proves the diff).

    Same single-shuffle algebra as the diff: old(+1) ++ dels(-1) ++ adds(+1)
    into ONE hash aggregate on (subj, pred, obj), keep sum > 0. All three
    inputs are duplicate-free by construction, so counts stay in {-1,0,1,2}
    and no join — let alone a per-key sort — is needed; at 10^12 triples
    this is exactly the snapshot-compaction job an incremental KG store runs,
    map-side combinable end to end. The delta is recomputed from its
    definition (two tagged materialisations), so the whole chain
    old -> delta -> apply is exercised, not a cached delta table."""
    from .textops.quality import split_bucket

    bucket = split_bucket(F.col("doc_id"), DELTA_SEED)
    t_old = doc_triples_from(docs.filter(bucket < DELTA_OLD_BELOW))
    delta = kg_triples_delta(docs)
    signed = (
        t_old.withColumn("_d", F.lit(1))
        .unionByName(
            delta.select(
                "subj",
                "pred",
                "obj",
                F.when(F.col("op") == "add", F.lit(1)).otherwise(F.lit(-1)).alias("_d"),
            )
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("_d").alias("_n"))
    )
    return signed.filter(F.col("_n") > 0).select("subj", "pred", "obj")
