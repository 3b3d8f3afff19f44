"""Entity-graph analytics over the co-mention graph — the beyond-reference
graph layer of KG construction (the reference stops at triple emission;
a production KG pipeline then ranks, sparsifies, and measures the entity
graph it just built).

Graph definition (shared by all three ops): nodes are gazetteer entities
(kgops.linked_mentions_from — terms in >= MIN_ENTITY_DOCS distinct docs);
an undirected edge (e1, e2) with weight w = number of documents mentioning
both. Edge building is a doc_id self-join of the (doc_id, mention) linked
rows: per-doc fan-out is bounded by the gazetteer (threshold-filtered, so
corpus-small), and the pair aggregate is a map-side-combinable hash agg on
the (e1, e2) key. At 10^12 docs the edge table is |gazetteer|^2-bounded —
a dimension table — while the self-join input is the full mention table,
which shuffles once on doc_id.

Determinism contract: every floating-point reduction either runs the
kmeans-proven sorted sequential fold (collect_list -> array_sort ->
aggregate(0.0, +), bitwise equal to DuckDB's list_reduce(list(x ORDER BY
k), (a,b) -> a+b)) or is a per-row scalar expression written with the same
operator shape as the oracle SQL, so the driver's value-hash gate holds.
Plain sum()/avg() is the documented scale path where noted — the fold is
the oracle-determinism anchor, exactly like textops/ann._kmeans_centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kgops import linked_mentions_from
from ..relops import top_k

PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
KNN_K = 6


def comention_edges(docs: DataFrame) -> DataFrame:
    """Canonical undirected co-mention edges: (e1 < e2, w = co-doc count).

    One shuffle on doc_id for the self-join (both sides are the same
    aggregate — AQE reuses the exchange), one hash agg on the pair key.
    The e1 < e2 canonicalisation halves the pair space and makes the edge
    row unique, so downstream ops can symmetrise with an explode instead
    of a self-union (Catalyst's UnionBase constraint rewrite chokes on
    self-unions of join-built plans — see graph/cc.py)."""
    lm = linked_mentions_from(docs).select("doc_id", "mention")
    a = lm.alias("a")
    b = lm.alias("b")
    return (
        a.join(b, "doc_id")
        .filter(F.col("a.mention") < F.col("b.mention"))
        .groupBy(
            F.col("a.mention").alias("e1"), F.col("b.mention").alias("e2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    """(src, dst, w) in both directions via explode-of-array (not union)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("e1").alias("src"),
                    F.col("e2").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("e2").alias("src"),
                    F.col("e1").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("ed")
    ).select("ed.src", "ed.dst", "ed.w")


def entity_pagerank(docs: DataFrame) -> DataFrame:
    """Weighted PageRank over the co-mention graph, PAGERANK_ITERS
    iterations with damping d = PAGERANK_DAMPING.

    rank_{t+1}(v) = (1-d)/N + d * sum_{u~v} rank_t(u) * w(u,v) / wdeg(u)

    Per-iteration plan: edges JOIN rank-state on src (state is
    gazetteer-sized -> broadcast), then ONE hash agg keyed by dst. The
    per-dst reduction is the sorted sequential fold (ORDER BY src) so the
    trajectory is bitwise reproducible in the DuckDB oracle; plain sum()
    is the scale path once cross-engine replay is not needed. The edge
    table is localCheckpointed once so the mention-pipeline DAG is not
    re-executed every iteration (the pagedup lesson, BENCH.md); on a real
    cluster this is checkpoint-per-k-iterations exactly like graph/cc.py.

    No dangling mass: the symmetrised graph gives every node wdeg > 0.
    Output: (entity, wdeg, rank) with rank rounded to 8 dp."""
    edges = _symmetric(comention_edges(docs)).localCheckpoint(eager=False)
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    n = float(wdeg.count())  # gazetteer-sized scalar, one tiny action
    if n == 0:
        # empty co-mention graph (no two gazetteer entities share a doc):
        # return the empty result instead of dividing by zero below
        return wdeg.select(
            F.col("src").alias("entity"), "wdeg", F.lit(0.0).alias("rank")
        )
    state = wdeg.select(
        F.col("src").alias("entity"), "wdeg", F.lit(1.0 / n).alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        contribs = edges.join(
            F.broadcast(
                state.select(
                    F.col("entity").alias("src"),
                    (F.col("rank") / F.col("wdeg")).alias("unit"),
                )
            ),
            "src",
        ).select(
            "dst", F.struct(F.col("src"), (F.col("unit") * F.col("w")).alias("c")).alias("sc")
        )
        summed = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list("sc")),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        state = wdeg.join(
            summed, wdeg["src"] == summed["dst"]
        ).select(
            F.col("src").alias("entity"),
            "wdeg",
            (
                F.lit((1.0 - PAGERANK_DAMPING) / n)
                + F.lit(PAGERANK_DAMPING) * F.col("s")
            ).alias("rank"),
        )
    return state.select(
        "entity", "wdeg", F.round(F.col("rank"), 8).alias("rank")
    )


def entity_knn_edges(docs: DataFrame, k: int) -> DataFrame:
    """k-NN sparsification of the co-mention graph: keep the union of every
    node's k strongest edges (w DESC, dst ASC tie-break), undirected-deduped
    back to canonical (e1 < e2) pairs.

    This is the standard entity-resolution move for a near-complete
    similarity graph — the dense graph is |gazetteer|^2; the k-NN graph is
    k*|gazetteer|; per-entity top-k candidate lists are also how MinoanER
    prunes its blocking graph. The per-src top-k is relops.top_k, the ANN
    searches' primitive: the partition key is an entity, the partition size
    its neighbour count (gazetteer-bounded), so the sort is dimension-side
    cheap — NOT the corpus-side window shape BENCH.md bans."""
    sym = _symmetric(comention_edges(docs))
    kept = top_k(sym, ["src"], [F.desc("w"), F.asc("dst")], k)
    return kept.select(
        F.least("src", "dst").alias("e1"),
        F.greatest("src", "dst").alias("e2"),
        "w",
    ).distinct()


def entity_triangles(docs: DataFrame) -> DataFrame:
    """Per-entity triangle counts on the KNN_K-NN-sparsified co-mention graph —
    the node-iterator-with-degree-orientation algorithm (orient every edge
    from the (deg, name)-smaller endpoint to the larger; each triangle is
    then exactly one wedge u->v, u->w (v before w) closed by v->w).

    Orientation bounds the out-degree of hub nodes by ~sqrt(|E|), which is
    what keeps the wedge self-join linear-ish at scale; on the k-NN graph
    out-degree is additionally <= 2 * KNN_K. Three hash joins, all on entity-name
    keys; the wedge filter is tuple comparison on (deg, name) — integers
    and strings, no floats anywhere, so no determinism caveats.
    Output: (entity, n_triangles), entities in >= 1 triangle.

    The k-NN edge table and its oriented form are gazetteer-bounded and
    multiply referenced (und: degree agg + edge join; oriented: both wedge
    sides + the closing side), so both carry a lazy localCheckpoint — the
    same re-execution cut as entity_pagerank's edge table; without it the
    full mention pipeline re-runs once per reference."""
    und = entity_knn_edges(docs, KNN_K).localCheckpoint(eager=False)
    deg_long = und.select(
        F.explode(F.array("e1", "e2")).alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        und.join(deg_long.withColumnRenamed("v", "e1"), "e1")
        .withColumnRenamed("deg", "d1")
        .join(
            deg_long.withColumnRenamed("v", "e2").withColumnRenamed(
                "deg", "d2"
            ),
            "e2",
        )
    )
    lower_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("e1") < F.col("e2"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("e1")).otherwise(F.col("e2")).alias("src"),
        F.when(lower_first, F.col("e2")).otherwise(F.col("e1")).alias("dst"),
        F.when(lower_first, F.col("d2")).otherwise(F.col("d1")).alias(
            "dst_deg"
        ),
    ).localCheckpoint(eager=False)
    ab = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("dst_deg").alias("dv"),
    )
    ac = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("x"),
        F.col("dst_deg").alias("dx"),
    )
    wedge_order = (F.col("dv") < F.col("dx")) | (
        (F.col("dv") == F.col("dx")) & (F.col("v") < F.col("x"))
    )
    wedges = ab.join(ac, "u").filter(wedge_order)
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("x")
    )
    tri = wedges.join(closing, ["v", "x"]).select("u", "v", "x")
    return (
        tri.select(F.explode(F.array("u", "v", "x")).alias("entity"))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def comention_pmi(docs: DataFrame) -> DataFrame:
    """Pointwise mutual information of entity co-mention:
    pmi(a,b) = ln( w * N / (ca * cb) ), N = corpus doc count, ca = docs
    mentioning a. The association score KG pipelines use to weight edges
    before canonicalisation/clustering.

    Shapes: per-entity doc counts are a hash agg of the linked-mention
    rows; both it and the corpus size join back in as broadcasts (the
    1-row count via a literal-free cross join, the tfidf idiom). The pmi
    expression is written with the identical operator order as the oracle
    (double casts first, one ln, round 6) so libm-vs-DuckDB ulp is the
    only divergence risk — absorbed by the rounding, the tfidf precedent.
    Output: (e1, e2, n_ab, pmi) for canonical pairs."""
    lm = linked_mentions_from(docs).select("doc_id", "mention")
    edges = comention_edges(docs)
    ent_docs = lm.groupBy("mention").agg(F.count(F.lit(1)).alias("cnt"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    scored = (
        edges.join(
            F.broadcast(
                ent_docs.select(
                    F.col("mention").alias("e1"), F.col("cnt").alias("ca")
                )
            ),
            "e1",
        )
        .join(
            F.broadcast(
                ent_docs.select(
                    F.col("mention").alias("e2"), F.col("cnt").alias("cb")
                )
            ),
            "e2",
        )
        .crossJoin(F.broadcast(n_docs))
    )
    pmi = F.round(
        F.log(
            F.col("w").cast("double")
            * F.col("nd")
            / (F.col("ca").cast("double") * F.col("cb"))
        ),
        6,
    )
    return scored.select(
        "e1", "e2", F.col("w").alias("n_ab"), pmi.alias("pmi")
    )


LP_ITERS = 3
# LP uses a SPARSER graph than triangles (k=2, not KNN_K=6): the synthetic
# co-mention graph is near-complete (every gazetteer pair co-occurs), so at
# k>=3 weighted voting floods everything into one community within 3 rounds
# (measured: k=6 -> 1 community, k=3 -> 3, k=2 -> 6 at sf0.01). Keeping each
# node's 2 strongest edges leaves the backbone where community structure is
# real — the standard mutual-knn trick for near-complete similarity graphs.
LP_KNN_K = 2


def label_propagation(docs: DataFrame) -> DataFrame:
    """Community detection on the LP_KNN_K-NN-sparsified co-mention graph via
    SYNCHRONOUS, deterministic label propagation: every node starts labeled
    with itself; each round, a node adopts the label with the highest
    weighted neighbour vote (sum of edge weights), ties broken by MINIMUM
    label. Classic LPA is asynchronous with random tie-breaks — the
    synchronous fixed-iteration variant is the one a distributed engine can
    actually run (one superstep per round, Pregel-style) and the one an
    oracle can replay exactly.

    Per-round plan: edges JOIN label-state on src (state is gazetteer-sized
    -> broadcast), ONE hash agg on (dst, label) summing INTEGER weights
    (exact, engine-portable — no float fold needed), then the argmax via a
    max-score agg joined back with a min-label agg. Edges localCheckpointed
    once (the pagedup lesson); rounds = LP_ITERS is the contract, not a
    convergence loop, so the serial depth is fixed and small.
    Output: (entity, community)."""
    edges = _symmetric(entity_knn_edges(docs, LP_KNN_K)).localCheckpoint(eager=False)
    state = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for _ in range(LP_ITERS):
        votes = (
            edges.join(
                F.broadcast(state.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").alias("s"))
        )
        smax = votes.groupBy("node").agg(F.max("s").alias("smax"))
        v, m = votes.alias("v"), smax.alias("m")
        state = (
            v.join(
                m,
                (F.col("v.node") == F.col("m.node"))
                & (F.col("v.s") == F.col("m.smax")),
            )
            .groupBy(F.col("v.node").alias("node"))
            .agg(F.min(F.col("v.label")).alias("label"))
        )
    return state.select(F.col("node").alias("entity"), F.col("label").alias("community"))


BFS_HOPS = 4
BFS_LANDMARKS = 2
_BFS_INF = (1 << 62)


def bfs_reachability(docs: DataFrame) -> DataFrame:
    """Fixed-depth BFS distances from a deterministic landmark set over the
    LP_KNN_K-sparsified co-mention graph — the SPARQL property-path /
    reachability query class (`?x (:related)* ?landmark` bounded to
    BFS_HOPS steps), run Pregel-style: one frontier-expansion superstep per
    hop. Landmarks are the BFS_LANDMARKS lexicographically-smallest
    entities (deterministic, no RNG).

    Per-superstep plan: state JOIN edges on src (state is gazetteer x
    landmarks-sized -> broadcast), ONE hash agg taking min(dist + 1) per
    (node, landmark), then a full-outer merge with the previous state
    keeping the least distance. NO union: the state/candidate merge is a
    full-outer join because Catalyst's UnionBase constraint rewrite crashes
    on self-unions of join-built plans (see graph/cc.py). All values are
    strings and integers — no float fold, no determinism caveats. The same
    sparse graph as label_propagation (k=2): on the near-complete k>=3
    graph everything is at distance 1 and the query is degenerate.

    Output: (entity, landmark, dist) for entities reachable within
    BFS_HOPS hops.
    """
    edges = _symmetric(entity_knn_edges(docs, LP_KNN_K)).localCheckpoint(eager=False)
    nodes = edges.select("src").distinct()
    landmarks = (
        nodes.orderBy("src").limit(BFS_LANDMARKS)
        .select(F.col("src").alias("landmark"))
    )
    state = landmarks.select(
        F.col("landmark").alias("node"),
        "landmark",
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(BFS_HOPS):
        cand = (
            F.broadcast(state.withColumnRenamed("node", "src"))
            .join(edges, "src")
            .groupBy(F.col("dst").alias("node"), "landmark")
            .agg(F.min(F.col("dist") + 1).alias("d_c"))
        )
        state = (
            state.withColumnRenamed("dist", "d_s")
            .join(cand, ["node", "landmark"], "full_outer")
            .select(
                "node",
                "landmark",
                F.least(
                    F.coalesce("d_s", F.lit(_BFS_INF)),
                    F.coalesce("d_c", F.lit(_BFS_INF)),
                ).alias("dist"),
            )
        )
    return state.select(
        F.col("node").alias("entity"), "landmark", "dist"
    )
