"""Semantic property tests for the beyond-reference operators (the oracle
cross-checks pin exact values; these pin the CLAIMED guarantees)."""

import random

import pytest
from pyspark.sql import functions as F

from rossete_rdf_spark.relops import asof_join
from rossete_rdf_spark.textops.quality import WINNOW_K, WINNOW_W, winnow_fingerprints


def test_winnowing_shared_run_guarantee(spark):
    """Schleimer et al.: two docs sharing a run of >= k+w-1 words MUST share
    at least one selected fingerprint."""
    shared = " ".join(f"common{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee " + shared + " ff gg hh ii jj"),
            (2, "zz yy xx ww vv uu " + shared + " tt ss rr qq pp"),
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs).collect()
    s1 = {r.fp for r in fps if r.doc_id == 1}
    s2 = {r.fp for r in fps if r.doc_id == 2}
    assert s1 & s2, "shared k+w-1 run must produce a shared fingerprint"


def test_winnowing_short_doc_yields_nothing(spark):
    # includes docs shorter than K words and an empty doc: sequence(1, 0)
    # DESCENDS in Spark, so an unguarded gram index crashes element_at here
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(WINNOW_K + WINNOW_W - 2))),
            (2, "just two"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    assert winnow_fingerprints(docs).count() == 0


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 100, 1000), (1, 101, 2000), (2, 102, 500)],
        ["user_id", "event_id", "ts"],
    )
    right = spark.createDataFrame(
        [(1, 7, 900), (1, 8, 1000), (1, 9, 1500), (2, 10, 600)],
        ["user_id", "event_id", "ts"],
    )
    rows = {
        r.event_id: (r.right_event_id, r.right_ts)
        for r in asof_join(left, right, on="user_id").collect()
    }
    # left@1000: right@1000 (inclusive <=, beats 900); left@2000: right@1500
    assert rows[100] == (8, 1000)
    assert rows[101] == (9, 1500)
    # user 2's only right row is AFTER the left row -> inner semantics drop it
    assert 102 not in rows


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, 100, 2000)], ["user_id", "event_id", "ts"])
    right = spark.createDataFrame([(1, 7, 500)], ["user_id", "event_id", "ts"])
    assert asof_join(left, right, on="user_id").count() == 1
    assert (
        asof_join(left, right, on="user_id", tolerance_sec=1000).count() == 0
    )


def test_asof_join_bucketed_matches_asof_join(spark):
    """The hub-safe bucketed formulation must be output-equivalent to the
    per-key-history asof_join — across tolerances and bucket widths (one
    event per bucket, a handful of buckets, one bucket spanning everything)."""
    from rossete_rdf_spark.relops import asof_join, asof_join_bucketed

    # key 0 is mapped to NULL: the hub-key-safe variant's prime use case is
    # the null-ish default key, so NULL keys must carry across buckets too
    key = F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(F.col("id") % 7)
    left = spark.range(200).select(
        key.alias("user_id"),
        F.col("id").alias("event_id"),
        ((F.col("id") * 37) % 1000 * 10).alias("ts"),
    )
    right = spark.range(300).select(
        key.alias("user_id"),
        (F.col("id") + 1000).alias("event_id"),
        ((F.col("id") * 53) % 997 * 10).alias("ts"),
    )
    def norm(df):
        rows = [tuple(r) for r in df.collect()]
        return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))

    for tol in (None, 900):
        base = norm(asof_join(left, right, on="user_id", tolerance_sec=tol))
        assert base
        assert any(t[0] is None for t in base), "NULL-key matches must exist"
        for bucket_sec in (1, 500, 10**9):
            got = norm(
                asof_join_bucketed(
                    left, right, on="user_id", tolerance_sec=tol, bucket_sec=bucket_sec
                )
            )
            assert got == base, (tol, bucket_sec)


def _union_find_components(edges):
    """Reference CC on the driver: (node, min node of its component) for
    every node with a non-self-loop edge — the connected_components output
    contract (a node whose only edges are self-loops is absent)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


def _cc_graphs(spark):
    """Graph shapes for the CC property tests: chains (worst-case round
    count), stars, random unions, and the pagedup exact duplicate graph."""
    from rossete_rdf_spark.pipeline.pagedup import exact_duplicate_edges

    u = lambda i: F.concat(F.lit("u"), i.cast("string"))  # noqa: E731
    pages = spark.range(60).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("text "), (F.col("id") % 13).cast("string")).alias("text"),
    )
    return [
        # chain u0-u1-...-u29: one component, max star rounds
        spark.range(29).select(u(F.col("id")).alias("src"), u(F.col("id") + 1).alias("dst")),
        # 5 stars of 40 leaves each
        spark.range(200).select(
            u(F.col("id") % 5).alias("src"), u(F.col("id") + 10).alias("dst")
        ),
        # pseudo-random unions (dense mixing, several components, self-loops)
        spark.range(400).select(
            u((F.col("id") * 37) % 97).alias("src"),
            u((F.col("id") * 53) % 89).alias("dst"),
        ),
        exact_duplicate_edges(pages),
    ]


def test_connected_components_matches_union_find(spark, monkeypatch):
    """Both CC paths — union-find on the driver (the default at these
    sizes) and the distributed star loop (forced with a bound of 0) — must
    equal an independent driver-side union-find on every graph shape."""
    from rossete_rdf_spark.graph import cc

    for bound in (cc.DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", bound)
        for i, g in enumerate(_cc_graphs(spark)):
            want = _union_find_components((r.src, r.dst) for r in g.collect())
            assert want, f"graph {i} produced no components"
            got = sorted((r.node, r.component) for r in cc.connected_components(g).collect())
            assert got == want, f"graph {i}, bound {bound}"


def test_connected_components_paths_agree_at_the_bound(spark, monkeypatch):
    """A graph of n edges (self-loops aside, duplicates counted) runs the
    distributed loop at bound n-1 and union-find on the driver at bound n;
    both give identical rows and the same column types."""
    from rossete_rdf_spark.graph import cc

    g = _cc_graphs(spark)[2]
    n = sum(r.src != r.dst for r in g.collect())
    driver_calls = []
    real = cc._union_find
    monkeypatch.setattr(
        cc, "_union_find", lambda pairs: driver_calls.append(1) or real(pairs)
    )
    results = []
    for bound in (n - 1, n):
        monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", bound)
        comp = cc.connected_components(g)
        results.append((comp.dtypes, sorted(comp.collect())))
    assert driver_calls == [1], "bound n-1 must run the loop, bound n the driver"
    assert results[0] == results[1]


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    """A loop cut short by MAX_ROUNDS must raise, not return a star graph
    that breaks the component = min-node contract."""
    from rossete_rdf_spark.graph import cc

    monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(cc, "MAX_ROUNDS", 1)
    chain = _cc_graphs(spark)[0]
    with pytest.raises(RuntimeError, match="1 star rounds over 29 edges"):
        cc.connected_components(chain)


def test_salted_top_k_matches_unsalted(spark):
    """top_k and its salted form both equal "sort each group, take the first
    k", ranks included: with unique scores under a one-column order, and
    with tied scores broken by a second order column."""
    from rossete_rdf_spark.relops import salted_top_k_per_group, top_k

    def reference(rows, k):
        groups = {}
        for g, item, score in rows:
            groups.setdefault(g, []).append((g, item, score))
        out = set()
        for members in groups.values():
            members.sort(key=lambda r: (-r[2], r[1]))
            out |= {(*r, rk) for rk, r in enumerate(members[:k], 1)}
        return out

    cases = [
        # unique order values (ties make the winner SET ambiguous for both)
        (((F.col("id") * 37) % 3001), [F.desc("score")]),
        # ~140 rows of each group tie on its top score; item breaks the tie
        ((F.col("id") % 7), [F.desc("score"), F.asc("item")]),
    ]
    for score, order in cases:
        df = spark.range(3000).select(
            (F.col("id") % 3).alias("g"),
            F.col("id").alias("item"),
            score.alias("score"),
        )
        expected = reference([tuple(r) for r in df.collect()], 5)
        plain = {
            (r.g, r.item, r.score, r.rk) for r in top_k(df, ["g"], order, 5).collect()
        }
        salted = {
            (r.g, r.item, r.score, r.rk)
            for r in salted_top_k_per_group(df, ["g"], order, 5, n_salts=8).collect()
        }
        assert plain == salted == expected and len(expected) == 15


def test_salted_top_k_heavy_ties_spread_and_valid(spark):
    """The hub pattern salting exists for: thousands of rows in one group
    tied on the order value. The row-distinct salt must (a) actually spread
    the tied rows over the slices and (b) still return a valid top-k —
    winners among boundary-tied rows are arbitrary in ANY top-k, but the
    score multiset is not."""
    from rossete_rdf_spark.relops import _row_salt, salted_top_k_per_group, top_k

    n_salts = 8
    df = spark.range(6000).select(
        F.lit(0).alias("g"),
        F.col("id").alias("item"),
        (F.col("id") % 3).alias("score"),  # 3 distinct values, 2000 rows each
    )
    used = df.withColumn("s", _row_salt(df, n_salts)).select("s").distinct().count()
    assert used == n_salts, "tied order values must not collapse the salt"
    order = [F.desc("score")]
    plain = sorted(r.score for r in top_k(df, ["g"], order, 5).collect())
    salted = sorted(
        r.score
        for r in salted_top_k_per_group(df, ["g"], order, 5, n_salts=n_salts).collect()
    )
    assert plain == salted == [2, 2, 2, 2, 2]


def test_asof_join_tolerance_on_real_timestamp_columns(spark):
    """Regression: events.parquet loads ts as TIMESTAMP_NTZ, which cannot
    cast straight to BIGINT — the tolerance filter must take the
    timestamp-first double cast on both as-of variants."""
    from rossete_rdf_spark.relops import asof_join, asof_join_bucketed

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    base = asof_join(left, right, on="user_id", tolerance_sec=3600)
    bucketed = asof_join_bucketed(
        left, right, on="user_id", tolerance_sec=3600, bucket_sec=86400
    )
    n_base, n_bucketed = base.count(), bucketed.count()
    assert n_base == n_bucketed
    # tolerance must actually filter relative to the untolerated join
    assert n_base < asof_join(left, right, on="user_id").count()


def test_entity_pagerank_empty_graph_returns_empty(spark):
    """Regression: a corpus whose gazetteer yields no co-mention edges must
    return an empty (entity, wdeg, rank) frame, not ZeroDivisionError."""
    from rossete_rdf_spark.graph.analytics import entity_pagerank

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    out = entity_pagerank(docs)
    assert out.columns == ["entity", "wdeg", "rank"]
    assert out.count() == 0


def test_repetition_scores_hand_computed(spark):
    """Edge cases the synthetic corpus (all docs >= 10 words) never hits:
    empty text, 1-2 word docs (no bigrams/trigrams), plus hand-computed
    fractions for a templated and a fully-repeated doc."""
    from rossete_rdf_spark.textops.quality import repetition_scores

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "a"),
            (2, "a a"),
            (3, "a b a b a b"),
            (4, "x x x"),
            (5, None),  # NULL text counts as empty (size(NULL) would be -1)
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (
            r.n_words,
            r.dup_word_frac,
            r.top_bigram_frac,
            r.dup_trigram_frac,
        )
        for r in repetition_scores(docs).collect()
    }
    assert got[0] == (0, 0.0, 0.0, 0.0)
    assert got[1] == (1, 0.0, 0.0, 0.0)
    assert got[2] == (2, 0.5, 1.0, 0.0)
    # "a b a b a b": 5 bigram positions, "a b" x3 -> 0.6; all 4 trigram
    # positions are one of two trigrams that each occur twice -> 1.0
    assert got[3] == (6, 0.666667, 0.6, 1.0)
    # "x x x": one trigram occurring once -> singleton -> 0.0
    assert got[4] == (3, 0.666667, 1.0, 0.0)
    assert got[5] == (0, 0.0, 0.0, 0.0)


def test_dense_ids_are_gapfree_and_order_preserving(spark):
    # dense_ids must equal a global row_number over the distinct sorted
    # values — gap-free 0..n-1, order-preserving — regardless of input
    # partitioning or duplication, with more distinct values than range
    # partitions so the offset arithmetic actually composes across
    # partitions
    from rossete_rdf_spark.graph.cc import dense_ids

    vals = [f"tok{i:04d}" for i in range(500)]
    # duplicated + shuffled input across an awkward partition count
    df = spark.createDataFrame(
        [(v,) for v in vals * 3][::-1], ["token"]
    ).repartition(7)
    got = {r.token: r.nid for r in dense_ids(df, "token").collect()}
    assert got == {v: i for i, v in enumerate(sorted(vals))}


def test_verify_jaccard_matches_python_jaccard(spark):
    """verify_jaccard's one-aggregate score equals a pure-Python set
    Jaccard on random gram sets, including identical sets, disjoint sets
    and an id with no grams; a threshold <= 0 is refused, since a disjoint
    pair scores 0 under the stacked-gram count."""
    import random

    from rossete_rdf_spark.pipeline.canonicalize import verified_pairs
    from rossete_rdf_spark.textops.lsh import verify_jaccard

    rng = random.Random(11)
    sets = {i: set(rng.sample(range(12), rng.randint(1, 8))) for i in range(14)}
    sets[14] = set(sets[3])  # identical to id 3
    sets[15] = {100, 101, 102}  # disjoint from every other id
    sets[16] = set()  # no grams at all
    grams = spark.createDataFrame(
        [(i, f"g{g}") for i, gs in sets.items() for g in gs], "id long, g string"
    )
    pairs = [(a, b) for a in sets for b in sets if a < b]
    cands = spark.createDataFrame(pairs, "id_a long, id_b long")

    def jaccard(a, b):
        union = sets[a] | sets[b]
        return len(sets[a] & sets[b]) / len(union) if union else 0.0

    for t in (0.5, 0.6, 1.0):
        want = sorted(p for p in pairs if jaccard(*p) >= t)
        got = sorted(map(tuple, verify_jaccard(cands, grams, t).collect()))
        assert got == want, t
    assert (3, 14) in want  # identical sets pass even the 1.0 bar
    for t in (0.0, -0.5):
        with pytest.raises(ValueError):
            verify_jaccard(cands, grams, t)

    # canonicalize builds each surface's char-3-grams in the pair row; the
    # same Python Jaccard over those gram sets is the reference ("banana"
    # repeats the gram "ana", which must count once)
    words = [
        "sparkle", "sparkles", "database", "databases", "qqqq",
        "banana", "bananas", "ananas",
    ]
    surf_pairs = [(a, b) for a in words for b in words if a < b]
    sets = {w: {w[i:i + 3] for i in range(len(w) - 2)} for w in words}
    cands = spark.createDataFrame(surf_pairs, "a string, b string")
    for t in (0.5, 0.6, 1.0):
        want = sorted(p for p in surf_pairs if jaccard(*p) >= t)
        assert sorted(map(tuple, verified_pairs(cands, t).collect())) == want, t


def _first_per_key(rows, key_idx, order_idx):
    """Pure-Python reference: the row with the smallest order value per key."""
    first = {}
    for r in rows:
        k = tuple(r[i] for i in key_idx)
        if k not in first or r[order_idx] < first[k][order_idx]:
            first[k] = r
    return first


def test_first_occurrence_primitives_match_python(spark):
    """first_occurrence_dedup and first_match_join against "first row per key
    by order" in pure Python, on random frames with a unique order column
    and duplicate keys: only the order column carried, fixed-width columns
    carried, string columns carried (NULLs included), a composite key."""
    from rossete_rdf_spark.rml.compiler import first_match_join, first_occurrence_dedup

    rng = random.Random(9)

    def maybe(v):
        return None if rng.random() < 0.1 else v

    n = 300
    cases = {
        "order only": (
            "k int, o bigint",
            ["k"],
            lambda o: (rng.randrange(40), o),
        ),
        "fixed-width": (
            "k int, o bigint, a double, b int",
            ["k"],
            lambda o: (rng.randrange(40), o, rng.random(), maybe(rng.randrange(9))),
        ),
        "strings": (
            "k int, o bigint, s string, t string",
            ["k"],
            lambda o: (rng.randrange(40), o, f"s{rng.randrange(50)}", maybe(f"t{o}")),
        ),
        "composite key": (
            "k int, k2 string, o bigint, v string",
            ["k", "k2"],
            lambda o: (rng.randrange(8), f"x{rng.randrange(5)}", o, f"v{o}"),
        ),
    }
    for name, (schema, keys, make) in cases.items():
        orders = rng.sample(range(10**6), n)  # unique per key, random vs keys
        rows = [make(o) for o in orders]
        parent = spark.createDataFrame(rows, schema)
        cols = parent.columns
        first = _first_per_key(rows, [cols.index(k) for k in keys], cols.index("o"))

        got = first_occurrence_dedup(parent, keys, order_col="o").collect()
        assert sorted(map(tuple, got), key=repr) == sorted(first.values(), key=repr), name

        # child keys reach beyond the parent's, so some child rows match nothing
        child_rows = [
            (i, *(rng.randrange(-2, 42) if k == "k" else f"x{rng.randrange(7)}" for k in keys))
            for i in range(n)
        ]
        ckeys = ["c_" + k for k in keys]
        child = spark.createDataFrame(child_rows, ["cid", *ckeys])
        joined = first_match_join(child, parent, list(zip(ckeys, keys)), "o").collect()
        expected = [c + first[c[1:]] for c in child_rows if c[1:] in first]
        assert sorted(map(tuple, joined), key=repr) == sorted(expected, key=repr), name
