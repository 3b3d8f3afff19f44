"""Physical-plan quality checks: the optimizations we rely on at 100 TB must
actually appear in the plans — column pruning to the parquet scan, broadcast
of small sides, no Python in JVM-only pipelines."""

import pytest

from rossete_rdf_spark.pipeline import extract_pages, synth_pages
from rossete_rdf_spark.pipeline.mentions import page_mentions
from rossete_rdf_spark.registry import QUERIES
from rossete_rdf_spark.rmlops import rml_nation_region_graph

SF = "/root/testdata/sf0.001"
# the skew test needs enough fact bytes for its 16KB skew thresholds to trip
SF_SKEW = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _jobs_of(spark, group, fn) -> list[int]:
    """Ids of the Spark jobs that fn() launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_q1_scan_is_column_pruned(spark):
    plan = _plan(QUERIES["tpch_q1_pricing"](spark, SF))
    # the lineitem scan must read only the 6 referenced columns, not all 11
    assert "ReadSchema" in plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_shipdate" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_q3_broadcasts_customer(spark):
    plan = _plan(QUERIES["tpch_q3_shipping"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_entity_link_single_scan_broadcast_gazetteer(spark):
    # gazetteer = hash agg over the mention rows, broadcast back: ONE
    # documents scan at runtime (AQE stage reuse dedupes the shared mention
    # aggregate — visible only in the FINAL plan, so execute first), exactly
    # one join and it's a broadcast, and no window sort on the hub-skewable
    # mention key
    df = QUERIES["kg_entity_link"](spark, SF)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "ReusedExchange" in final
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    assert "Window" not in final


def test_first_match_join_has_no_sort(spark):
    # parent collapse is min_by hash aggregation; the old row_number window
    # put a per-partition sort exchange in the plan (inverts under
    # parallelism on allocation-heavy stages — BENCH.md measurements)
    plan = _plan(QUERIES["rel_first_match_join"](spark, SF))
    assert "Window" not in plan
    # the packed order_col keeps every min_by buffer primitive -> whole-stage
    # HashAggregate; a struct anywhere in the buffer would drop the plan to
    # SortAggregate and bring the sort back
    assert "HashAggregate" in plan
    assert "Sort (" not in plan and "SortAggregate" not in plan


def test_doc_triples_two_pruned_scans(spark):
    # one metadata scan (array+explode of 4 triples/row) + one text scan for
    # the mention chain (AQE stage reuse collapses the gazetteer branch onto
    # the mention shuffle — final plan only); the old shape scanned
    # documents 4+ times
    df = QUERIES["kg_doc_triples"](spark, SF)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 2
    assert "ReusedExchange" in final
    meta_scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "text" not in ln
    ]
    assert meta_scans, "expected a metadata scan that prunes the text column"


def test_runtime_filter_join_injects_bloom_filter(spark):
    # the selective dim filter must materialize as a bloom filter probed on
    # the FACT side (might_contain over the join key) — row-level runtime
    # pruning of the big scan before the join exchange; the query function
    # scopes the confs and memoizes the optimized plan, so the filter
    # survives the conf restore
    df = QUERIES["rel_runtime_filter_join"](spark, SF)
    plan = _plan(df)
    assert "might_contain" in plan.lower()
    # and the session confs are back to their defaults afterwards
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    ).lower().rstrip("b") not in ("0", "")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_skew_join_actually_splits(spark):
    # rel_skew_join_agg's join shape must be splittable by AQE's
    # OptimizeSkewedJoin: under scoped thresholds (the defaults assume
    # 256MB+ partitions) the executed plan must carry the skew=true SMJ.
    # The decision is made at RUNTIME by AQE, so the confs stay set until
    # after the collect.
    from rossete_rdf_spark.session import scoped_conf

    # hold-past-action idiom: AQE makes the split while the job runs, so the
    # scope stays open across the collect (see scoped_conf's docstring)
    with scoped_conf(spark, {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        df = QUERIES["rel_skew_join_agg"](spark, SF_SKEW)
        rows = {r.tag: (r.n_items, r.sum_qty) for r in df.collect()}
        assert rows["grp0"][0] > 5 * rows["grp1"][0]  # the hub is real
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final


def test_rml_graph_plan_has_no_python(spark):
    # the whole RML materialization must stay JVM-side: no Python UDF nodes
    plan = _plan(rml_nation_region_graph(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # AQE owns the plan (runtime re-plan + skew handling enabled)
    assert "AdaptiveSparkPlan" in plan


def test_pipeline_runs_no_python(spark):
    # no stage of the KG pipeline starts a Python worker: extraction is a
    # JVM projection over the html bytes, mention detection the JVM tokenizer
    text = spark.createDataFrame([("u", "alpha beta gamma")], "url string, text string")
    for df in (extract_pages(synth_pages(spark, 8, partitions=1)), page_mentions(text)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rml_parquet_scan_is_column_pruned(spark):
    # the mapping references n_nationkey/n_name/n_regionkey; the scan must
    # not read n_comment (Catalyst pruning through the string-cast projection)
    plan = _plan(rml_nation_region_graph(spark, SF))
    nation_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "n_nationkey" in ln
    ]
    assert nation_scans
    assert all("n_comment" not in ln for ln in nation_scans)


def test_triple_emitter_filters_after_explode_in_one_scan(spark, tmp_path):
    # the compiler's term pass drops NULL terms with a filter on the
    # exploded rows, not an interpreted lambda inside the term array
    assert "lambdafunction" not in _plan(rml_nation_region_graph(spark, SF))
    # page_triples emits its three predicates in one pass: one parquet scan,
    # not one per predicate
    from datetime import datetime

    from rossete_rdf_spark.pipeline.kg import page_triples

    pages = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [("http://p.org/1", "en", datetime(2024, 1, 1))],
        "url string, lang string, warc_ts timestamp",
    ).coalesce(1).write.parquet(pages)
    plan = _plan(page_triples(spark.read.parquet(pages)))
    assert plan.count(") Scan parquet") == 1, plan


def test_source_rid_plan_follows_file_count(spark, tmp_path):
    # one parquet file and one JSON file under an iterator keep the scan's
    # monotonic id: no file-key table, no window, no broadcast, no file
    # metadata read; two JSON files (never split) take row-in-file from the
    # scan position: a broadcast file-key table and no window; two CSV
    # files sort data rows in exactly one window, per file, and key the
    # files from the driver's listing (a local table) — the files are
    # scanned once
    from rossete_rdf_spark.rml.ast import LogicalSource
    from rossete_rdf_spark.rml.sources import load_logical_source

    one = load_logical_source(
        spark, LogicalSource(source=f"{SF}/nation.parquet", fmt="parquet"), ["n_name"]
    )
    names = _node_names(one)
    assert "Window" not in names and "BroadcastExchange" not in names, names

    (tmp_path / "one.json").write_text('{"a": [{"x": 1}, {"x": 2}]}')
    one_json = load_logical_source(
        spark, LogicalSource(source=str(tmp_path / "one.json"), fmt="json", iterator="$.a[*]"), ["x"]
    )
    names = _node_names(one_json)
    assert "Window" not in names and "BroadcastExchange" not in names, names
    assert "Exchange" not in names, names
    assert "file_path" not in _plan(one_json)  # the scan emits no metadata columns

    jd = tmp_path / "jsondir"
    jd.mkdir()
    (jd / "a.json").write_text('{"a": [{"x": 1}, {"x": 2}]}')
    (jd / "b.json").write_text('{"a": [{"x": 3}]}')
    two_json = load_logical_source(
        spark, LogicalSource(source=str(jd), fmt="json", iterator="$.a[*]"), ["x"]
    )
    names = _node_names(two_json)
    assert "Window" not in names and "Sort" not in names, names
    assert names.count("BroadcastExchange") == 1 and names.count("Scan") == 1, names
    assert sorted(r["f_x"] for r in two_json.collect()) == ["1", "2", "3"]

    d = tmp_path / "csvdir"
    d.mkdir()
    (d / "a.csv").write_text("x\n1\n2\n")
    (d / "b.csv").write_text("x\n3\n")
    two = load_logical_source(spark, LogicalSource(source=str(d), fmt="csv"), ["x"])
    plan = _plan(two)
    windows = [ln for ln in plan.splitlines() if ln.startswith("Arguments: [") and "windowspec" in ln]
    names = _node_names(two)
    assert names.count("Window") == len(windows) == 1, windows
    assert "row_number()" in windows[0], windows
    assert names.count("BroadcastExchange") == 1 and "LocalTableScan" in names, names
    assert names.count("Scan") == 1, names
    assert sorted(r["f_x"] for r in two.collect()) == ["1", "2", "3"]


def test_bgp_lang_side_never_tokenizes(spark):
    # kg_bgp_entity_lang: Catalyst must constant-fold the lang-pattern filter
    # against the mention branch's literal predicate and prune that union
    # child — the lang side reads only metadata columns. Tokenization
    # (split on text) must appear exactly twice in the optimized plan: the
    # mention aggregate and the gazetteer aggregate on the MENTION side
    # (AQE-reused at runtime), never a third time under the lang pattern.
    df = QUERIES["kg_bgp_entity_lang"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(text") == 2


def test_gram_builders_tokenize_once(spark):
    # PROJECTION-BOUNDARY REGRESSION GUARD: CSE does not reach inside
    # higher-order-function lambdas, so a gram builder that passes the
    # words_col(text) expression straight into pos_grams re-runs
    # split+filter once per element_at — n tokenizations per gram
    # (measured 5-12x slowdowns at sf0.1). The optimized plan must contain
    # exactly one split per documents scan.
    from pyspark.sql import functions as F

    from rossete_rdf_spark.textops.dedup import _doc_ngrams, decontaminate
    from rossete_rdf_spark.textops.quality import repetition_scores, winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df, scans in [
        (_doc_ngrams(docs, "doc_id", "text", 3), 1),
        (winnow_fingerprints(docs), 1),
        (repetition_scores(docs), 1),
        (decontaminate(docs), 2),  # eval + train branches scan separately
    ]:
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("split(") == scans, f"{scans} expected:\n{opt}"


def test_decontaminate_broadcasts_eval_grams(spark):
    from rossete_rdf_spark.textops.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(decontaminate(docs))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_funnel_has_no_object_hash_aggregate(spark):
    # the conditional-min shape must stay in whole-stage HashAggregate —
    # never collect_list-per-user (ObjectHashAggregate) or a sort
    plan = _plan(QUERIES["events_funnel"](spark, SF))
    assert "ObjectHashAggregate" not in plan
    assert "collect_list" not in plan


def test_pii_redact_is_pure_projection(spark):
    # regex scrub must fuse into the scan stage: zero exchanges, no Python
    from rossete_rdf_spark.textops.webclean import pii_redact

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pii_redact(docs))
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_url_dedup_single_hash_agg_shuffle(spark):
    # canonicalization fuses into the scan; the dedup is ONE hashpartitioning
    # exchange with map-side partial aggregation, never a sort
    from rossete_rdf_spark.textops.webclean import url_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(url_dedup(docs))
    tree = plan.split("(1) Scan")[0]  # formatted-mode tree section
    n_shuffles = sum(
        1 for ln in tree.splitlines()
        if "Exchange (" in ln and "BroadcastExchange" not in ln
    )
    assert n_shuffles == 1, tree
    assert "SortAggregate" not in plan
    assert tree.count("HashAggregate (") == 2  # partial + final


def test_anomaly_zscore_broadcasts_stats(spark):
    # the 5-row per-type stats table must come back as a broadcast hash join
    # (one shuffle total), not a second shuffle of the full event scan
    plan = _plan(QUERIES["events_anomaly_zscore"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_not_exists_is_anti_join(spark):
    # SPARQL FILTER NOT EXISTS must lower to a set-oriented anti join
    plan = _plan(QUERIES["kg_not_exists"](spark, SF))
    assert "LeftAnti" in plan


def test_describe_is_semi_join(spark):
    # SPARQL DESCRIBE lowers to a semi join (dedup of seeds by construction)
    plan = _plan(QUERIES["kg_describe_entity"](spark, SF))
    assert "LeftSemi" in plan


def test_ask_has_early_exit_limit(spark):
    # SPARQL ASK must carry a limit above the semi join so a satisfiable ask
    # can stop at the first match instead of scanning the corpus
    plan = _plan(QUERIES["kg_ask"](spark, SF))
    assert "Limit" in plan or "CollectLimit" in plan
    assert "LeftSemi" in plan


def test_length_outliers_broadcasts_percentiles(spark):
    # the per-lang percentile table is tiny: it must come back as a
    # broadcast join, never a shuffle of the full doc scan
    from rossete_rdf_spark.textops.quality import length_outliers

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(length_outliers(docs))
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_is_exchange_free(spark):
    # rel_bucketed_join's layout claim: with both sides bucketed+sorted on
    # the join key, the sort-merge join needs NO Exchange on either input —
    # the only shuffle in the whole plan is the final aggregate's. Broadcast
    # is disabled (static + adaptive thresholds) because at fixture scale
    # AQE would otherwise take the broadcast plan and hide the bucketed SMJ
    # this test exists to pin.
    from rossete_rdf_spark.relops import rel_bucketed_join
    from rossete_rdf_spark.session import scoped_conf

    # hold-past-action: AQE can flip SMJ->BHJ at runtime, so the scope stays
    # open across the collect
    with scoped_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }):
        df = rel_bucketed_join(spark, SF)
        # collect() (not count()) so df's OWN AQE plan finalizes
        assert len(df.collect()) > 0
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final
        assert "bj_customer" in final and "bj_orders" in final
        # exactly ONE Exchange (the aggregate's); none feeding the join
        assert final.count("Exchange") == 1


def test_salted_join_matches_plain_join(spark):
    # the salt/replication must be output-invisible: rel_salted_join's
    # aggregate equals the plain (unsalted) hub join's, and the join key
    # carries the salt column so the hub key's rows spread over
    # SALTED_JOIN_REP reducers
    salted = {
        r.tag: (r.n_items, r.sum_qty)
        for r in QUERIES["rel_salted_join"](spark, SF_SKEW).collect()
    }
    plain = {
        r.tag: (r.n_items, r.sum_qty)
        for r in QUERIES["rel_skew_join_agg"](spark, SF_SKEW).collect()
    }
    assert salted == plain
    assert salted["grp0"][0] > 5 * salted["grp1"][0]  # the hub is real


def test_global_sample_is_bounded_heap_not_sort(spark):
    # doc_global_sample's orderBy(qkey).limit(k) must compile to
    # TakeOrderedAndProject (per-task k-heap + driver merge), never a
    # global Sort of the corpus — the KMV plan property applied to rows
    from rossete_rdf_spark.textops.quality import global_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(global_sample(docs))
    assert "TakeOrderedAndProject" in plan
    # "Sort (" is how formatted explain renders a Sort node; a key-pattern
    # like "Sort [qkey" never appears in this format (vacuous assert)
    assert "Sort (" not in plan


def test_pq_encode_is_min_by_agg_not_window(spark):
    # r6: the PQ encode argmin runs as a min_by aggregation with map-side
    # partials (a SortAggregate: the struct(d, cid) ordering keeps the
    # buffer off the hash path), not a row_number window — the window shape
    # sorted corpus x PQ_M x PQ_CODES distance rows twice. Exactly ONE
    # window may remain in the whole query: the final per-query top-k.
    from rossete_rdf_spark.textops.ann import ann_pq_adc_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ann_pq_adc_topk(emb))
    assert plan.count("Window (") == 1  # top-k only; encode argmin is agg


@pytest.mark.parametrize(
    "name, group_limits, windows",
    [
        ("ann_cosine_topk", 2, 1),
        ("ann_ivf_nprobe_topk", 4, 2),
        ("ann_pq_rerank_topk", 3, 2),
        ("events_top_spenders_salted", 4, 2),
        ("doc_tfidf_top_terms", 2, 1),
        ("doc_domain_quota", 4, 2),
    ],
)
def test_top_k_plans_partial_group_limit(spark, name, group_limits, windows):
    # relops.top_k filters rk <= k directly on the row_number, so every
    # top-k window also plans a WindowGroupLimit (a partial one below the
    # shuffle keeps at most k rows per group and task, a final one above
    # it); a rank that is not a bare row_number still gives the same rows
    # but loses every group limit. The PQ re-rank plans only the final
    # limit: the broadcast exact-cosine join keeps the shortlist's query_id
    # partitioning, so it needs no shuffle to put a partial limit under.
    plan = _plan(QUERIES[name](spark, SF))
    assert plan.count("WindowGroupLimit (") == group_limits
    assert plan.count("Window (") == windows


def test_first_occurrence_dedup_single_column_stays_hash_agg(spark):
    # the dedup is one aggregation; with only fixed-width columns carried —
    # the order column alone, or beside other numbers — every aggregation
    # buffer is primitive, so it plans whole-stage HashAggregate: no
    # SortAggregate, no ObjectHashAggregate, no Window sort
    from pyspark.sql import functions as F

    from rossete_rdf_spark.rml.compiler import first_occurrence_dedup

    df = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k"),
        (F.col("id") % 7).alias("v"),
        (F.col("id") * 10).alias("o"),
    )
    only = first_occurrence_dedup(df.select("k", "o"), ["k"], order_col="o")
    wide = first_occurrence_dedup(df, ["k"], order_col="o")
    for d in (only, wide):
        plan = _plan(d)
        assert "HashAggregate" in plan
        for shape in ("SortAggregate", "ObjectHashAggregate", "Window"):
            assert shape not in plan, shape
    # the first row of key k is id == k
    assert sorted(map(tuple, wide.collect())) == [(k, k % 7, k * 10) for k in range(100)]
    assert sorted(map(tuple, only.collect())) == [(k, k * 10) for k in range(100)]


def test_rdfs_closure_matches_spark_fixpoint(spark):
    # r6: the TBox closure moved from iterated Spark joins to a driver-side
    # Python fixpoint (the edge list is static and schema-sized). Pin its
    # output against an independent Spark-side fixpoint so a closure bug
    # can never hide behind the faster path.
    from pyspark.sql import functions as F

    from rossete_rdf_spark.kgops import _tbox_edges

    edges = spark.createDataFrame(_tbox_edges(), "sub string, super string")
    closure = edges
    while True:
        grown = (
            closure.alias("p")
            .join(edges.alias("e"), F.col("p.super") == F.col("e.sub"))
            .select(F.col("p.sub").alias("sub"), F.col("e.super").alias("super"))
            .unionByName(closure)
            .distinct()
            .localCheckpoint(eager=True)
        )
        if grown.count() == closure.count():
            break
        closure = grown
    expected = {(r.sub, r.super) for r in closure.collect()}

    direct = _tbox_edges()
    closed = set(direct)
    while True:
        new = {
            (a, d) for (a, b) in closed for (c, d) in direct if b == c
        } - closed
        if not new:
            break
        closed |= new
    assert closed == expected


def _node_names(df) -> list[str]:
    """The operator names of df's formatted physical plan tree, top down
    (e.g. "Exchange", "BroadcastExchange", "BroadcastHashJoin")."""
    tree = _plan(df).split("\n\n")[0].splitlines()[1:]
    return [ln.lstrip(" :+-").split()[0] for ln in tree]


def test_lsh_blocking_has_no_window_and_verifier_no_array_sets(spark):
    # blocking is bucket-local: the signature, bucket and pair aggregates
    # are its only exchanges — no hot-bucket count, broadcast, anti join,
    # banding self-join or window; the verifier adds one broadcast of the
    # pair endpoints, one join onto the gram rows and the count-distinct
    # aggregate's (at most two) exchanges, never per-pair
    # array_intersect/array_union hash sets
    from rossete_rdf_spark.textops.dedup import _doc_ngrams
    from rossete_rdf_spark.textops.lsh import candidate_pairs, verify_jaccard

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    grams = _doc_ngrams(docs, "doc_id", "text", 3)
    cands = candidate_pairs(grams)
    blocking = _node_names(cands)
    assert blocking.count("Exchange") == 3, blocking
    assert "BroadcastExchange" not in blocking and "Window" not in blocking
    assert not [n for n in blocking if "Join" in n], blocking
    verifier = verify_jaccard(cands, grams, 0.5)
    verify = _node_names(verifier)
    assert verify.count("BroadcastExchange") == 1, verify
    assert len([n for n in verify if "Join" in n]) == 1, verify
    assert verify.count("Exchange") - blocking.count("Exchange") <= 2, verify
    text = _plan(verifier).lower()
    assert "arrayintersect" not in text and "array_intersect" not in text
    assert "array_union" not in text and "arrayunion" not in text


def test_small_cc_result_is_a_sized_local_relation(spark):
    # the driver path's result plans as a LocalRelation (known size, so
    # joins against it can broadcast), with or without Arrow conversion
    # enabled — never a LogicalRDD of unknown size
    from rossete_rdf_spark.graph.cc import connected_components
    from rossete_rdf_spark.session import scoped_conf

    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"])
    for arrow in ("true", "false"):
        with scoped_conf(spark, {"spark.sql.execution.arrow.pyspark.enabled": arrow}):
            comp = connected_components(edges)
            opt = comp._jdf.queryExecution().optimizedPlan()
            assert opt.getClass().getSimpleName() == "LocalRelation", arrow
            assert sorted(map(tuple, comp.collect())) == [
                ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
            ]


def test_keep_canonical_broadcasts_small_components(spark):
    # a small component table is broadcast onto the pages: no shuffle of
    # the pages side
    from pyspark.sql import functions as F

    from rossete_rdf_spark.pipeline.pagedup import _keep_canonical

    pages = spark.range(20).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("url"),
        F.lit("t").alias("text"),
    )
    edges = spark.createDataFrame([("p1", "p2"), ("p3", "p4")], ["src", "dst"])
    kept = _keep_canonical(pages, edges)
    names = _node_names(kept)
    assert "BroadcastHashJoin" in names, names
    assert "Exchange" not in names, names
    assert sorted(r.url for r in kept.collect()) == sorted(
        f"p{i}" for i in range(20) if i not in (2, 4)
    )


def test_small_connected_components_is_two_jobs(spark):
    # a 100-edge graph is below cc.DRIVER_MAX_EDGES: one count and one
    # collect, then union-find on the driver — not the distributed star
    # loop's jobs per two-round wave (dozens on this graph)
    from rossete_rdf_spark.graph.cc import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{(i * 7 + 1) % 150:03d}") for i in range(100)],
        ["src", "dst"],
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup("cc-small", "connected_components job-count pin")
    try:
        comp = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("cc-small")
    assert 1 <= len(jobs) <= 2, jobs
    assert comp.count() > 0


def test_checkpoint_snapshot_reads_launch_no_job(spark, tmp_path):
    # the manifest records each snapshot's schema, so neither the read after
    # the write nor a resume runs Spark's schema-inference job: a fresh stage
    # is its one write job, a finished one is no job at all, and so is
    # load_triples, which reads the triples stage with the same schema
    from rossete_rdf_spark.pipeline import load_triples
    from rossete_rdf_spark.pipeline.checkpoint import CheckpointManager

    workdir = str(tmp_path / "cp")

    def stage():
        return CheckpointManager(spark, workdir).run_stage(
            "triples", lambda: spark.range(0, 10, 1, 1)
        )

    assert len(_jobs_of(spark, "cp-fresh", stage)) == 1
    assert _jobs_of(spark, "cp-resume", stage) == []
    assert _jobs_of(spark, "cp-load", lambda: load_triples(spark, workdir)) == []


@pytest.mark.parametrize(
    "name, n_tables",
    [("events_range_join", 1), ("kg_apply_delta", 1), ("tpch_q5_local_volume", 6)],
)
def test_building_a_query_infers_each_table_once(spark, name, n_tables):
    # building a registry query's DataFrame runs one schema-inference job per
    # table read; the registry reads each input table once per call, so a
    # query that uses a table in two branches (the range join's events and
    # its day list, the delta-apply's old snapshot and its delta) infers it once
    jobs = _jobs_of(spark, f"build-{name}", lambda: QUERIES[name](spark, SF))
    assert len(jobs) == n_tables
