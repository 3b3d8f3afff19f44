"""Plan + semantics checks for the sketch queries (KMV, CMS) and the KG
enrichment/validation queries (RDFS inference, SHACL report)."""

from pyspark.sql import functions as F

from rossete_rdf_spark.kgops import ONTO, _tbox_edges
from rossete_rdf_spark.registry import QUERIES
from rossete_rdf_spark.textops.sketches import (
    CMS_TOP,
    KMV_K,
    heavy_hitters_cms,
    sketch_distinct_kmv,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_kmv_topk_is_bounded_heap_not_sort(spark):
    # orderBy(h).limit(k) must compile to TakeOrderedAndProject (per-task
    # k-element heap + driver merge), never a global Sort — the property the
    # 100 TB story depends on
    plan = _plan(sketch_distinct_kmv(_docs(spark)))
    assert "TakeOrderedAndProject" in plan
    # "Sort (" is the formatted-explain node form; "Sort [h" is vacuous
    assert "Sort (" not in plan


def test_kmv_estimate_is_close_and_exact_matches(spark):
    from rossete_rdf_spark.textops.common import pos_grams, words_col
    from rossete_rdf_spark.textops.sketches import KMV_NGRAM

    row = sketch_distinct_kmv(_docs(spark)).collect()[0]
    exact = (
        _docs(spark)
        .select(words_col(F.col("text")).alias("w"))
        .select(F.explode(pos_grams(F.col("w"), KMV_NGRAM)).alias("g"))
        .distinct()
        .count()
    )
    assert row.exact_distinct == exact
    assert exact > KMV_K  # the estimator branch, not the exact-heap branch
    # k=256 gives ~1/sqrt(k) ~ 6% standard error; allow 4 sigma
    assert abs(row.est_distinct - exact) / exact < 0.25


def test_cms_estimates_upper_bound_exact(spark):
    rows = heavy_hitters_cms(_docs(spark)).collect()
    assert len(rows) == CMS_TOP
    for r in rows:
        # CMS collisions only ever inflate a cell
        assert r.cms_estimate >= r.exact_count


def test_rdfs_inference_corpus_side_never_shuffles(spark):
    # the ABox pass must be map-only: broadcast TBox closure, no hash
    # partitioning exchange anywhere (the corpus-sized side never shuffles)
    plan = _plan(QUERIES["kg_rdfs_inference"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_rdfs_inference_types_transitive(spark):
    # pick one doc and check the full chain is present
    df = QUERIES["kg_rdfs_inference"](spark, SF)
    one = df.limit(1).collect()[0].subj
    got = {r.type_iri for r in df.filter(F.col("subj") == one).collect()}
    assert len(got) == 4  # leaf + crawl + web + document
    assert f"<{ONTO}Document>" in got
    assert f"<{ONTO}WebDocument>" in got


def test_tbox_is_acyclic_and_fixed(spark):
    edges = _tbox_edges()
    assert len(edges) == 23
    subs = {s for s, _ in edges}
    # roots: Document never appears as a subclass
    assert f"{ONTO}Document" not in subs


def test_shacl_shapes_partition_violations(spark):
    rows = QUERIES["kg_shacl_validate"](spark, SF).collect()
    by_shape = {}
    for r in rows:
        by_shape.setdefault(r.shape, []).append(r)
    # every shape fires on this corpus and no focus repeats within a shape
    for shape, vs in by_shape.items():
        focuses = [v.subj for v in vs]
        assert len(focuses) == len(set(focuses)), shape
    # MentionsMinCount never fires here (every doc links >= 1 entity); the
    # three data-dependent shapes must all fire
    assert set(by_shape) == {"MentionsMaxCount", "NCharsMinInclusive", "LangIn"}
    for v in by_shape["LangIn"]:
        assert v.value == "zh"
    for v in by_shape["NCharsMinInclusive"]:
        assert int(v.value) < 100
    for v in by_shape["MentionsMaxCount"]:
        assert int(v.value) > 23


def test_q5_pushes_date_filter_to_orders_scan(spark):
    plan = _plan(QUERIES["tpch_q5_local_volume"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)


def test_hopping_agg_events_land_in_exactly_two_windows(spark):
    hop = QUERIES["events_hopping_agg"](spark, SF)
    total = hop.agg(F.sum("n_events")).collect()[0][0]
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total == 2 * n_events  # window/slide = 2 overlapping windows each


def test_incremental_neardup_ids_respect_the_split(spark):
    from rossete_rdf_spark.textops.dedup import (
        INCREMENTAL_BATCH_BUCKET,
        incremental_minhash_neardup,
    )
    from rossete_rdf_spark.textops.quality import split_bucket

    out = incremental_minhash_neardup(_docs(spark))
    buck = out.select(
        split_bucket(F.col("new_id")).alias("nb"),
        split_bucket(F.col("corpus_id")).alias("cb"),
    ).collect()
    assert len(buck) > 0
    for r in buck:
        # batch probes, corpus archive
        assert r.nb >= INCREMENTAL_BATCH_BUCKET and r.cb < INCREMENTAL_BATCH_BUCKET


def test_partitioned_sink_roundtrip_prunes_partitions(spark, tmp_path):
    # the production triple/corpus layout story: write partitioned by a
    # low-cardinality column, and a reader filtering on it must touch only
    # that partition's files (PartitionFilters at the scan, not a post-scan
    # Filter over everything)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(out)
    rd = spark.read.parquet(out).filter(F.col("lang") == "de").select("doc_id")
    plan = _plan(rd)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("lang" in ln for ln in pf)
    assert rd.count() == docs.filter(F.col("lang") == "de").count()


def test_incremental_neardup_equals_cross_split_slice_of_full_join(spark):
    # with the hot-bucket cap OFF on both ops, the incremental batch-vs-
    # corpus join must produce EXACTLY the cross-split slice of the full
    # self-join (same bands, same keys — only the pairing universe differs)
    from rossete_rdf_spark.textops.dedup import (
        INCREMENTAL_BATCH_BUCKET as BB,
        incremental_minhash_neardup,
        minhash_lsh_pairs,
    )
    from rossete_rdf_spark.textops.quality import split_bucket

    docs = _docs(spark)
    inc = {
        (r.new_id, r.corpus_id, r.n_bands)
        for r in incremental_minhash_neardup(docs, max_bucket=None).collect()
    }
    full = minhash_lsh_pairs(docs, max_bucket=None).withColumn(
        "ba", split_bucket(F.col("id_a"))
    ).withColumn("bb", split_bucket(F.col("id_b")))
    cross = set()
    for r in full.collect():
        if (r.ba >= BB) != (r.bb >= BB):
            new, old = (r.id_a, r.id_b) if r.ba >= BB else (r.id_b, r.id_a)
            cross.add((new, old, r.n_bands))
    assert inc == cross and len(inc) > 0


def test_sq8_topk_recall_vs_exact(spark):
    # int8-quantized ranking must mostly agree with exact cosine: measure
    # top-5 recall against ann_cosine_topk over the same corpus
    from rossete_rdf_spark.textops.ann import ann_cosine_topk, ann_sq8_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {(r.query_id, r.cand_id) for r in ann_cosine_topk(emb).collect()}
    sq8 = {(r.query_id, r.cand_id) for r in ann_sq8_topk(emb).collect()}
    assert len(exact) > 0 and len(sq8) == len(exact)
    recall = len(exact & sq8) / len(exact)
    # symmetric normalized int8 keeps ~127^2*cosine ordering (measured 0.98)
    assert recall >= 0.9, recall


def test_pq_adc_topk_recall_vs_exact(spark):
    # 8x8 PQ with a 16-codeword sampled codebook is coarse; it must still
    # place most true top-5 neighbours in its top-5
    from rossete_rdf_spark.textops.ann import ann_cosine_topk, ann_pq_adc_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {(r.query_id, r.cand_id) for r in ann_cosine_topk(emb).collect()}
    pq = {(r.query_id, r.cand_id) for r in ann_pq_adc_topk(emb).collect()}
    assert len(exact) > 0 and len(pq) == len(exact)
    recall = len(exact & pq) / len(exact)
    # 32x2 subspaces, 64 sampled codewords: measured 0.76 on these
    # isotropic (clusterless — PQ's hard case) synthetic embeddings
    assert recall >= 0.6, recall


def test_hll_estimate_is_close_and_registers_bounded(spark):
    from rossete_rdf_spark.textops.sketches import HLL_M, sketch_distinct_hll

    row = sketch_distinct_hll(_docs(spark)).collect()[0]
    assert row.m == HLL_M
    # n_distinct >> m at sf0.001 already (~10^4 shingles into 512 registers):
    # the estimator branch, with essentially no zero registers
    assert 0 <= row.n_zero_registers < HLL_M
    assert row.exact_distinct > HLL_M
    # m=512 registers give ~1.04/sqrt(512) ~ 4.6% standard error; 4 sigma
    assert abs(row.est_distinct - row.exact_distinct) / row.exact_distinct < 0.2


def test_hll_rho_never_exceeds_word_width(spark):
    # the register value is rho(51-bit word) in [1, 52]; a value outside
    # that range means the bin()-length arithmetic broke
    from rossete_rdf_spark.textops.common import pos_grams, words_col
    from rossete_rdf_spark.textops.lsh import hash60
    from rossete_rdf_spark.textops.sketches import HLL_W_BITS, KMV_NGRAM

    h = (
        _docs(spark)
        .select(words_col(F.col("text")).alias("w"))
        .select(F.explode(pos_grams(F.col("w"), KMV_NGRAM)).alias("g"))
        .select(hash60(F.col("g")).alias("h"))
    )
    w = F.col("h").bitwiseAND(F.lit((1 << HLL_W_BITS) - 1))
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    mm = h.select(rho.alias("r")).agg(
        F.min("r").alias("lo"), F.max("r").alias("hi")
    ).collect()[0]
    assert 1 <= mm.lo and mm.hi <= HLL_W_BITS + 1
