"""Registry of driver-contract queries: name -> (spark, sf_dir) -> DataFrame,
plus the DuckDB oracle for each (oracles.py). This is the single source of
truth consumed by __spark_entry__.py, the cross-check tests, and bench.py.

Two kinds of query sit behind that one contract:

- Table ops are functions of their input DataFrames. `_op(fn, *tables)`
  adapts one: each call reads every named table once, through
  tables.read_table, and passes them to `fn` positionally, so an entry
  lists its tables in parameter order, like the oracle's FROM clause. An op
  that needs the session takes it from its input's `.sparkSession`.
- Path ops keep `(spark, sf_dir)` because their input is a path, not
  a table: the 9 RML queries (their mappings name file sources), the 5
  streaming queries (readStream over a directory) and rel_bucketed_join
  (catalog tables staged per sf_dir). Their table reads also go through
  tables.read_table."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import kgops, relops, rmlops
from .graph.analytics import (
    bfs_reachability,
    comention_pmi,
    entity_pagerank,
    entity_triangles,
    label_propagation,
)
from .oracles import ORACLES
from .pipeline.multimodal import multimodal_features_query
from .pipeline.canonicalize import entity_canonical_query
from .pipeline.pagedup import page_canonical_exact_query, page_canonical_lsh_query
from .streaming.events import (
    streaming_dedup_query,
    streaming_hourly_agg_query,
    streaming_interval_join_query,
    streaming_sessionize_query,
    streaming_static_join_query,
)
from .tables import read_table
from .textops import (
    ann_cosine_topk,
    ann_pq_adc_topk,
    ann_pq_rerank_topk,
    ann_sq8_topk,
    domain_blocklist,
    domain_quota,
    global_sample,
    heavy_hitters_cms,
    sketch_distinct_hll,
    sketch_distinct_kmv,
    clean_corpus,
    decontaminate,
    ann_ivf_kmeans_topk,
    ann_ivf_nprobe_topk,
    ann_ivf_topk,
    ann_lsh_bucket_topk,
    doc_fingerprint,
    embedding_neardup_pairs,
    exact_dedup,
    incremental_exact_dedup,
    incremental_minhash_neardup,
    lang_id,
    length_outliers,
    minhash_lsh_pairs,
    pii_redact,
    url_dedup,
    ngram_jaccard_pairs,
    quality_score,
    repetition_scores,
    simhash,
    source_stats,
    span_dedup,
    stratified_sample,
    tfidf_top_terms,
    token_count,
    train_test_split,
    vocab_dense_ids,
    unigram_logprob,
    winnow_fingerprints,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _op(fn: Callable[..., DataFrame], *tables: str) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(*(read_table(spark, sf_dir, t) for t in tables))

    return run


QUERIES: dict[str, QueryFn] = {
    # training-data ops: dedup family
    "exact_dedup": _op(exact_dedup, "documents"),
    "incremental_exact_dedup": _op(incremental_exact_dedup, "documents"),
    "incremental_minhash_neardup": _op(incremental_minhash_neardup, "documents"),
    "doc_fingerprint": _op(doc_fingerprint, "documents"),
    "doc_winnow_fingerprint": _op(winnow_fingerprints, "documents"),
    "ngram_jaccard_pairs": _op(ngram_jaccard_pairs, "documents"),
    "minhash_lsh_pairs": _op(minhash_lsh_pairs, "documents"),
    "simhash": _op(simhash, "documents"),
    "doc_span_dedup": _op(span_dedup, "documents"),
    # text analysis
    "token_count": _op(token_count, "documents"),
    "lang_id": _op(lang_id, "documents"),
    "quality_score": _op(quality_score, "documents"),
    "doc_repetition_score": _op(repetition_scores, "documents"),
    "doc_train_test_split": _op(train_test_split, "documents"),
    "doc_stratified_sample": _op(stratified_sample, "documents"),
    "doc_domain_quota": _op(domain_quota, "documents"),
    "doc_global_sample": _op(global_sample, "documents"),
    "doc_length_outliers": _op(length_outliers, "documents"),
    "doc_source_stats": _op(source_stats, "documents"),
    "doc_clean_corpus": _op(clean_corpus, "documents"),
    "doc_tfidf_top_terms": _op(tfidf_top_terms, "documents"),
    "doc_unigram_logprob": _op(unigram_logprob, "documents"),
    "vocab_dense_ids": _op(vocab_dense_ids, "documents"),
    "doc_decontaminate": _op(decontaminate, "documents"),
    # web-corpus cleaning (URL canonicalization + PII scrub)
    "doc_url_dedup": _op(url_dedup, "documents"),
    "doc_pii_redact": _op(pii_redact, "documents"),
    "doc_domain_blocklist": _op(domain_blocklist, "documents"),
    # fixed-memory sketches (KMV/HLL distinct estimates, count-min heavy hitters)
    "sketch_distinct_kmv": _op(sketch_distinct_kmv, "documents"),
    "sketch_distinct_hll": _op(sketch_distinct_hll, "documents"),
    "heavy_hitters_cms": _op(heavy_hitters_cms, "documents"),
    # similarity search + embedding-tier dedup
    "ann_cosine_topk": _op(ann_cosine_topk, "embeddings"),
    "ann_lsh_bucket_topk": _op(ann_lsh_bucket_topk, "embeddings"),
    "ann_ivf_topk": _op(ann_ivf_topk, "embeddings"),
    "ann_ivf_nprobe_topk": _op(ann_ivf_nprobe_topk, "embeddings"),
    "ann_ivf_kmeans_topk": _op(ann_ivf_kmeans_topk, "embeddings"),
    "ann_sq8_topk": _op(ann_sq8_topk, "embeddings"),
    "ann_pq_adc_topk": _op(ann_pq_adc_topk, "embeddings"),
    "ann_pq_rerank_topk": _op(ann_pq_rerank_topk, "embeddings"),
    "embedding_neardup_pairs": _op(embedding_neardup_pairs, "embeddings"),
    # KG construction (batch face)
    "kg_mentions": _op(kgops.mentions_from, "documents"),
    "kg_entity_link": _op(kgops.kg_entity_link, "documents"),
    "kg_doc_triples": _op(kgops.doc_triples_from, "documents"),
    # KG consumption + maintenance over the materialised triple table
    "kg_predicate_stats": _op(kgops.kg_predicate_stats, "documents"),
    "kg_bgp_entity_lang": _op(kgops.kg_bgp_entity_lang, "documents"),
    "kg_triples_delta": _op(kgops.kg_triples_delta, "documents"),
    "kg_apply_delta": _op(kgops.kg_apply_delta, "documents"),
    # SPARQL algebra over the triple table (OPTIONAL / NOT EXISTS / DESCRIBE)
    "kg_optional_mentions": _op(kgops.kg_optional_mentions, "documents"),
    "kg_not_exists": _op(kgops.kg_not_exists, "documents"),
    "kg_describe_entity": _op(kgops.kg_describe_entity, "documents"),
    "kg_ask": _op(kgops.kg_ask, "documents"),
    "kg_construct_popular": _op(kgops.kg_construct_popular, "documents"),
    "kg_group_concat_langs": _op(kgops.kg_group_concat_langs, "documents"),
    # RDFS forward chaining + SHACL-style snapshot validation
    "kg_rdfs_inference": _op(kgops.kg_rdfs_inference, "documents"),
    "kg_shacl_validate": _op(kgops.kg_shacl_validate, "documents"),
    # entity canonicalization (LSH blocking -> Jaccard verify -> CC), oracled
    "kg_entity_canonical": _op(entity_canonical_query, "documents"),
    # entity-graph analytics over the co-mention graph
    "kg_entity_pagerank": _op(entity_pagerank, "documents"),
    "kg_entity_triangles": _op(entity_triangles, "documents"),
    "kg_comention_pmi": _op(comention_pmi, "documents"),
    "kg_label_propagation": _op(label_propagation, "documents"),
    "kg_bfs_reachability": _op(bfs_reachability, "documents"),
    # relational / streaming-batch twins
    "rel_first_match_join": _op(relops.rel_first_match_join, "part", "lineitem"),
    "rel_runtime_filter_join": _op(relops.rel_runtime_filter_join, "part", "lineitem"),
    "rel_skew_join_agg": _op(relops.rel_skew_join_agg, "lineitem", "orders"),
    "rel_salted_join": _op(relops.rel_salted_join, "lineitem", "orders"),
    "rel_bucketed_join": relops.rel_bucketed_join,
    "events_asof_join": _op(relops.events_asof_join, "events"),
    "events_asof_join_bucketed": _op(relops.events_asof_join_bucketed, "events"),
    "events_range_join": _op(relops.events_range_join, "events"),
    "events_moving_avg": _op(relops.events_moving_avg, "events"),
    "events_funnel": _op(relops.events_funnel, "events"),
    "events_retention_cohorts": _op(relops.events_retention_cohorts, "events"),
    "events_top_spenders": _op(relops.events_top_spenders, "events"),
    "events_top_spenders_salted": _op(relops.events_top_spenders_salted, "events"),
    "events_value_quantiles": _op(relops.events_value_quantiles, "events"),
    "events_value_histogram": _op(relops.events_value_histogram, "events"),
    "events_anomaly_zscore": _op(relops.events_anomaly_zscore, "events"),
    "mention_counts_salted": _op(relops.mention_counts_salted, "documents"),
    "events_rollup": _op(relops.events_rollup, "events"),
    "events_cube": _op(relops.events_cube, "events"),
    "events_pivot": _op(relops.events_pivot, "events"),
    "events_unpivot_roundtrip": _op(relops.events_unpivot_roundtrip, "events"),
    "events_hourly_agg": _op(relops.events_hourly_agg, "events"),
    "events_hopping_agg": _op(relops.events_hopping_agg, "events"),
    "events_sessionize": _op(relops.events_sessionize, "events"),
    "tpch_q1_pricing": _op(relops.tpch_q1_pricing, "lineitem"),
    "tpch_q3_shipping": _op(relops.tpch_q3_shipping, "customer", "orders", "lineitem"),
    "tpch_q5_local_volume": _op(
        relops.tpch_q5_local_volume,
        "lineitem", "orders", "customer", "supplier", "nation", "region",
    ),
    # structured streaming (real readStream -> watermark -> memory sink)
    "streaming_hourly_agg": streaming_hourly_agg_query,
    "streaming_dedup": streaming_dedup_query,
    "streaming_interval_join": streaming_interval_join_query,
    "streaming_static_join": streaming_static_join_query,
    "streaming_sessionize": streaming_sessionize_query,
    # multimodal binary-column plumbing (mapInPandas feature extraction)
    "multimodal_features": _op(multimodal_features_query, "documents"),
    # page-dedup tiers through real iterative connected components
    "page_canonical_exact": _op(page_canonical_exact_query, "documents"),
    "page_canonical_lsh": _op(page_canonical_lsh_query, "documents"),
    # RML engine end-to-end
    "rml_nation_region_graph": rmlops.rml_nation_region_graph,
    "rml_subject_space_discard": rmlops.rml_subject_space_discard,
    "rml_self_join": rmlops.rml_self_join,
    "rml_constant_terms": rmlops.rml_constant_terms,
    # RML sources (S1 CSV / S2 JSON-iterator) and writers (W1 NT / W2 TTL)
    "rml_csv_source": rmlops.rml_csv_source,
    "rml_json_iterator": rmlops.rml_json_iterator,
    "nt_serialization": rmlops.nt_serialization,
    "ttl_serialization": rmlops.ttl_serialization,
    # rr:graphMap -> quad table graph column
    "rml_graph_quads": rmlops.rml_graph_quads,
}


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in ORACLES.items() if k in QUERIES}
