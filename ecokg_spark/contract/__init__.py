"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

One row per implemented operator family from SURVEY.md §2 plus the
training-data toolkit, declared once in ``_ROWS`` as ``(name, query,
oracle)``. Each Spark callable takes (spark, sf_dir) and reads the driver's
parquet tables; the oracle string is the same computation in DuckDB SQL
over pre-registered views. Column names and types are aligned on both
sides (aggregates computed through DECIMAL so float sums are exact and
bit-identical across engines), and every output column is a scalar.

Every row has an oracle by construction: seemingly non-SQL ops
(MinHash-LSH, SimHash, ANN-LSH, the full KG pipeline) pin portable
hash/arithmetic specs that DuckDB recomputes verbatim. The queries and
SQL live in the domain modules; this package exports only ``QUERIES``,
``ORACLES`` and ``_CERT_WINDOW``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ecokg_spark.contract import (
    dedup,
    embed,
    graph,
    kgflow,
    kgqc,
    media,
    relational,
    sampling,
    sketch,
    sparql,
    streaming,
    temporal,
    textops,
    web,
)

# Table order is registry order: scripts/plan_rotation.py reads it as
# certification age, and the driver certifies the first 50 rows after
# _window_order moves _CERT_WINDOW to the head.
_ROWS: list[tuple[str, Callable[[SparkSession, str], DataFrame], str]] = [
    ("pricing_summary", relational.q_pricing_summary, relational.SQL_PRICING),
    ("count_by_category", kgflow.q_count_by_category,
     kgflow.SQL_COUNT_BY_CATEGORY),
    ("filter_project", relational.q_filter_project,
     relational.SQL_FILTER_PROJECT),
    ("semi_join", kgflow.q_semi_join, kgflow.SQL_SEMI_JOIN),
    ("anti_join", kgflow.q_anti_join, kgflow.SQL_ANTI_JOIN),
    ("broadcast_join_agg", relational.q_broadcast_join_agg,
     relational.SQL_BROADCAST_JOIN_AGG),
    ("multi_join", relational.q_multi_join, relational.SQL_MULTI_JOIN),
    ("explode_tokens", relational.q_explode_tokens,
     relational.SQL_EXPLODE_TOKENS),
    ("first_wins", kgflow.q_first_wins, kgflow.SQL_FIRST_WINS),
    ("union_merge", kgflow.q_union_merge, kgflow.SQL_UNION_MERGE),
    ("window_topk", relational.q_window_topk, relational.SQL_WINDOW_TOPK),
    ("topk_limit", relational.q_topk_limit, relational.SQL_TOPK_LIMIT),
    ("case_chain", relational.q_case_chain, relational.SQL_CASE_CHAIN),
    ("string_funcs", relational.q_string_funcs, relational.SQL_STRING_FUNCS),
    ("curie_ops", relational.q_curie_ops, relational.SQL_CURIE_OPS),
    ("priority_coalesce", relational.q_priority_coalesce,
     relational.SQL_PRIORITY_COALESCE),
    ("rollup_stats", kgflow.q_rollup_stats, kgflow.SQL_ROLLUP_STATS),
    ("sparql_sink_error", sparql.q_sparql_sink_error,
     sparql.SQL_SPARQL_SINK_ERROR),
    ("json_extract", relational.q_json_extract, relational.SQL_JSON_EXTRACT),
    ("count_by_spo", kgflow.q_count_by_spo, kgflow.SQL_COUNT_BY_SPO),
    ("events_window", temporal.q_events_window, temporal.SQL_EVENTS_WINDOW),
    ("events_window_streaming", streaming.q_events_window_streaming,
     temporal.SQL_EVENTS_WINDOW),  # stream == batch agg
    ("sessionize", temporal.q_sessionize, temporal.SQL_SESSIONIZE),
    ("asof_join", temporal.q_asof_join, temporal.SQL_ASOF_JOIN),
    ("range_join_agg", temporal.q_range_join_agg, temporal.SQL_RANGE_JOIN_AGG),
    ("sessionize_streaming", streaming.q_sessionize_streaming,
     temporal.SQL_SESSIONIZE),  # drained stream == batch lag
    ("token_count", textops.q_token_count, textops.SQL_TOKEN_COUNT),
    ("quality_buckets", textops.q_quality_buckets,
     textops.SQL_QUALITY_BUCKETS),
    ("lang_id", textops.q_lang_id, textops.SQL_LANG_ID),
    ("repetition_ratio", relational.q_repetition_ratio,
     relational.SQL_REPETITION_RATIO),
    ("dup_ngram_ratio", relational.q_dup_ngram_ratio,
     relational.SQL_DUP_NGRAM_RATIO),
    ("bpe_token_count", relational.q_bpe_token_count,
     relational.SQL_BPE_TOKEN_COUNT),
    ("gopher_rules", textops.q_gopher_rules, textops.SQL_GOPHER_RULES),
    ("fingerprint", relational.q_fingerprint, relational.SQL_FINGERPRINT),
    ("exact_dedup", dedup.q_exact_dedup, dedup.SQL_EXACT_DEDUP),
    ("ngram_jaccard", dedup.q_ngram_jaccard, dedup.SQL_NGRAM_JACCARD),
    ("dup_spans", relational.q_dup_spans, relational.SQL_DUP_SPANS),
    ("decontam", relational.q_decontam, relational.SQL_DECONTAM),
    ("length_quartiles", textops.q_length_quartiles,
     textops.SQL_LENGTH_QUARTILES),
    ("line_dedup", dedup.q_line_dedup, dedup.SQL_LINE_DEDUP),
    ("url_parse", web.q_url_parse, web.SQL_URL_PARSE),
    ("url_dedup", relational.q_url_dedup, relational.SQL_URL_DEDUP),
    ("domain_stats", relational.q_domain_stats, relational.SQL_DOMAIN_STATS),
    ("pii_redact", textops.q_pii_redact, textops.SQL_PII_REDACT),
    ("hash_sample", sampling.q_hash_sample, sampling.SQL_HASH_SAMPLE),
    ("domain_quota", relational.q_domain_quota, relational.SQL_DOMAIN_QUOTA),
    ("minhash_neardup", dedup.q_minhash_neardup, dedup.SQL_MINHASH_NEARDUP),
    ("minhash_banded", dedup.q_minhash_banded, dedup.SQL_MINHASH_BANDED),
    ("simhash_neardup", dedup.q_simhash_neardup, dedup.SQL_SIMHASH_NEARDUP),
    ("cosine_topk", embed.q_cosine_topk, embed.SQL_COSINE_TOPK),
    ("embedding_neardup", dedup.q_embedding_neardup,
     dedup.SQL_EMBEDDING_NEARDUP),
    ("ann_lsh_topk", embed.q_ann_lsh_topk,
     embed.SQL_COSINE_TOPK),  # exhaustive LSH == exact top-k
    ("ann_ivf_topk", embed.q_ann_ivf_topk,
     embed.SQL_COSINE_TOPK),  # exhaustive IVF == exact top-k
    ("extract_html", kgflow.q_extract_html, kgflow.SQL_EXTRACT_HTML),
    ("triple_extract", kgflow.q_triple_extract, kgflow.SQL_TRIPLE_EXTRACT),
    ("entity_link", kgflow.q_entity_link, kgflow.SQL_ENTITY_LINK),
    ("link_ambiguity", kgflow.q_link_ambiguity, kgflow.SQL_LINK_AMBIGUITY),
    ("termlist_explode", kgflow.q_termlist_explode,
     kgflow.SQL_TERMLIST_EXPLODE),
    ("connected_components", graph.q_connected_components,
     graph.SQL_CONNECTED_COMPONENTS),
    ("kgx_merge", kgflow.q_kgx_merge, kgflow.SQL_KGX_MERGE),
    ("kg_materialize", kgflow.q_kg_materialize, kgflow.SQL_KG_MATERIALIZE),
    ("gaf_transform", kgflow.q_gaf_transform, kgflow.SQL_GAF_TRANSFORM),
    ("gaf_germplasm", kgflow.q_gaf_germplasm, kgflow.SQL_GAF_GERMPLASM),
    ("gaf_qtl", kgflow.q_gaf_qtl, kgflow.SQL_GAF_QTL),
    ("gaf_orthologs", kgflow.q_gaf_orthologs, kgflow.SQL_GAF_ORTHOLOGS),
    ("ontology_transform", kgflow.q_ontology_transform,
     kgflow.SQL_ONTOLOGY_TRANSFORM),
    ("eol_hierarchy", kgflow.q_eol_hierarchy, kgflow.SQL_EOL_HIERARCHY),
    ("eol_traits", kgflow.q_eol_traits, kgflow.SQL_EOL_TRAITS),
    ("gea_transform", kgflow.q_gea_transform, kgflow.SQL_GEA_TRANSFORM),
    ("graph_two_hop", relational.q_graph_two_hop,
     relational.SQL_GRAPH_TWO_HOP),
    ("sparql_select", sparql.q_sparql_select, sparql.SQL_SPARQL_SELECT),
    ("sparql_filter", sparql.q_sparql_filter, sparql.SQL_SPARQL_FILTER),
    ("sparql_distinct", sparql.q_sparql_distinct, sparql.SQL_SPARQL_DISTINCT),
    ("sparql_optional", sparql.q_sparql_optional, sparql.SQL_SPARQL_OPTIONAL),
    ("sparql_order_limit", sparql.q_sparql_order_limit,
     sparql.SQL_SPARQL_ORDER_LIMIT),
    ("sparql_union", sparql.q_sparql_union, sparql.SQL_SPARQL_UNION),
    ("sparql_values", sparql.q_sparql_values, sparql.SQL_SPARQL_VALUES),
    ("sparql_path_seq", sparql.q_sparql_path_seq, sparql.SQL_SPARQL_PATH_SEQ),
    ("sparql_path_plus", sparql.q_sparql_path_plus,
     sparql.SQL_SPARQL_PATH_PLUS),
    ("sparql_path_star", sparql.q_sparql_path_star,
     sparql.SQL_SPARQL_PATH_STAR),
    ("sparql_path_inverse", sparql.q_sparql_path_inverse,
     sparql.SQL_SPARQL_PATH_INVERSE),
    ("sparql_path_alt", sparql.q_sparql_path_alt, sparql.SQL_SPARQL_PATH_ALT),
    ("sparql_not_exists", sparql.q_sparql_not_exists,
     sparql.SQL_SPARQL_NOT_EXISTS),
    ("sparql_agg", sparql.q_sparql_agg, sparql.SQL_SPARQL_AGG),
    ("pagerank", graph.q_pagerank, graph.SQL_PAGERANK),
    ("triangle_count", graph.q_triangle_count, graph.SQL_TRIANGLE_COUNT),
    ("clustering_coeff", relational.q_clustering_coeff,
     relational.SQL_CLUSTERING_COEFF),
    ("shortest_path", graph.q_shortest_path, graph.SQL_SHORTEST_PATH),
    ("tfidf_topk", textops.q_tfidf_topk, textops.SQL_TFIDF_TOPK),
    ("cooccur_pmi", relational.q_cooccur_pmi, relational.SQL_COOCCUR_PMI),
    ("curate_corpus", kgflow.q_curate_corpus, kgflow.SQL_CURATE_CORPUS),
    ("curate_stream", streaming.q_curate_stream,
     kgflow.SQL_CURATE_CORPUS),  # drained stream == batch chain
    ("multimodal_meta", relational.q_multimodal_meta,
     relational.SQL_MULTIMODAL_META),
    ("multimodal_dims", relational.q_multimodal_dims,
     relational.SQL_MULTIMODAL_DIMS),
    ("media_features", media.q_media_features, media.SQL_MEDIA_FEATURES),
    ("media_resize_plan", relational.q_media_resize_plan,
     relational.SQL_MEDIA_RESIZE_PLAN),
    # the PORTABLE md5 corpus: the oracle replays the generator arithmetic
    # to the exact merged edge set; the component stages keep their own
    # rows (extract_html, triple_extract, entity_link, ...)
    ("kg_pipeline", kgflow.q_kg_pipeline, kgflow.SQL_KG_PIPELINE),
    # round-4 and later additions, oldest first
    ("paragraph_dedup", dedup.q_paragraph_dedup, dedup.SQL_PARAGRAPH_DEDUP),
    ("bigram_lm", sampling.q_bigram_lm, sampling.SQL_BIGRAM_LM),
    ("semantic_dedup", dedup.q_semantic_dedup, dedup.SQL_SEMANTIC_DEDUP),
    ("url_blocklist", web.q_url_blocklist, web.SQL_URL_BLOCKLIST),
    ("sparql_bind", sparql.q_sparql_bind, sparql.SQL_SPARQL_BIND),
    ("sparql_group_concat", sparql.q_sparql_group_concat,
     sparql.SQL_SPARQL_GROUP_CONCAT),
    ("sparql_group_expr", sparql.q_sparql_group_expr,
     sparql.SQL_SPARQL_GROUP_EXPR),
    ("sparql_order_multi", sparql.q_sparql_order_multi,
     sparql.SQL_SPARQL_ORDER_MULTI),
    ("sparql_regex", sparql.q_sparql_regex, sparql.SQL_SPARQL_REGEX),
    ("kcore", graph.q_kcore, graph.SQL_KCORE),
    ("ppr", graph.q_ppr, graph.SQL_PPR),
    ("containment", dedup.q_containment, dedup.SQL_CONTAINMENT),
    ("hashed_embed", embed.q_hashed_embed, embed.SQL_HASHED_EMBED),
    ("dup_span_removal", dedup.q_dup_span_removal, dedup.SQL_DUP_SPAN_REMOVAL),
    ("sparql_optional_filter", sparql.q_sparql_optional_filter,
     sparql.SQL_SPARQL_OPTIONAL_FILTER),
    ("curate_v2", kgflow.q_curate_v2, kgflow.SQL_CURATE_V2),
    ("sparql_exists", sparql.q_sparql_exists, sparql.SQL_SPARQL_EXISTS),
    ("sparql_minus", sparql.q_sparql_minus, sparql.SQL_SPARQL_MINUS),
    ("sparql_sum_avg", sparql.q_sparql_sum_avg, sparql.SQL_SPARQL_SUM_AVG),
    ("sparql_having", sparql.q_sparql_having, sparql.SQL_SPARQL_HAVING),
    ("sparql_ask", sparql.q_sparql_ask, sparql.SQL_SPARQL_ASK),
    ("sparql_construct", sparql.q_sparql_construct,
     sparql.SQL_SPARQL_CONSTRUCT),
    ("hits", graph.q_hits, graph.SQL_HITS),
    ("label_prop", graph.q_label_prop, graph.SQL_LABEL_PROP),
    ("fuzzy_dedup", dedup.q_fuzzy_dedup, dedup.SQL_FUZZY_DEDUP),
    ("quality_logit", textops.q_quality_logit, textops.SQL_QUALITY_LOGIT),
    ("stratified_sample", sampling.q_stratified_sample,
     sampling.SQL_STRATIFIED_SAMPLE),
    ("dedup_stream", streaming.q_dedup_stream, streaming.SQL_DEDUP_STREAM),
    ("hll_distinct", sketch.q_hll_distinct, sketch.SQL_HLL_DISTINCT),
    ("c4_rules", textops.q_c4_rules, textops.SQL_C4_RULES),
    ("incremental_dedup", dedup.q_incremental_dedup,
     dedup.SQL_INCREMENTAL_DEDUP),
    ("count_min", sketch.q_count_min, sketch.SQL_COUNT_MIN),
    ("sparql_offset", sparql.q_sparql_offset, sparql.SQL_SPARQL_OFFSET),
    ("vocab_topk", sampling.q_vocab_topk, sampling.SQL_VOCAB_TOPK),
    ("audio_chunks", media.q_audio_chunks, media.SQL_AUDIO_CHUNKS),
    ("sparql_count_star", sparql.q_sparql_count_star,
     sparql.SQL_SPARQL_COUNT_STAR),
    ("sparql_filter_cmp", sparql.q_sparql_filter_cmp,
     sparql.SQL_SPARQL_FILTER_CMP),
    ("bloom_probe", sketch.q_bloom_probe, sketch.SQL_BLOOM_PROBE),
    ("kgx_validate", kgqc.q_kgx_validate, kgqc.SQL_KGX_VALIDATE),
    ("pack_sequences", sampling.q_pack_sequences, sampling.SQL_PACK_SEQUENCES),
    ("bpe_pairs", sampling.q_bpe_pairs, sampling.SQL_BPE_PAIRS),
    ("fixed_sample", sampling.q_fixed_sample, sampling.SQL_FIXED_SAMPLE),
    ("curate_v3", kgflow.q_curate_v3, kgflow.SQL_CURATE_V3),
    ("group_centroids", embed.q_group_centroids, embed.SQL_GROUP_CENTROIDS),
    ("fuzzy_string_join", dedup.q_fuzzy_string_join,
     dedup.SQL_FUZZY_STRING_JOIN),
    ("kg_diff", kgqc.q_kg_diff, kgqc.SQL_KG_DIFF),
    ("stupid_backoff", sampling.q_stupid_backoff, sampling.SQL_STUPID_BACKOFF),
    ("hll_stream", streaming.q_hll_stream,
     sketch.SQL_HLL_DISTINCT),  # drained stream == batch sketch
    ("sparql_neg_path", sparql.q_sparql_neg_path, sparql.SQL_SPARQL_NEG_PATH),
    ("predicate_profile", kgqc.q_predicate_profile,
     kgqc.SQL_PREDICATE_PROFILE),
    ("inverse_detect", kgqc.q_inverse_detect, kgqc.SQL_INVERSE_DETECT),
    ("adamic_adar", graph.q_adamic_adar, graph.SQL_ADAMIC_ADAR),
    ("word_entropy", textops.q_word_entropy, textops.SQL_WORD_ENTROPY),
    ("sparql_subquery", sparql.q_sparql_subquery, sparql.SQL_SPARQL_SUBQUERY),
    ("rolling_zscore", temporal.q_rolling_zscore, temporal.SQL_ROLLING_ZSCORE),
    ("hash_walks", graph.q_hash_walks, graph.SQL_HASH_WALKS),
    ("sparql_values_multi", sparql.q_sparql_values_multi,
     sparql.SQL_SPARQL_VALUES_MULTI),
    ("sparql_sample", sparql.q_sparql_sample, sparql.SQL_SPARQL_SAMPLE),
    ("host_graph", web.q_host_graph, web.SQL_HOST_GRAPH),
    ("degree_histogram", graph.q_degree_histogram, graph.SQL_DEGREE_HISTOGRAM),
    ("temperature_mix", sampling.q_temperature_mix,
     sampling.SQL_TEMPERATURE_MIX),
    ("dsir_weights", sampling.q_dsir_weights, sampling.SQL_DSIR_WEIGHTS),
    ("scd2_history", temporal.q_scd2_history, temporal.SQL_SCD2_HISTORY),
    ("anchor_topk", web.q_anchor_topk, web.SQL_ANCHOR_TOPK),
    ("interval_merge", temporal.q_interval_merge, temporal.SQL_INTERVAL_MERGE),
    ("tc_reachability", graph.q_tc_reachability, graph.SQL_TC_REACHABILITY),
    ("rdfs_closure", graph.q_rdfs_closure, graph.SQL_RDFS_CLOSURE),
    ("redirect_resolve", web.q_redirect_resolve, web.SQL_REDIRECT_RESOLVE),
    ("hyperball", graph.q_hyperball, graph.SQL_HYPERBALL),
    ("flesch_score", textops.q_flesch_score, textops.SQL_FLESCH_SCORE),
    ("chunk_sliding", sampling.q_chunk_sliding, sampling.SQL_CHUNK_SLIDING),
    ("hierarchy_cycles", graph.q_hierarchy_cycles, graph.SQL_HIERARCHY_CYCLES),
    ("canonical_meta", web.q_canonical_meta, web.SQL_CANONICAL_META),
    ("kg_negatives", kgqc.q_kg_negatives, kgqc.SQL_KG_NEGATIVES),
    ("kmeans", embed.q_kmeans, embed.SQL_KMEANS),
    ("semdedup_kmeans", dedup.q_semdedup_kmeans, dedup.SQL_SEMDEDUP_KMEANS),
    ("sparql_strfuncs", sparql.q_sparql_strfuncs, sparql.SQL_SPARQL_STRFUNCS),
    ("sparql_in", sparql.q_sparql_in, sparql.SQL_SPARQL_IN),
    ("distance_distribution", graph.q_distance_distribution,
     graph.SQL_DISTANCE_DISTRIBUTION),
    ("join_stream", streaming.q_join_stream, streaming.SQL_JOIN_STREAM),
    ("robots_rules", web.q_robots_rules, web.SQL_ROBOTS_RULES),
    ("robots_check", web.q_robots_check, web.SQL_ROBOTS_CHECK),
    ("frame_sample", media.q_frame_sample, media.SQL_FRAME_SAMPLE),
    ("web_canonical_dedup", web.q_web_canonical_dedup,
     web.SQL_WEB_CANONICAL_DEDUP),
    ("rollup_cube", temporal.q_rollup_cube, temporal.SQL_ROLLUP_CUBE),
    ("pivot_events", temporal.q_pivot_events, temporal.SQL_PIVOT_EVENTS),
    ("sparql_describe", sparql.q_sparql_describe, sparql.SQL_SPARQL_DESCRIBE),
    ("harmonic_centrality", graph.q_harmonic_centrality,
     graph.SQL_HARMONIC_CENTRALITY),
    ("group_sample", sampling.q_group_sample, sampling.SQL_GROUP_SAMPLE),
    ("winnow_fp", dedup.q_winnow_fp, dedup.SQL_WINNOW_FP),
    ("surt_keys", web.q_surt_keys, web.SQL_SURT_KEYS),
    ("ts_multi", temporal.q_ts_multi, temporal.SQL_TS_MULTI),
    ("mad_outliers", temporal.q_mad_outliers, temporal.SQL_MAD_OUTLIERS),
    ("crawl_frontier", web.q_crawl_frontier, web.SQL_CRAWL_FRONTIER),
    ("jsonl_corrupt", textops.q_jsonl_corrupt, textops.SQL_JSONL_CORRUPT),
    ("nfc_normalize", textops.q_nfc_normalize, textops.SQL_NFC_NORMALIZE),
    ("sparql_bind_if", sparql.q_sparql_bind_if, sparql.SQL_SPARQL_BIND_IF),
    ("host_boilerplate", web.q_host_boilerplate, web.SQL_HOST_BOILERPLATE),
    ("sitemap_urls", web.q_sitemap_urls, web.SQL_SITEMAP_URLS),
    ("strip_boilerplate", web.q_strip_boilerplate, web.SQL_STRIP_BOILERPLATE),
    ("recrawl_priority", web.q_recrawl_priority, web.SQL_RECRAWL_PRIORITY),
    ("assortativity", graph.q_assortativity, graph.SQL_ASSORTATIVITY),
    ("funnel", temporal.q_funnel, temporal.SQL_FUNNEL),
    ("event_transitions", temporal.q_event_transitions,
     temporal.SQL_EVENT_TRANSITIONS),
    ("crawl_lifecycle", web.q_crawl_lifecycle, web.SQL_CRAWL_LIFECYCLE),
    ("int8_quantize", embed.q_int8_quantize, embed.SQL_INT8_QUANTIZE),
    ("kg_negatives_head", kgqc.q_kg_negatives_head,
     kgqc.SQL_KG_NEGATIVES_HEAD),
    ("int8_topk", embed.q_int8_topk, embed.SQL_INT8_TOPK),
    ("cluster_topics", embed.q_cluster_topics, embed.SQL_CLUSTER_TOPICS),
    ("retention", temporal.q_retention, temporal.SQL_RETENTION),
    ("sparql_values_undef", sparql.q_sparql_values_undef,
     sparql.SQL_SPARQL_VALUES_UNDEF),
    ("robots_delay", web.q_robots_delay, web.SQL_ROBOTS_DELAY),
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: query for name, query, _ in _ROWS}
ORACLES: dict[str, str] = {name: oracle for name, _, oracle in _ROWS}
# a dict keeps only the last of two equal keys: a repeated name would
# silently shadow the earlier row
assert len(QUERIES) == len(_ROWS), sorted(
    n for n in QUERIES if [r[0] for r in _ROWS].count(n) > 1)


# Driver-certification window. The driver's correctness gate runs the
# FIRST 50 registry entries only, so registry order decides which rows get
# a driver-recorded certification each round. This is the round-5 window
# (scripts/plan_rotation.py output): kg_pipeline, the flagship row, then the
# oldest never-driver-certified rows in table order. The next window is the
# first 50 of `python scripts/plan_rotation.py 50`. _ROWS keeps its
# declaration order; only the iteration order is rebuilt here.
_CERT_WINDOW = [
    "kg_pipeline",
    "paragraph_dedup", "bigram_lm", "semantic_dedup", "url_blocklist",
    "sparql_bind", "sparql_group_concat", "sparql_regex",
    "kcore", "ppr", "containment", "hashed_embed", "dup_span_removal",
    "sparql_optional_filter", "curate_v2", "sparql_exists", "sparql_minus",
    "sparql_sum_avg", "sparql_having", "sparql_ask", "sparql_construct",
    "hits", "label_prop", "fuzzy_dedup", "quality_logit",
    "stratified_sample", "dedup_stream", "hll_distinct", "c4_rules",
    "incremental_dedup", "count_min", "sparql_offset", "vocab_topk",
    "audio_chunks", "sparql_count_star", "sparql_filter_cmp",
    "bloom_probe", "kgx_validate", "pack_sequences", "bpe_pairs",
    "fixed_sample", "curate_v3", "group_centroids", "fuzzy_string_join",
    "kg_diff", "stupid_backoff", "hll_stream", "sparql_neg_path",
    # the two round-5 SPARQL additions (VERDICT r4 #8) — new rows are
    # themselves never-certified; predicate_profile / inverse_detect
    # rotate to the head of the round-6 backlog
    "sparql_group_expr", "sparql_order_multi",
]
assert len(_CERT_WINDOW) == 50 and len(set(_CERT_WINDOW)) == 50
assert all(n in QUERIES for n in _CERT_WINDOW), [
    n for n in _CERT_WINDOW if n not in QUERIES]


def _window_order(d):
    head = {k: d[k] for k in _CERT_WINDOW if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


QUERIES = _window_order(QUERIES)
ORACLES = _window_order(ORACLES)
