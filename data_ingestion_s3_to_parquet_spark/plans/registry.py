"""The query registry: every SURVEY.md §2 operator, name → :class:`Query`.

``__spark_entry__`` re-exports :func:`queries` / :func:`oracle_sql` from
here; tests, bench.py and tools/ iterate the same registry, so there is
exactly one source of truth for what the engine claims to implement.

Each operator module exports one ``QUERIES`` list, a ``Query`` per
operator it defines. :data:`ORDER` alone fixes the order the driver
sees: the driver grades the first :data:`GRADED` names, and the rest
(:data:`EXTRA`) is oracle-checked by tools/oracle_check.py and pytest.
Lanes without an oracle are :data:`BENCH_ONLY`: benched and
pytest-covered, not graded (SURVEY.md §2C says why no engine-neutral
oracle exists for them). Moving a lane in or out of the graded prefix
is a one-line edit to :data:`ORDER`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from .spec import Query

# Modules exporting QUERIES. BENCH_ONLY keeps this order; nothing else
# depends on it.
_MODULES = (
    "operators.parity",
    "operators.relational",
    "operators.relational2",
    "operators.relational3",
    "operators.relational4",
    "operators.relational5",
    "operators.relational6",
    "operators.relational7",
    "operators.relational8",
    "operators.relational9",
    "operators.relational10",
    "operators.relational11",
    "operators.relational12",
    "operators.relational13",
    "operators.relational14",
    "operators.relational15",
    "operators.relational16",
    "operators.graph",
    "operators.similarity",
    "operators.dedup",
    "operators.textstats",
    "operators.multimodal",
    "operators.trainprep",
    "streaming.windows",
)

# The harness's per-round grading budget: ORDER[:GRADED] is graded.
GRADED = 50

# Every oracle lane, in the order queries() returns them.
ORDER: tuple[str, ...] = (
    # graded: the driver grades the first GRADED names
    "ingest_parity",
    "metric_cuped",
    "rank_test_u",
    "fdr_bh",
    "chisq_independence",
    "power_mde",
    "stream_srm",
    "eval_pass_at_k",
    "survival_km",
    "tokenizer_vocab_overlap",
    "fdr_holm",
    "sample_alloc_executed",
    "metric_did",
    "eval_lang_confusion",
    "cdc_apply",
    "data_expectations",
    "doc_fingerprint",
    "fuzzy_match_strings",
    "higher_order_funcs",
    "interleave_mix",
    "join_bloom_prefilter",
    "json_variant",
    "knn_graph",
    "label_propagation",
    "lang_id",
    "lm_unigram_score",
    "eval_mrr",
    "dedup_passages",
    "stream_join_interval",
    "chi2_contingency",
    "ann_two_stage",
    "content_chunks",
    "corr_pearson",
    "dedup_incremental",
    "pipeline_fineweb",
    "dup_span_max",
    "dsir_weights",
    "token_budget_select",
    "stream_dedup",
    "scan_parquet",
    "project_filter",
    "filter_compound",
    "scalar_funcs",
    "agg_rollup_cube",
    "agg_distinct",
    "join_outer",
    "join_semi_anti",
    "sort_limit_topk",
    "set_ops",
    "regexp_funcs",
    # EXTRA: oracle-checked locally, after the graded prefix
    "sample_size_calc",
    "survival_logrank",
    "bootstrap_ci_quantile",
    "perm_test_diff",
    "stream_bootstrap",
    "bootstrap_ci_diff",
    "srm_check",
    "eval_win_rate",
    "metric_winsorized",
    "ngram_novelty",
    "eval_brier",
    "eval_bradley_terry",
    "sample_alloc_neyman",
    "perm_test_ratio",
    "bootstrap_ci_winsorized",
    "corpus_prep",
    "decontaminate",
    "dedup_fuzzy",
    "dedup_ngram_jaccard",
    "emb_centroids",
    "map_in_pandas_tokens",
    "sample_split",
    "sim_topk",
    "agg_hll_sketch",
    "agg_skew_salted",
    "ann_ivf_topk",
    "array_map_json",
    "eval_kripp_alpha_ordinal",
    "graph_community_profile",
    "event_interarrival",
    "text_yule_k",
    "len_lognormal_fit",
    "word_adaptation",
    "eval_qwk",
    "text_mattr",
    "bootstrap_ci_mean",
    "event_interarrival_scale",
    "bootstrap_ci_ratio",
    "window_analytic",
    "subquery_scalar",
    "agg_percentile",
    "pivot",
    "join_skew_salted",
    "sql_frontend",
    "agg_argminmax",
    "udaf_grouped",
    "join_null_safe",
    "dedup_exact",
    "dedup_embedding",
    "dedup_components",
    "join_inner",
    "join_range",
    "graph_modularity",
    "text_readability",
    "graph_clustering_coeff",
    "zipf_fit",
    "heaps_fit",
    "eval_kripp_alpha",
    "event_burstiness",
    "datetime_funcs",
    "seq_pack",
    "embedding_quantize",
    "quality_gopher",
    "pii_redact",
    "media_frame_sample",
    "agg_approx_quantile",
    "agg_group",
    "join_broadcast",
    "join_asof",
    "rolling_quantile",
    "schema_drift_report",
    "dedup_threshold_sweep",
    "alert_rate_spike",
    "bpe_fertility",
    "compaction_plan",
    "privacy_ldiv",
    "eval_regression",
    "eval_mrr_scale",
    "dedup_cluster_stats",
    "corr_spearman",
    "trend_linfit",
    "anova_oneway",
    "rank_mannwhitney",
    "dedup_containment",
    "gini_concentration",
    "graph_assortativity",
    "eval_fleiss_kappa",
    "quantile_weighted",
    "eval_cohen_kappa",
    "privacy_tcloseness",
    "drift_ks",
    "skew_autosalt",
    "privacy_kanon",
    "quantile_select",
    "rolling_median",
    "forecast_snaive",
    "ref_integrity_audit",
    "reconcile_sources",
    "mmr_rerank",
    "drift_psi",
    "join_asof_nearest",
    "ts_interpolate",
    "privacy_erase",
    "feature_vector",
    "skew_report",
    "eval_ndcg",
    "eval_calibration",
    "eval_pr_curve",
    "eval_auc",
    "lm_bigram_score",
    "jsonl_interop",
    "ccnet_buckets",
    "zorder_layout",
    "orc_interop",
    "acf_lags",
    "rank_bm25",
    "ewma_smooth",
    "rank_fusion_rrf",
    "doc_winnow",
    "inverted_index",
    "changepoint_cusum",
    "winnow_overlap",
    "dedup_keep_best",
    "entropy_score",
    "word_filter",
    "sim_join_kmeans",
    "emb_gram",
    "session_paths",
    "kmeans_embeddings",
    "graph_triangles",
    "vocab_coverage",
    "bpe_merges",
    "bpe_apply",
    "pq_encode",
    "ann_pq_topk",
    "pmi_cooccur",
    "freq_items_topk",
    "dedup_soft",
    "mix_weights",
    "strip_markup",
    "ngram_counts",
    "merge_intervals",
    "markov_transitions",
    "robust_stats",
    "shard_manifest",
    "batch_by_length",
    "url_canonicalize",
    "cms_counts",
    "window_distribution",
    "text_normalize",
    "anomaly_zscore",
    "unpivot_stack",
    "window_range_interval",
    "profile_table",
    "sample_span_mask",
    "chunk_text",
    "basket_pairs",
    "period_growth",
    "ab_test_metrics",
    "time_weighted_avg",
    "funnel_conversion",
    "retention_cohort",
    "corpus_report",
    "recursive_cte",
    "value_histogram",
    "skyline_frontier",
    "link_predict",
    "kcore_decompose",
    "graph_sssp",
    "pagerank",
    "sample_stratified",
    "sim_join",
    "text_stats",
    "tfidf_top_terms",
    "quality_classifier",
    "multimodal_cols",
    "udf_scalar",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "sample_weighted",
    "udtf_lateral",
    "resample_ffill",
    "window_rank",
    "scd2_history",
)


def check_lanes(lanes: Iterable[Query], order: tuple[str, ...]) -> dict[str, Query]:
    """Index ``lanes`` by name; raise ValueError unless ``order`` lists
    exactly the lanes that carry an oracle, each once."""
    by_name: dict[str, Query] = {}
    for q in lanes:
        if q.name in by_name:
            raise ValueError(f"duplicate lane name: {q.name}")
        by_name[q.name] = q
    if len(set(order)) != len(order):
        raise ValueError("ORDER lists a name twice")
    unknown = [n for n in order if n not in by_name]
    if unknown:
        raise ValueError(f"ORDER names with no lane: {unknown}")
    no_oracle = [n for n in order if by_name[n].oracle is None]
    if no_oracle:
        raise ValueError(f"ORDER names with no oracle: {no_oracle}")
    missing = [n for n, q in by_name.items() if q.oracle is not None and n not in order]
    if missing:
        raise ValueError(f"oracle lanes missing from ORDER: {missing}")
    return by_name


_lanes = check_lanes(
    (q for mod in _MODULES for q in import_module(f"..{mod}", __package__).QUERIES),
    ORDER,
)

REGISTRY: dict[str, Query] = {n: _lanes[n] for n in ORDER[:GRADED]}
EXTRA: dict[str, Query] = {n: _lanes[n] for n in ORDER[GRADED:]}
BENCH_ONLY: dict[str, Query] = {n: q for n, q in _lanes.items() if q.oracle is None}
# Every lane by name: graded, then EXTRA, then BENCH_ONLY.
LANES: dict[str, Query] = {**REGISTRY, **EXTRA, **BENCH_ONLY}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every oracle lane in :data:`ORDER`: the graded prefix, then EXTRA.
    A 50-entry budget ignores the tail; a larger one grades it too."""
    return {n: LANES[n].fn for n in ORDER}


def oracle_sql() -> dict[str, str]:
    return {n: LANES[n].oracle for n in ORDER}
