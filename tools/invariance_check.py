"""Partition-layout invariance check (SCALE.md §20).

Every graded query must produce the same VALUE multiset regardless of
physical layout — the driver, the oracle, and any real cluster all see
different partition counts, so a layout-dependent result is a latent
grading failure (and a correctness bug at 100 TB, where reruns and
autoscaling reshape layout constantly). The engine earns this by
construction (hash-derived sampling instead of seeded ``rand()``,
decimal accumulators instead of float-order-dependent sums, total
orderings under every limit); this tool verifies it empirically by
running the most layout-sensitive queries at two adversarial shuffle
settings (200 vs 7 partitions) and diffing the sorted value multisets.

Usage::

    python tools/invariance_check.py [--sf /root/testdata/sf0.01] [names...]

Default query set: the sampling / packing / window / top-k / dedup /
CDC queries whose naive formulations WOULD be layout-dependent.
Pass explicit names to check others.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402

from data_ingestion_s3_to_parquet_spark.plans.registry import LANES  # noqa: E402

# Queries where a layout-dependent implementation is the natural bug:
# value-derived sampling, greedy packing, window ranks under ties,
# top-k limits, dedup keep-first, latest-wins CDC.
DEFAULT_NAMES = [
    "sample_split",
    "sample_stratified",
    "sample_weighted",
    "seq_pack",
    "sort_limit_topk",
    "window_rank",
    "tfidf_top_terms",
    "dedup_exact",
    "dedup_components",
    "cdc_apply",
    "scd2_history",
    "join_skew_salted",
    "interleave_mix",
    "sample_span_mask",
    "window_range_interval",
    "pagerank",
    "label_propagation",
    "knn_graph",
    "lm_unigram_score",
    "time_weighted_avg",
    "skyline_frontier",
    "period_growth",
    "ab_test_metrics",
    "dedup_passages",
    "dedup_passages_scale",  # r8 bench lane: saturated-coverage twin
    "emb_gram",
    # round-7 second wave: windowed/bucketed ops whose naive forms
    # would be layout-dependent, plus the XOR-checksum and CMS lanes
    # whose layout-independence is algebraic (verify it empirically)
    "markov_transitions",
    "robust_stats",
    "shard_manifest",
    "batch_by_length",
    "url_canonicalize",
    "cms_counts",
    "pmi_cooccur",
    "session_paths",
    "chi2_contingency",
    "ann_two_stage",
    # round-8 third wave: global-window NTILE/rank lanes, the BFS
    # relaxation loop, and survivor election — each a classic
    # layout-dependence trap in naive form
    "eval_calibration",
    "eval_pr_curve",
    "eval_ndcg",
    "graph_sssp",
    "stream_dedup",
    "drift_psi",
    "ts_interpolate",
    "privacy_erase",
    "feature_vector",
    "skew_report",
    "entropy_score",
    "content_chunks",
    # post-wave-2: exact int64 sums (hashed buckets / bucketed prefix
    # sums) — layout-independent by construction, verified empirically
    "dsir_weights",
    "token_budget_select",
    "corr_pearson",
]


def _values(spark: SparkSession, names: list[str], sf_dir: str, parts: int):
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    out = {}
    for n in names:
        rows = LANES[n].fn(spark, sf_dir).collect()
        # None-safe total order: NULL cells sort behind values of any
        # type (lanes legitimately emit NULL — undefined rho/kappa/F)
        out[n] = sorted(
            (tuple(r) for r in rows),
            key=lambda t: tuple(
                (v is None, str(type(v)), str(v)) for v in t
            ),
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or DEFAULT_NAMES

    from data_ingestion_s3_to_parquet_spark.session import get_spark

    spark = get_spark("invariance")
    spark.sparkContext.setLogLevel("ERROR")

    a = _values(spark, names, args.sf, 200)
    b = _values(spark, names, args.sf, 7)
    diff = [n for n in names if a[n] != b[n]]
    if diff:
        print(f"FAIL — layout-dependent values: {diff}")
        sys.exit(1)
    print(
        f"PASS — {len(names)} queries bitwise-identical at 200 vs 7 "
        f"shuffle partitions ({args.sf})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
