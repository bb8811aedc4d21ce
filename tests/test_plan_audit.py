"""Repo-wide physical-plan anti-pattern audit, one case per registered
query.

Flags the shapes that do not survive a 100x scale-up:

  * CartesianProduct / BroadcastNestedLoopJoin with a non-trivial
    build side (all-pairs work on a corpus-scaled axis),
  * row-at-a-time Python eval (BatchEvalPython) in any plan.

Declared exceptions are allowlisted with the reason inline — the
audit's value is that every exception is explicit, so a new
accidental cross join fails loudly instead of hiding among the 400+
plans. Audit some keys only with `pytest tests/test_plan_audit.py -k
<name>`.

Plan-only (queries are not executed), but plan CONSTRUCTION side
effects — staging stream sources, writing fixture tables, computing
broadcast centroids — do run, so the sweep costs a few minutes.
Marked `slow`; deselect with `-m 'not slow'` for quick iteration.
"""

from __future__ import annotations

import pytest

from parquet_playground_spark import registry
from parquet_playground_spark.plans.inspect import plan_nodes
from tests.conftest import SF_DIR

# name -> reason the flagged shape is the declared/correct design.
ALLOWED_NESTED_LOOP = {
    # the declared cross-join surface itself
    "join_cross": "the operator IS a cross join (bounded dims)",
    # scalar/bounded build sides: BroadcastNestedLoopJoin over a
    # 1-row aggregate or a K-row constant frame is a crossJoin of a
    # driver-sized scalar, not all-pairs work
    "join_theta_range": "theta join on inequality — bounded dim side",
    "join_interval_overlap": "interval theta join — bounded calendar",
    # all-pairs over the _MMR_CAND-row candidate set (K is a design
    # constant, not a corpus axis): the greedy MMR similarity matrix
    "sim_search_mmr_rerank": "bounded candidate-set pair matrix",
}

# BatchEvalPython: the deliberately-registered row-at-a-time UDF demo.
ALLOWED_PYTHON = {
    "udf_python_scalar": "the declared row-at-a-time J-category demo",
}

# BroadcastNestedLoopJoin over a broadcast SCALAR/K-bounded frame (a
# 1-row global aggregate, a K-centroid set, a quantile-grid constant):
# the standard plan for `df.crossJoin(scalar_agg)` — per-row work is
# O(K), not all-pairs, so it scales. Every name below was hand-audited
# (r6: each BNLJ's build side is a driver-sized aggregate). A BNLJ in
# any OTHER query hard-fails the audit: a new accidental cross join
# (e.g. a dropped equi-join condition against a broadcastable side)
# must either be fixed or explicitly audited into this list.
SCALAR_BROADCAST_BNLJ = {
    # two 1-row global aggregates cross-joined (the split that avoids
    # the RewriteDistinctAggregates HLL merge-per-row plan)
    "agg_approx_count_distinct",
    # r10 exact_percentiles: an 18-row quantile-target frame broadcast
    # against the value-count table (inequality probe, O(18)/row) plus
    # the 1-row exact-quantile result cross-joined into the sketch agg
    "agg_approx_percentile",
    "basket_association_lift", "corpus_dataset_card",
    "corpus_dedup_funnel", "corpus_importance_resampling",
    "corpus_perplexity_buckets", "corpus_quality_ensemble",
    "corpus_token_budget_pack", "curriculum_quality_stages",
    "customer_rfm_segments", "dedup_embedding_cosine",
    "dedup_semantic_clustered", "dq_freshness_sla",
    "embedding_knn_classify", "embedding_matryoshka_truncate",
    "embedding_pca_power_iteration",
    "embedding_random_projection_jl",
    "events_decay_engagement_score", "events_funnel",
    "events_markov_backtest", "events_uplift_cuped",
    "events_wau_rolling", "fn_na_handling", "geo_nearest_hub",
    "graph_pagerank_power", "graph_triangle_count",
    "incremental_variance_merge", "join_point_in_time",
    "ml_calibration_bins", "ml_confusion_matrix_metrics",
    "ml_gbdt_residual_boost", "ml_kfold_cross_validation",
    "ml_learning_curve_subsample", "ml_linear_normal_equation",
    "ml_logistic_gradient_steps", "ml_target_encoding_kfold",
    "pareto_abc_classes", "plan_cache_reuse",
    "seq_len_distribution", "sim_search_ann_ivf",
    "sim_search_ann_recall", "sim_search_cosine_topk",
    "sim_search_ivf_pq", "sketch_hll_union", "sketch_kll_quantiles",
    "sketch_theta_setops", "skew_diagnose_keys",
    "skyline_dominance", "stat_bootstrap_ci", "stat_chi_square",
    "stat_cohort_survival_km", "stat_entropy_gini",
    "stat_gini_concentration", "stat_kendall_tau_b", "stat_ks_test",
    "stat_mahalanobis_outliers", "stat_permutation_test",
    "text_bigram_lm_perplexity", "text_bm25_search",
    "text_classify_naive_bayes", "text_ctfidf_class_terms",
    "text_lm_interpolation_tuning", "text_lm_kneser_ney",
    "text_perplexity_proxy", "text_pmi_collocations",
    "text_tfidf_topterms", "text_zipf_fit", "tokenizer_bpe_merges",
    "tokenizer_unigram_em", "tokenizer_vocab_build",
    "tokenizer_wordpiece_encode", "ts_anomaly_mad",
    "ts_autocorrelation", "ts_cross_correlation_lagged",
    "ts_periodogram_dft",
}

registry.load_all()
NAMES = list(registry.QUERIES)


@pytest.mark.slow
@pytest.mark.parametrize("name", NAMES)
def test_no_unexplained_plan_antipatterns(spark, name):
    names = [n.name for n in plan_nodes(registry.QUERIES[name](spark, SF_DIR))]
    if name not in ALLOWED_NESTED_LOOP:
        assert "CartesianProduct" not in names
        if name not in SCALAR_BROADCAST_BNLJ:
            n_bnlj = names.count("BroadcastNestedLoopJoin")
            assert n_bnlj == 0, f"{n_bnlj}x BroadcastNestedLoopJoin not in SCALAR_BROADCAST_BNLJ"
    if name not in ALLOWED_PYTHON:
        assert "BatchEvalPython" not in names


@pytest.mark.slow
def test_audit_covers_the_whole_surface():
    # the sweep only means something if it saw the whole surface
    assert len(NAMES) >= 424
