"""The scan layer's plan memo, and the lazy contract of the ops that return
their plan without a cache."""

from __future__ import annotations

import os
import shutil

import pytest

from cdc_pubsub_spark import tables
from cdc_pubsub_spark.registry import REGISTRY


def test_scan_memo_hits_any_tree_and_misses_a_rewritten_file(spark, sf_dir, tmp_path):
    tree = tmp_path / "tree"
    shutil.copytree(sf_dir, tree)
    first = tables.load(spark, str(tree), "region")
    assert tables.load(spark, str(tree), "region") is first

    path = tree / "region.parquet"
    path.write_bytes(path.read_bytes())
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = tables.load(spark, str(tree), "region")
    assert second is not first
    assert second.count() == first.count()


# Ops that return their lazy plan with no cache: building the plan runs no
# Spark job and leaves nothing persisted.
LAZY_OPS = (
    "agg_kmv_epoch_rollup",
    "agg_kmv_theta_distinct",
    "agg_theta_set_ops",
    "basket_brand_pairs",
    "corpus_curriculum_order",
    "dedup_containment",
    "dedup_near",
    "embed_random_projection",
    "events_ab_sprt",
    "events_active_users",
    "events_alert_debounce",
    "events_burstiness_fano",
    "events_forecast_backtest_mase",
    "events_hotspot_grid",
    "events_retention_halflife",
    "events_sliding_distinct_users",
    "graph_adamic_adar",
    "graph_label_propagation",
    "graph_modularity",
    "graph_rich_club",
    "join_fuzzy_trigram",
    "knn_regression_weighted",
    "ml_classification_report",
    "ml_naive_bayes",
    "ml_target_encoding_kfold",
    "orders_abc_xyz",
    "orders_assoc_rules",
    "orders_greedy_knapsack",
    "orders_hhi_concentration",
    "orders_mann_kendall_trend",
    "orders_net_revenue_retention",
    "orders_newsvendor_quantile",
    "orders_revenue_bridge",
    "orders_rfm_atscale",
    "profile_column_fingerprint",
    "profile_cramers_v",
    "profile_data_skew",
    "text_keyword_rake",
    "text_lm_kneser_ney",
    "text_rouge_pairs",
    "text_source_vocab_jaccard",
    "ts_matrix_profile",
    "ts_max_drawdown",
    "ts_sample_entropy",
    "ts_seasonal_decompose",
    "ts_stl_strength",
    "ts_theil_sen",
)
# Ops whose plan depends on collected scalars (a count, a bound, an
# iteration's step): building it runs jobs, but every cache those jobs
# read is released before the op returns.
COLLECTING_OPS = (
    "events_anomaly_esd",
    "events_anomaly_shesd",
    "events_interval_stabbing",
    "graph_cc_converged",
    "graph_hits",
    "ml_decision_tree",
    "ml_gmm_em",
    "ml_logreg_quality",
    "profile_chi2_independence",
)
# The lazy result of an iterative op reads its last checkpointed
# generation, which therefore stays persisted.
LEAF_CHECKPOINT_OPS = ("graph_cc_converged",)


@pytest.mark.parametrize("name", LAZY_OPS + COLLECTING_OPS)
def test_op_returns_uncached_lazy_plan(spark, sf_dir, name):
    fn = REGISTRY[name].fn
    fn(spark, sf_dir)  # first scans infer their schema with a job
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    group = f"lazy-contract-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # New ids only: the context cleaner may drop older RDDs meanwhile.
    left = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert len(left) == (name in LEAF_CHECKPOINT_OPS), f"op left {left} cached"
    if name in LAZY_OPS:
        assert not sc.statusTracker().getJobIdsForGroup(group)
