"""Fleet-wide physical-plan discipline gate.

Sweeps EVERY registered query's executed plan (no actions run for the
pure ones) and enforces the engine-wide invariants:

- no `CartesianProduct` anywhere;
- `BroadcastNestedLoopJoin` only where a bounded side justifies it
  (1-row bound frames, audit-slice pair joins, explicit tiny
  cross-products) — allowlisted by query name;
- every parquet relation reads a pruned schema (non-empty ReadSchema
  is trivially true; the load-bearing per-query pruning/pushdown
  assertions live next to their operators).

A future query that accidentally plans a cartesian join fails HERE,
not in a 100 TB run.
"""

from __future__ import annotations

import pytest

from market_etl_spark import planlint
from market_etl_spark.queries import REGISTRY

from conftest import SF_SMOKE

#: Queries whose CALL has side effects (stream execution, table/zone
#: materialization, persisted index builds) — their plans are audited
#: by their own tests; executing them here would re-run those jobs.
_SKIP_PREFIXES = ("q_streaming_",)
_SKIP = {
    "q_etl_pipeline_roundtrip",
    "q_sql_text_whales",
    "llm_ivf_index_topk",
    "q_trades_sanity_summary",
    "q_trades_partition_histogram",
    "q_trades_whales_approx",
    "q_trades_pruned_day_vwap",
    "q_trades_dpp_join",
    "q_merge_upsert",
    "q_snapshot_diff",
    "q_json_source_roundtrip",
    "q_orc_source_roundtrip",
    "q_schema_evolution_roundtrip",
    "q_xml_source_roundtrip",
    "q_tombstone_forget",
    "q_rollup_incremental_refresh",
    "llm_incremental_dedup",
    "q_scd2_history_build",  # the fold runs 10 eager localCheckpoints
    "q_rowgroup_stats_audit",  # materializes the manifested layout once
    "llm_density_dedup",  # hash-min CC runs eager label-propagation jobs
    "q_compaction_plan",  # materializes the manifested layout once
    "q_triangle_count",  # counts triangles eagerly (two count() actions)
    "q_time_travel_read",  # commits two snapshot versions
    "q_vacuum_retention",  # commits three versions + vacuums the store
    "q_sql_scripting",  # BEGIN..END WHILE loop executes at sql() time
    "q_bfs_shortest_paths",  # frontier loop runs eager localCheckpoints
    "q_sessionize",  # pandas-state twin builds a stream zone
    "q_zorder_pruned_scan",  # materializes the z-ordered layout
    "q_bucketed_join_no_shuffle",  # writes+registers the bucketed tables
    "q_dynamic_partition_overwrite",  # rewrites the day-partitioned zone
    "q_aqe_skew_join",  # executes the join eagerly under scaled AQE conf
    "llm_ivfpq_topk",  # eager audit: PQ codebook collect + recall collects
    "q_runtime_bloom_filter_join",  # executes eagerly under scaled conf
    "q_compaction_execute",  # rewrites the compacted layout generation
    "q_merge_schema_evolution",  # seeds + merges the evolving target eagerly
    "q_merge_on_read_deletes",  # appends DV sidecars + purges a generation
    "q_partition_spec_evolution",  # stages two generations, executes eagerly
    "q_lakehouse_txn",  # five commits + a conflict retry, all eager
    "q_merge_on_read_updates",  # DV + reinsert sidecars + purge, eager
    "q_version_change_feed",  # commits three snapshot versions eagerly
    "q_mor_compaction_purge",  # stages layout + DVs, compacts eagerly
    "q_lakehouse_mor_txn",  # five commits + conflict retry + checkpoint
    "q_lakehouse_constraints",  # contract probes + four commits, eager
}

#: BroadcastNestedLoopJoin allowlist: every entry is a join against a
#: frame bounded by construction (1-row aggregates / k-row bound sets /
#: audit slices), where the NL join IS the intended plan.
_BNLJ_OK = {
    "q_pagerank_transitions",  # dangling-mass scalar: 1-row broadcast crossJoin
    "llm_approx_topk_terms",  # 1-row approx_top_k sketch broadcast into the audit
    "q_theta_sketch_setops",  # 1-row sketch-pair × 1-row exact-pair crossJoin
    "q_kll_mergeable_quantiles",  # 1-row merged-sketch broadcast into the audit
    "llm_density_dedup",  # 400-row bounded slice: broadcast theta self-join IS the plan
    "llm_psi_drift",  # two 1-row snapshot-total broadcasts into the PSI fold
    "llm_ks_drift",  # 1-row (na, nb) totals broadcast into the CDF diff
    "llm_token_budget_select",  # 1-row token-budget broadcast into the filter
    "llm_embedding_pca_power",  # 1-row model vectors (mean/v1/v2/λ) broadcasts
    "q_cusum_changepoint",  # 1-row (μ, σ) broadcast into the running sum
    "q_association_rules",  # 1-row n_users broadcast into the lift ratio
    "q_rfm_segments",  # 1-row global max-day broadcast into recency
    "q_point_in_polygon_join",  # bbox prefilter vs 3-row polygon bounds
    "q_sql_udf",  # non-equi day-range join vs the 2-row half_months() TVF
    "q_weekday_anova",  # 1-row grand-mean broadcast into the SS fold
    "q_regression_ols",  # 1-row first-day broadcast re-bases the x axis
    "q_fourier_periodogram",  # 1-row min-hour broadcast re-bases the phase
    "q_benjamini_hochberg",  # 1-row (mu, sd) broadcast into the z-tests
    "q_time_decay_trending",  # 1-row max-ts anchor broadcast into the decay
    "q_skew_advisor",  # 1-row census + 1-row top-key broadcasts assembled
    "q_fk_integrity_audit",  # per-edge 1-row count/orphan/fan-out broadcasts
    "llm_phash_near_dup",  # bucket-cardinality Hamming probe (≤ distinct hashes²)
    "q_cuped_variance_reduction",  # 1-row (theta, mean-x) broadcast adjustment
    "q_sprt_sequential_test",  # 1-row crossing-count + 1-row total broadcasts
    "q_kruskal_wallis",  # 1-row rank-sum fold x 1-row tie-sum broadcast
    "q_mcnemar_test",  # 1-row micros-midpoint anchor broadcast
    "q_difference_in_differences",  # 1-row midpoint-day anchor broadcast
    "q_kalman_filter_1d",  # 1-row day anchor + 1-row tmax broadcasts
    "llm_cosine_topk",
    "llm_cosine_topk_batch",
    "llm_ann_lsh_topk",
    "llm_ivf_topk",
    "llm_embedding_near_dup",
    "llm_kmeans_fit",
    "llm_kmeans_assign",
    "llm_embedding_centroids",
    "llm_embedding_quantization",
    "llm_embedding_standardize",
    "llm_dataset_mixture",
    "llm_stratified_sample",
    "llm_dataset_split",
    "llm_vocab_coverage",
    "llm_tfidf_keywords",
    "llm_decontamination",
    "q_value_histogram",
    "q_histogram_2d",
    "q_value_quartiles",
    "q_approx_distinct_users",
    "q_quality_drop_rate",
    "q_user_value_deciles",
    "q_heavy_hitters_words",
    "q_funnel_conversion",
    "q_tpch_q15",
    "q_tpch_q22",
    "q_tpch_q11",  # 1-row (total, n_parts) broadcast back for the HAVING cut
    "q_chi_square_features",  # 1-row global-sum + 1-row marginals broadcasts
    "q_salted_skew_agg",
    "q_range_band_join",
    "q_interval_join",
    "q_expectations_report",
    "llm_simhash_near_dup",
    "llm_minhash_near_dup",
    "llm_ngram_jaccard_pairs",
    "llm_dedup_clusters",
    "llm_exact_dedup",
    "q_recursive_calendar_spine",
    "q_gapfill_forward_vwap",
    "q9b_recent_activity",  # 1-row MAX(ts) anchor broadcast back
    "llm_bm25_topk",  # 1-row (N, avgdl) stats broadcast into the scorer
    "llm_semdedup_centroid",  # k-row seed-centroid broadcast fan-out
    "llm_embedding_outliers",  # same k-row seed fan-out + k-row threshold broadcast
    "llm_embedding_decontamination",  # bounded eval-slice broadcast scorer
    "llm_lm_perplexity",  # 1-row vocab-size broadcast into the scorer
    "llm_bpe_merges",  # 1-row merge rule broadcast into the apply step
    "llm_importance_weights",  # two 1-row vocab-size broadcasts (target/source LM)
    "llm_logreg_quality",  # 1-row weight/gradient frames broadcast per GD round
    "q_mann_whitney_u",  # 1-row tie-sum broadcast into the z-score fold
    "q_ddsketch_quantiles",  # 3-row quantile-probe broadcast into the ~100-bucket sketch
    "q_acf_ljung_box",  # 7-row lag frame + 1-row power-sum base broadcasts
    "llm_mutual_information",  # three 1-row entropy/total broadcasts assembled
    "q_bloom_membership_audit",  # 1-row bits-set count broadcast into the audit row
    "q_kaplan_meier_retention",  # ≤|durations|-row death frame broadcast into at-risk
    "q_bootstrap_ci_poisson",  # 200-row replicate-id broadcast fan-out (map-side)
    "llm_blocking_quality",  # 1-row candidate-count broadcast into the audit row
}


def _plannable_names():
    for name in REGISTRY:
        if name in _SKIP or name.startswith(_SKIP_PREFIXES):
            continue
        yield name


@pytest.mark.parametrize("name", sorted(_plannable_names()))
def test_no_cartesian_and_bounded_nl_joins(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
        raise AssertionError(
            f"{name} plans BroadcastNestedLoopJoin but is not allowlisted — "
            "either bound the build side and allowlist it, or fix the join"
        )
    # Fleet-wide gate for the explode-inferred-filter anti-pattern
    # (VERDICT r6 item 1): plain explode of a computed array makes
    # Catalyst push a guard that re-inlines the whole upstream
    # expression pipeline (~6× per-row CPU, SCALE.md). The optimized
    # plan is already cached on this queryExecution, so the check is
    # string-scan-cheap.
    planlint.assert_no_inferred_generate_guard(df, name)


# ---------------------------------------------------------------------------
# Linter self-test: the gate must be RED on a seeded plain-explode
# regression and GREEN on both safe rewrites, or the sweep above proves
# nothing.
# ---------------------------------------------------------------------------
def _expensive_arr(F):
    return F.array_distinct(
        F.transform(F.split(F.lower("text"), " "), lambda x: F.concat(x, F.lit("_s")))
    )


def test_planlint_flags_seeded_plain_explode(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    bad = df.withColumn("arr", _expensive_arr(F)).select(
        "id", F.explode("arr").alias("w")
    )
    with pytest.raises(AssertionError, match="InferFiltersFromGenerate"):
        planlint.assert_no_inferred_generate_guard(bad, "seeded")


def test_planlint_passes_safe_shapes(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    # safe shape 1: explode_outer + post-Generate IS NOT NULL
    good = (
        df.withColumn("arr", _expensive_arr(F))
        .select("id", F.explode_outer("arr").alias("w"))
        .filter(F.col("w").isNotNull())
    )
    planlint.assert_no_inferred_generate_guard(good, "outer")
    # a hand-written bare-attribute size guard is NOT the anti-pattern
    guarded = (
        df.select("id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select("id", F.explode_outer("w").alias("t"))
        .filter(F.col("t").isNotNull())
    )
    planlint.assert_no_inferred_generate_guard(guarded, "attr-guard")
