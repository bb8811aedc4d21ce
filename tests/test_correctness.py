"""Oracle-checked correctness over a category-spanning query subset.

Mirrors the driver gate: run the registered Spark query at sf0.01 and
compare row count, schema, and an order-insensitive canonical value
hash against the DuckDB oracle (same canonicalization as
tools/verify_local.py). The full all-query sweep lives in
tools/verify_local.py; this suite keeps pytest fast (~2 min) while
touching every operator category (SURVEY.md §2.3 A-K).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from tests.conftest import SF_DIR
from tools.verify_local import canon_rows

# at least one query per §2.3 category, biased toward the ones fixed
# or previously unverified in round 1
ORACLE_QUERIES = [
    "q1_pricing_summary",      # flagship scan+agg
    "scan_filter_pushdown",    # A
    "filter_like_regex",       # B (de-vacuized)
    "join_inner_broadcast",    # C
    "join_left_anti",          # C (de-vacuized)
    "join_asof",               # C (ns-unblocked)
    "agg_collect",             # D (canonicalizer fix)
    "agg_grouping_sets",       # D
    "window_range_frame",      # E
    "topk_per_group",          # F
    "set_except",              # G (de-vacuized)
    "fn_date",                 # H (type fix)
    "fn_array",                # H
    "flatten_multimap",        # H (signature op)
    "stream_dedup",            # I (ns-unblocked)
    "udf_pandas_vectorized",   # J
    "dedup_exact",             # K
    "dedup_minhash_signatures",  # K
    "dedup_embedding_cosine",  # K (de-vacuized)
    "text_token_count_bpe",    # K (regexp fix)
    "multimodal_binary_roundtrip",  # K (registry fix)
    "join_skew_salted",        # scale: salted join == plain join
    "sessionize_events",       # scale: gap sessionization
    "sample_stratified",       # scale: deterministic stratified sample
    "profile_columns",         # scale: one-pass profiler
    "agg_median_percentiles",  # D: exact median/quartiles
    "dedup_clusters",          # K: connected components
    "avro_ingest",             # A: pure-Python OCF decode, golden values
    "udf_arrow_map",           # J: mapInArrow surface
    "join_lateral_topn",       # C: LATERAL decorrelation
    "write_xml_roundtrip",     # A: XML interchange
    "stream_transform_with_state",  # I: v2 state API (gated)
    "agg_unpivot",             # D: wide->long melt (Expand)
    "set_union_byname",        # G: schema-aligning union
    "cdc_upsert",              # C: MERGE emulation, full-outer + coalesce
    "ts_gapfill_locf",         # TS: dense spine + day-partitioned LOCF
    "ts_rollup_multires",      # TS: hypertable rollup grouping sets
    "agg_regression",          # D: regr_* family
    "agg_approx_top_k",        # D: heavy-hitters sketch
    "fn_variant",              # H: VARIANT parse/typed-get
    "recursive_cte_chain",     # C: WITH RECURSIVE BFS-by-joins
    "fn_higher_order",         # H: JVM-side array lambdas
    "fn_binary_hash",          # H: md5/sha2/base64/hex
    "stream_foreachbatch_upsert",  # I: versioned merge sink
    "q7_volume_shipping",      # headline: bilateral trade join
    "q18_large_orders",        # headline: HAVING semi-join
    "udf_cogrouped_pandas",    # J: two-sided grouped map
    "ts_window_time_range",    # TS: time RANGE frame
    "fn_calendar",             # H: calendar surface
    "agg_boolean_bitwise",     # D: bool/bitwise/arg-max aggs
    "stream_python_source",    # I: custom Python streaming connector
    "write_partition_overwrite",  # A: dynamic partition refresh
    "join_null_safe",          # C: <=> null-safe equi-join
    "subquery_exists",         # C: EXISTS/NOT EXISTS -> semi/anti
    "fn_try_arithmetic",       # H: error-safe arithmetic/casts
    "fn_map_hof",              # H: map lambdas, serialized oracle
    "fn_string_predicates",    # H: string slicing/predicates
    "fn_array_outer",          # H: explode_outer null semantics
    "doc_chunk_overlap",       # K: sliding-window chunking
    "pack_concat_split",       # K: context-window packing
    "agg_listagg",             # D: ordered LISTAGG
    "agg_width_bucket_histogram",  # D: equi-width histogram
    "fn_array_setops",         # H: array set algebra
    "fn_collation",            # H: UTF8_LCASE comparison
    "window_nth_first_ignore",  # E: nth_value + IGNORE NULLS
    "stream_dedup_within_watermark",  # I: state-evicting dedup
    "write_orc_roundtrip",     # A: second columnar format
    "sim_search_lsh_rerank",   # K: two-stage retrieval
    "q14_promo_revenue",       # headline: promo share ratio
    "q19_bracket_predicates",  # headline: OR-bracket join filter
    "fn_regex_suite",          # H: regex surface
    "join_bloom_runtime_filter",  # C: runtime scan pruning
    "fn_struct_ops",           # H: nested record surface
    "ts_anomaly_zscore",       # TS: rolling z-score spikes
    "dedup_fuzzy_minhash",     # K: LSH candidates, now oracle-checked
    "sim_search_ann_ivf",      # K: IVF ANN, now oracle-checked
    "fn_bitwise",              # H: bitwise scalar surface
    "events_path_trigrams",    # scale: behavioral path mining
    "sql_modern_parameterized",  # params/variables/IDENTIFIER/GROUP BY ALL
    "multimodal_audio_chunks",  # K: audio seek-table planning
    "fn_map",                  # H: map surface, now oracle-checked
    "text_pii_redaction",      # K: regex scrub, fingerprint-pinned
    "text_contamination_ngram",  # K: benchmark decontamination join
    "text_quality_gopher",     # K: per-rule quality gate
    "corpus_lang_rebalance",   # K: deterministic language mix
    "dedup_incremental_lsh",   # K: batch-vs-corpus LSH probe
    "scd2_dimension_build",    # L: type-2 dimension refresh
    "compact_small_files",     # L: lossless 8x file-count reduction
    "skew_diagnose_keys",      # L: hot-key probe
    "zorder_morton_layout",    # L: Morton clustering envelopes
    "q4_order_priority",       # headline: EXISTS semi-join
    "q6_forecast_revenue",     # headline: pure pushdown scan-agg
    "q13_customer_distribution",  # headline: left-join count dist
    "q17_small_quantity",      # headline: correlated scalar subquery
    "q21_waiting_supplier",    # headline: semi+anti over same fact
    "q22_idle_rich_customers",  # headline: scalar avg + anti-join
    "fn_url_parse",            # H: parse_url component extraction
    "fn_format_output",        # H: printf-style formatting
    "sql_pivot_syntax",        # D: SQL PIVOT parser surface
    "pipeline_observe_metrics",  # L: Observation in-flight metrics
    "text_tfidf_topterms",     # K: keyword extraction ranking
    "text_bm25_search",        # K: lexical retrieval top-10
    "embedding_quantize_int8",  # K: max-abs int8 quantization
    "scan_recursive_glob",     # A: landing-zone sweep w/ glob filter
    "scan_metadata_columns",   # A: file provenance via _metadata
    "tokenizer_vocab_build",   # K: deterministic vocab ids
    "seq_len_distribution",    # K: context-length coverage histogram
    "anonymize_k_audit",       # K: k-anonymity privacy gate
    "part_co_occurrence",      # scale: bounded within-key self-join
    "udtf_analyze_dynamic",    # J: polymorphic UDTF (analyze schema)
    "agg_pivot_multi",         # D: multi-aggregate pivot
    "agg_covariance",          # D: co-moment aggregate family
    "sink_python_datasource",  # A: Python DataSource write protocol
    "udf_grouped_arrow",       # J: applyInArrow grouped map
    "ts_resample_ohlc",        # TS: OHLC bars via min_by/max_by
    "ts_ewma_bounded",         # TS: ordered-fold decayed mean
    "window_running_distinct",  # E: two-window distinct-so-far
    "events_markov_transitions",  # scale: transition matrix
    "write_max_records_per_file",  # A: writer-side file-size cap
    "fn_aes_roundtrip",        # H: column AES encrypt/decrypt
    "table_snapshot_diff",     # L: CDC diff between snapshots
    "customer_rfm_segments",   # scale: quartile lifecycle scores
    "pareto_abc_classes",      # scale: cumulative-share classing
    "events_ab_test_lift",     # scale: deterministic experiment readout
    "fn_json_nested_roundtrip",  # H: nested to_json/from_json cycle
    "stream_progress_metrics",  # I: telemetry == batch truth
    "synthetic_data_generate",  # A: range() generator source
    "stream_checkpoint_recovery",  # I: exactly-once across restarts
    "fn_try_datetime_parse",   # H: error-tolerant datetime parse
    "fn_map_merge",            # H: map_zip_with conflict merge
    "topk_offset_pagination",  # F: LIMIT/OFFSET paging
    "pipeline_dq_rules",       # L: one-scan DQ rule engine
    "dedup_char_ngram_repeats",  # K: char-level repeated substrings
    "agg_mode_deterministic",  # D: tie-stable mode
    "multimodal_image_resize_plan",  # K: Arrow-batched resize plan
    "binary_chunk_store",      # K: CAS chunk dedup stats
    "sql_inline_values_dim",   # D: inline VALUES broadcast dim
    "set_intersect_all",       # G: bag-semantics intersect
    "join_mark_existence",     # C: ExistenceJoin mark flag
    "text_perplexity_proxy",   # K: unigram-LM filtering signal
    "incremental_variance_merge",  # L: mergeable second moments
    "fn_xpath_extract",        # H: in-row XML xpath family
    "fn_number_format_roundtrip",  # H: to_char/to_number cycle
    "dedup_lsh_eval",          # K: LSH precision/recall calibration
    "zorder_prune_selectivity",  # L: quantified layout payoff
    "udf_arrow_optimized",     # J: useArrow=True scalar UDF
    "corpus_dataset_card",     # K: one-scan release summary
    "stream_stream_left_outer",  # I: eviction-driven null emission
    "events_wau_rolling",      # TS: sliding distinct actives
    "join_asof_nearest",       # C: bidirectional nearest as-of
    "dedup_url_canonical",     # K: parse/strip/rebuild URL dedup
    "write_json_gzip_roundtrip",  # A: compressed text interchange
    "ts_autocorrelation",      # TS: lag-k self-equi-join correlation
    "ts_seasonal_baseline",    # TS: dow/hod weekly profile
    "ts_anomaly_mad",          # TS: robust MAD thresholding
    "stat_crosstab",           # D: df.stat.crosstab contingency table
    "agg_bitmap_distinct",     # D: exact mergeable-bitmap distinct
    "join_interval_overlap",   # C: overlap join binned to equi-join
    "set_except_all",          # G: bag-semantics difference
    "fn_posexplode",           # H: positional explode
    "mv_incremental_refresh",  # L: additive partial-merge refresh
    "agg_session_window_batch",  # D/TS: built-in session_window
    "corpus_mixture_sampling",  # K: weighted epoch replication
    "dataset_shard_assignment",  # K: stable export shard manifest
    "dataset_global_shuffle",  # K: hash-permutation training order
    "curriculum_quality_stages",  # K: deterministic ntile curriculum
    "join_asof_tolerance",     # C: merge_asof tolerance semantics
    "embedding_mean_pool",     # K: per-label element-wise centroid
    "interval_stabbing_counts",  # TS: delta-encoded backlog
    "join_point_in_time",      # L: SCD2 temporal lookup as as-of
    "join_dpp_partitioned",    # A/C: dynamic partition pruning e2e
    "ts_sliding_windows_batch",  # TS: overlapping windows via Expand
    "agg_grouping_id",         # D: grouping-level bitmask routing
    "graph_pagerank_power",    # scale: iterative co-shuffled joins
    "graph_triangle_count",    # scale: degree-oriented wedge closing
    "q8_market_share",         # headline: last partsupp-free TPC-H
    "scan_ignore_corrupt_files",  # A: degraded-mode ingestion
    "fn_inline_struct_explode",  # H: inline generator
    "sql_lateral_view_syntax",  # H: HiveQL generator syntax
    "sql_create_replace_view",  # A: view DDL, REPLACE semantics
    "kpi_yoy_growth",          # scale: YoY self-join on month agg
    "write_nested_parquet_roundtrip",  # A: nested LIST write path
    "embedding_pca_power_iteration",  # K: collect-free eigensolve
    "dedup_cluster_survivors",  # K: keep-policy aggregate
    "customer_cohort_ltv",     # scale: cohort revenue matrix
    "window_rolling_median",   # E: bounded-frame robust smoother
    "gdpr_delete_cascade",     # K: broadcast anti-join purge + audit
    "stat_benford_digits",     # stats: first-digit law screen
    "stat_chi_square",         # stats: dense-grid independence test
    "events_user_streaks",     # stats: gaps-and-islands streaks
    "ts_time_weighted_avg",    # TS: duration-weighted mean
    "join_natural_using",      # C: NATURAL/USING column dedup
    "recon_symmetric_diff",    # L: two-sided snapshot reconciliation
    "dq_referential_integrity",  # L: FK orphan audit (non-vacuous)
    "sketch_countmin_heavy",   # scale: CMS cell-exact vs oracle
    "df_transpose",            # API: Spark 4 transpose
    "text_inverted_index",     # K: posting-list index build
    "events_attribution_touch",  # scale: last-touch window attribution
    "geo_nearest_hub",         # scale: broadcast haversine argmin
    "fn_uuid_deterministic",   # H: stable surrogate-key minting
    "agg_percentile_within_group",  # D: ordered-set aggregates
    "dataset_train_val_test_split",  # K: leakage-safe hash split
    "skyline_dominance",       # scale: sort-scan Pareto front
    "events_seq_pattern",      # scale: lead-chain pattern match
    "basket_association_lift",  # scale: market-basket rules
    "fn_unicode_lengths",      # H: codepoint vs byte semantics
    "ts_business_days",        # TS: higher-order calendar arithmetic
    "agg_weighted_median",     # D: cumulative-weight percentile
    "fn_from_csv_parse",       # H: typed embedded-CSV parse
    "stat_mahalanobis_outliers",  # stats: joint-distribution outliers
    "sql_partition_hints",     # scale: REPARTITION/REBALANCE hints
    "udf_pandas_iterator",     # J: SCALAR_ITER init-once UDF
    "fn_timestamp_ntz",        # H: NTZ timestamp semantics
    "stat_ks_test",            # stats: two-sample KS drift test
    "text_classify_naive_bayes",  # K: NB language classifier
    "embedding_knn_classify",  # K: k-NN majority-vote labels
    "fn_na_handling",          # H: DataFrameNaFunctions surface
    "text_pmi_collocations",   # K: windowed PMI phrase mining
    "ml_logistic_gradient_steps",  # stats: GD loop, collect-free
    "embedding_matryoshka_truncate",  # K: dim-truncation recall audit
    "write_encrypted_roundtrip",  # A: modular-encryption WRITE, 5 modes
    "write_bloom_filter_prune",   # A: bloom sidecar write + point lookup
    "write_object_store_committer",  # A: s3a committer conf analog
    "corpus_smoke_reads",      # A: stated-value corpus envelope (was rows)
    "encrypted_corpus_reads",  # A: stated-value decrypt check (was rows)
    "multimodal_decode_features",  # K: body-md5 oracle (was rows)
    "agg_approx_count_distinct",  # D: exact + sketch-bound hash (was rows)
    "agg_approx_percentile",   # D: exact quartiles + bound (was rows)
    "sketch_hll_union",        # D: exact + union-bound hash (was rows)
    "sim_search_ann_recall",   # K: composed topk+ivf oracle (was rows)
    "source_corrupt_records",  # A: derivable split oracle (was rows)
    "stream_stateful_running",  # I: batch-equivalence oracle (was rows)
    "kmeans_lloyd_iterations",  # K: semantic VALUES oracle (was rows)
    "scan_row_group_stats",    # A: footer stats == rank-bucketed truth
    "dedup_semantic_clustered",  # K: SemDeDup cluster-bounded cosine
    "corpus_token_budget_pack",  # K: greedy select-to-token-budget
    "api_pandas_on_spark",     # API: pyspark.pandas surface parity
    "sql_lateral_column_alias",  # H: SELECT-list alias reference
    "text_repetition_rep_n",   # K: within-doc repetition ratios
    "join_shuffle_hash_hint",  # C: SHJ strategy hint, plan-pinned
    "sql_udf_scalar",          # H: SQL-defined functions, inlined
    "scan_type_widening",      # A: widened read schema over narrow files
    "sketch_kll_quantiles",    # D: mergeable quantile sketch + bound
    "sketch_theta_setops",     # D: sketch set algebra + bounds
    "fn_mask_redact",          # H: class-preserving masking
    "q2_min_cost_supplier",    # headline: derived-partsupp min-cost
    "q9_product_type_profit",  # headline: derived-partsupp profit
    "q11_important_stock",     # headline: scalar-subquery threshold
    "q16_supplier_part_counts",  # headline: NOT IN + count distinct
    "q20_part_promotion",      # headline: nested correlated IN
    "dedup_prefix_boilerplate",  # K: shared-prefix screen
    "text_vocab_freq_spectrum",  # K: Zipf/Heaps spectrum
    "text_doc_entropy",        # K: per-doc unigram entropy
    "ml_linear_normal_equation",  # scale: Gram-matrix closed-form fit
    "corpus_importance_resampling",  # K: DSIR-style acceptance gate
    "events_uplift_cuped",     # scale: variance-reduced A/B readout
    "ts_changepoint_cusum",    # TS: peak-|CUSUM| changepoint
    "embedding_product_quantization",  # K: PQ codebook assignment
    "ts_holt_linear_forecast",  # TS: level+trend recurrence fold
    "text_bigram_lm_perplexity",  # K: smoothed bigram-LM filter signal
    "dq_freshness_sla",        # L: feed-lag SLA monitor
    "sample_weighted_reservoir",  # scale: fixed-size weighted sample
    "graph_link_prediction_cn",  # scale: bounded 2-hop wedge join
    "sql_scripting_control_flow",  # H: SQL/PSM BEGIN..END loop
    "stat_bootstrap_ci",       # scale: Poisson bootstrap, RNG-free
    "dedup_winnowing_fingerprints",  # K: MOSS winnowing
    "ts_periodogram_dft",      # TS: candidate-period spectral power
    "tokenizer_bpe_merges",    # K: real BPE merge training
    "events_funnel_time_bounded",  # scale: attribution-window funnel
    "embedding_random_projection_jl",  # K: JL sign projection
    "ts_interval_union_coverage",  # TS: island-merged active time
    "stat_cohort_survival_km", # scale: censored survival estimate
    "ml_kfold_cross_validation",  # scale: CV via stat subtraction
    "dq_distribution_drift_psi",  # L: PSI drift gate
    "corpus_source_divergence_jsd",  # K: source mixture audit
    "text_ngram_novelty_rate", # K: marginal-value curve
    "stat_mann_whitney_u",     # scale: rank-sum two-sample test
    "ts_alert_hysteresis",     # TS: two-band alert state machine
    "ts_theil_sen_slope",      # TS: robust pairwise-median trend
    "dedup_shingle_containment",  # K: asymmetric excerpt detection
    "events_feature_hashing",  # scale: dictionary-free featurization
]

# Queries additionally smoke-checked for sane row counts. NOTE: since
# r4 every registered query has a DuckDB oracle (ORACLES covers all
# 424; zero rows-only in the driver sense) — this set just keeps a
# direct execution test on keys with non-trivial streaming lifecycles.
ROWS_ONLY_QUERIES = {
    "stream_watermark_late": None,  # >0
}


def _registry():
    from parquet_playground_spark import registry

    registry.load_all()
    return registry


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, oracle_con, name):
    reg = _registry()
    sdf = reg.QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = oracle_con.sql(reg.ORACLES[name])
    ocols = list(rel.columns)
    orows = rel.fetchall()

    assert len(srows) == len(orows), f"rowcount {len(srows)} != {len(orows)}"
    assert len(srows) > 0, "vacuous pass: zero rows on both sides"
    assert sorted(scols) == sorted(ocols)
    assert canon_rows(scols, srows) == canon_rows(ocols, orows)


@pytest.mark.parametrize("name", sorted(ROWS_ONLY_QUERIES))
def test_rows_only_runs(spark, name):
    reg = _registry()
    expected = ROWS_ONLY_QUERIES[name]
    n = reg.QUERIES[name](spark, SF_DIR).count()
    if expected is None:
        assert n > 0
    else:
        assert n == expected


def test_corpus_expectations_all_match(spark):
    """Every §2.2 corpus file reads (or fails) exactly as declared."""
    reg = _registry()
    rows = reg.QUERIES["corpus_smoke_reads"](spark, SF_DIR).collect()
    mismatched = [r["file"] for r in rows if not r["matches_expectation"]]
    assert mismatched == []


def test_watermark_drops_late_row(spark):
    """Semantic assertion for stream_watermark_late (SURVEY §7.4): the
    straggler replayed behind the watermark must be excluded."""
    reg = _registry()
    out = reg.QUERIES["stream_watermark_late"](spark, SF_DIR)
    assert out.filter("late_event_included").count() == 0


def test_encrypted_read_wrong_aad_fails(spark):
    """AAD integrity: the disable-aad-storage corpus file requires the
    caller-supplied prefix; a WRONG prefix must fail the read, not
    silently decrypt (GCM tag verification)."""
    import pytest as _pytest

    from parquet_playground_spark.sources.encrypted import read_encrypted

    with _pytest.raises(Exception):
        read_encrypted(
            spark,
            "encrypt_columns_and_footer_disable_aad_storage.parquet.encrypted",
            "wrong-prefix",
        ).agg({"double_field": "sum"}).collect()


def test_kmeans_clusters_stay_populated_and_improve(spark):
    """kmeans_lloyd_iterations now hashes its semantic contract; this
    re-asserts it directly so a VALUES-oracle edit can't silently
    weaken the check."""
    reg = _registry()
    rows = {
        r["iteration"]: r
        for r in reg.QUERIES["kmeans_lloyd_iterations"](spark, SF_DIR).collect()
    }
    assert rows[1]["inertia_decreased"]
    assert rows[0]["k_used"] == 8 and rows[1]["k_used"] == 8


def test_sketch_bounds_hold(spark):
    """The sketch queries hash exact values + a within-bound boolean;
    re-assert the booleans directly (a TRUE literal in the oracle can
    only fail if these are False, so keep the semantic intent pinned
    in a test too)."""
    reg = _registry()
    acd = reg.QUERIES["agg_approx_count_distinct"](spark, SF_DIR).collect()[0]
    assert acd["approx_within_5pct"]
    ap = reg.QUERIES["agg_approx_percentile"](spark, SF_DIR).collect()[0]
    assert ap["approx_within_rank_band"]
    hll = reg.QUERIES["sketch_hll_union"](spark, SF_DIR).collect()[0]
    assert hll["union_within_5pct"]


def test_every_oracle_key_is_registered():
    reg = _registry()
    assert set(reg.ORACLES) <= set(reg.QUERIES)
    assert len(reg.QUERIES) >= 160
    # r4 closed the last rows-only query; every registered query now
    # carries a DuckDB oracle and this must stay true — a new query
    # landing without one silently downgrades the driver check to
    # rows-only (VERDICT r4 item 5).
    assert len(reg.ORACLES) == len(reg.QUERIES), (
        f"rows-only queries crept back in: "
        f"{sorted(set(reg.QUERIES) - set(reg.ORACLES))}"
    )


def test_every_oracle_parses_in_duckdb(oracle_con):
    """EXPLAIN every registered oracle in DuckDB — catches SQL typos
    and dialect slips in oracles the category subset doesn't execute,
    without paying a Spark run."""
    reg = _registry()
    bad = []
    for name, sql in reg.ORACLES.items():
        try:
            oracle_con.sql(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e).splitlines()[0]))
    assert bad == []


def test_oracle_spills_into_a_scratch_path_of_this_process(monkeypatch):
    """The oracle's DuckDB spill dir is this process's scratch path,
    removed at exit, not one fixed dir that concurrent sweeps share
    and no run removes."""
    from parquet_playground_spark.tables import scratch_path
    from tools.verify_local import oracle_connection

    monkeypatch.delenv("SPARK_GRAFT_DUCKDB_TMP", raising=False)
    con = oracle_connection(SF_DIR)
    try:
        tmp = con.sql("SELECT current_setting('temp_directory')").fetchone()[0]
        assert tmp == scratch_path("duckdb_tmp")
        assert f"_{os.getpid()}" in tmp
        assert con.sql("SELECT count(*) FROM region").fetchone()[0] == 5
    finally:
        con.close()


def test_check_order_names_are_registered():
    """Every _CHECK_ORDER entry must name a real query — a typo would
    silently drop it from the driver's official-check window."""
    from parquet_playground_spark import registry

    registry.load_all()
    missing = [n for n in registry._CHECK_ORDER if n not in registry.QUERIES]
    assert missing == []


def test_watermark_boundary_not_exercised(oracle_con):
    """stream_watermark_late's oracle pins window_end <= watermark
    (inclusive). Whether Spark finalizes a window whose end lands
    EXACTLY on the watermark is an eviction convention the oracle must
    never depend on — so assert the fixed testdata keeps every hourly
    window end strictly away from max(ts) - 15min (ADVICE r4 #3)."""
    gap = oracle_con.sql(
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        ends AS (
            SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 1 HOUR
                       AS window_end
            FROM events
        )
        SELECT min(abs(epoch(window_end) - epoch(m - INTERVAL 15 MINUTE)))
        FROM ends CROSS JOIN mx
        """
    ).fetchone()[0]
    assert gap is not None and gap > 0, (
        "an hourly window end coincides with the final watermark; the "
        "append-mode emit-set oracle would start depending on Spark's "
        "exact-equality eviction convention"
    )


def test_documents_text_never_null_or_empty():
    """text_bm25_search's one-pass form counts a document's length as
    its number of exploded tokens, which equals size(split(text)) only
    when text is neither NULL nor empty: explode(split(NULL)) drops the
    document and shifts n_docs, avgdl and df. Pin that fixture
    invariant at every scale present, so a fixture change fails here
    instead of drifting the scores."""
    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "documents.parquet"))
    )
    assert paths
    for path in paths:
        bad = duckdb.sql(
            f"SELECT count(*) FROM '{path}' WHERE text IS NULL OR text = ''"
        ).fetchone()[0]
        assert bad == 0, f"{path}: {bad} documents with NULL or empty text"


def test_stream_partition_derivation():
    """Pin _stream_shuffle_partitions: local mode stays at the
    measured-fast 2; cluster mode derives from parallelism and never
    collapses to a tiny fixed default (VERDICT r4 item 6)."""
    from parquet_playground_spark.session import _stream_shuffle_partitions

    f = _stream_shuffle_partitions
    assert f("local[32]", 32) == "2"
    assert f("local[*]", 4) == "2"
    assert f("spark://host:7077", 4000) == "4000"
    # small cluster: floor of 8, never the local 2
    assert f("yarn", 4) == "8"


def test_dual_dialect_templates_fail_loudly_on_drift():
    """The dual-dialect ops derive the Spark SQL from the same template
    as the oracle. A reformat must fail LOUDLY, not silently ship the
    DuckDB dialect to Spark (ADVICE r5 #3): events_decay renders both
    dialects from _DECAY_SQL placeholders (assert they actually
    diverge where intended), and corrmat's prefix slice anchors on a
    marker whose absence raises ValueError — pin the marker so drift
    is caught here at test time, not at first query call."""
    from parquet_playground_spark.operators import analytics, stats

    spark_side = analytics._DECAY_SQL.format(
        events="decay_events",
        age_seconds="unix_timestamp(a.now_ts) - unix_timestamp(e.ts)",
    )
    oracle_side = analytics._DECAY_SQL.format(
        events="events", age_seconds="date_diff('second', e.ts, a.now_ts)"
    )
    assert "date_diff" not in spark_side
    assert "unix_timestamp" not in oracle_side
    assert "{" not in spark_side and "{" not in oracle_side
    assert "        pairs AS (" in stats._CORRMAT_SQL
