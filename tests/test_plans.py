"""Physical-plan assertions: the optimizer must actually deliver the
scale-critical properties (SURVEY.md §4) — pushed filters, pruned scan
schemas, broadcast joins on small dims, no cartesian products on
theta joins, and whole-stage codegen in the hot paths. These are the
properties that keep a 100 TB scan from reading 100 TB; a correctness
hash can't see them, so they get their own tests.
"""

from __future__ import annotations

import re

from parquet_playground_spark.plans.inspect import plan_nodes
from tests.conftest import SF_DIR


def _q(name):
    from parquet_playground_spark import registry

    registry.load_all()
    return registry.QUERIES[name]


def _plan(spark, name):
    """The nodes of query `name`'s plan, unexecuted."""
    return plan_nodes(_q(name)(spark, SF_DIR))


def _names(spark, name):
    return [n.name for n in _plan(spark, name)]


def _with_args(nodes, fragment):
    """The nodes whose argument text contains `fragment`."""
    return [n for n in nodes if fragment in n.args]


def _scans(nodes):
    return [n for n in nodes if n.name.startswith("Scan parquet")]


def _pushed(nodes, fragment):
    """True if `fragment` appears in a scan's PushedFilters list."""
    return any(fragment in n.meta.get("PushedFilters", "") for n in nodes)


def _subtree(node):
    yield node
    for child in node.children:
        yield from _subtree(child)


def test_filter_reaches_parquet_scan(spark):
    assert _pushed(_plan(spark, "scan_filter_pushdown"), "l_quantity")


def test_projection_prunes_read_schema(spark):
    (scan,) = _scans(_plan(spark, "scan_projection"))
    cols = re.findall(r"[<,](\w+):", scan.meta["ReadSchema"])
    assert sorted(cols) == ["l_linenumber", "l_orderkey", "l_quantity"]


def test_flagship_pushes_shipdate_filter(spark):
    assert _pushed(_plan(spark, "q1_pricing_summary"), "l_shipdate")


def test_dim_join_broadcasts(spark):
    assert "BroadcastHashJoin" in _names(spark, "join_inner_broadcast")


def test_multiway_join_broadcasts_both_dims(spark):
    assert _names(spark, "join_multiway").count("BroadcastHashJoin") >= 2


def test_theta_join_is_not_cartesian(spark):
    names = _names(spark, "join_theta_range")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_hot_paths_use_whole_stage_codegen(spark):
    """Codegen spans only appear in the FINAL adaptive plan, so execute
    first; also pin that no Python evaluation leaks into built-in-only
    pipelines (the row-at-a-time slow path)."""
    for name in ["q1_pricing_summary", "text_tokenize_counts", "dedup_exact"]:
        df = _q(name)(spark, SF_DIR)
        df.collect()
        nodes = plan_nodes(df)
        names = [n.name for n in nodes]
        assert any(n.startswith("WholeStageCodegen") for n in names), (
            f"{name}: no codegen in final plan"
        )
        assert "BatchEvalPython" not in names, name
        assert any(n.meta.get("Batched") == "true" for n in nodes), (
            f"{name}: scan not vectorized"
        )


def test_asof_join_plans_single_user_shuffle(spark):
    """The as-of composition must stay linear: one window over the
    union, no join at all (the quadratic range-join alternative would
    show SortMergeJoin/NestedLoop here)."""
    names = _names(spark, "join_asof")
    assert "Window" in names
    assert not any("NestedLoop" in n for n in names)
    assert "CartesianProduct" not in names


def test_bucketed_join_has_no_join_shuffle(spark):
    """Both sides bucketed on the join key -> the sort-merge join must
    read buckets pairwise with no Exchange on the join key; the only
    shuffle allowed is the final aggregate's."""
    df = _q("join_bucketed_colocated")(spark, SF_DIR)
    initial = plan_nodes(df)
    df.collect()
    # both scans read bucketed layout; no exchange on either join key,
    # in the initial plan nor in the final one
    # (at sf0.01 AQE may further convert to broadcast — also shuffle-free;
    # at fact-fact scale the same layout gives the bucket-pairwise SMJ)
    for nodes in (initial, plan_nodes(df)):
        assert sum(n.meta.get("Bucketed") == "true" for n in nodes) >= 2
        assert not _with_args(nodes, "hashpartitioning(o_custkey")
        assert not _with_args(nodes, "hashpartitioning(c_custkey")


def test_lsh_candidate_join_is_hash_join(spark):
    """LSH pairs must come from an equi bucket join, never a cross."""
    assert "CartesianProduct" not in _names(spark, "dedup_fuzzy_minhash")


def test_sessionize_is_single_user_shuffle(spark):
    """lag-window, running-sum-window, and the session aggregate must
    all reuse ONE hashpartitioning(user_id) exchange — the whole
    sessionization costs a single shuffle of the events table."""
    nodes = _plan(spark, "sessionize_events")
    (exchange,) = [n for n in nodes if "Exchange" in n.name]
    assert "hashpartitioning(user_id" in exchange.args


def test_deterministic_sample_is_narrow(spark):
    """The hash-predicate sample must plan as scan+filter only: no
    exchange, no aggregate — the property that makes it free at 100 TB."""
    names = _names(spark, "sample_hash_deterministic")
    assert not any("Exchange" in n for n in names)


def test_profiler_is_single_scan(spark):
    """All per-column stats must come from ONE scan of orders (the
    unpivot happens on the aggregated single row, not per column)."""
    assert len(_scans(_plan(spark, "profile_columns"))) == 1


def test_salted_join_is_equi(spark):
    """Salting must keep the join an equi hash/merge join on
    (orderkey, salt) — never a nested loop over the replicas."""
    names = _names(spark, "join_skew_salted")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_simhash_pairs_join_is_banded(spark):
    """Candidate pairs must come from the (band_idx, band_val) equi
    join, never an all-pairs product."""
    names = _names(spark, "dedup_simhash_pairs")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_partitioned_layout_prunes_partitions(spark):
    """A filter on the Hive partition column must become a
    PartitionFilter (directory pruning — zero I/O for other statuses),
    not a post-scan filter."""
    from parquet_playground_spark.tables import scratch_path

    _q("write_partitioned_parquet")(spark, SF_DIR).collect()  # materialize dir
    back = spark.read.parquet(scratch_path("orders_partitioned")).filter(
        "o_orderstatus = 'F'"
    )
    (scan,) = _scans(plan_nodes(back))
    assert scan.meta["PartitionFilters"].startswith("[isnotnull(o_orderstatus")


def test_q7_pushes_nation_filter_and_broadcasts(spark):
    nodes = _plan(spark, "q7_volume_shipping")
    assert [n.name for n in nodes].count("BroadcastHashJoin") >= 4
    assert _pushed(nodes, "NATION_1")  # n_name IN-filter pushed to the scan


def test_q18_single_lineitem_pass_topk(spark):
    """r10 shape: lineitem is aggregated ONCE by l_orderkey (the HAVING
    sum IS the output total_qty), the FACT-DERIVED survivor set
    hash-builds into the orders probe (never a forced broadcast — the
    q5/q21 never-broadcast-a-fact-proportional-side pin), and the
    top-100 runs as TakeOrderedAndProject — no second lineitem scan,
    no semi join, no final re-aggregation."""
    nodes = _plan(spark, "q18_large_orders")
    names = [n.name for n in nodes]
    scans = _scans(nodes)
    assert sum("lineitem.parquet" in n.meta["Location"] for n in scans) == 1
    assert "TakeOrderedAndProject" in names
    # exactly one aggregate pair (partial+final qty sum), no re-agg
    aggs = [n.args for n in nodes if n.name == "HashAggregate"]
    assert sum(bool(re.search(r", \[sum\(l_quantity#\d+\)\], ", a)) for a in aggs) == 1
    assert sum(bool(re.search(r", \[partial_sum\(l_quantity#\d+\)\], ", a)) for a in aggs) == 1
    # survivors are the hash build side, not a fact-derived broadcast
    assert "ShuffledHashJoin" in names


def test_cdc_upsert_is_keyed_join_not_nested_loop(spark):
    nodes = _plan(spark, "cdc_upsert")
    names = [n.name for n in nodes]
    assert _with_args(nodes, "FullOuter")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_recursive_cte_plans_union_loop(spark):
    assert "UnionLoop" in _names(spark, "recursive_cte_chain")


def test_gapfill_locf_windows_are_day_partitioned(spark):
    # the spine LOCF must never be one global unpartitioned sort; the
    # only acceptable unpartitioned window is the |days|-row carry
    assert _with_args(_plan(spark, "ts_gapfill_locf"), "windowspecdefinition(day")


def test_exists_rewrites_to_semi_and_anti(spark):
    nodes = _plan(spark, "subquery_exists")
    assert _with_args(nodes, "LeftSemi")
    assert _with_args(nodes, "LeftAnti")


def test_lsh_rerank_stage1_is_hash_join(spark):
    names = _names(spark, "sim_search_lsh_rerank")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_bloom_runtime_filter_injects_might_contain(spark):
    """Under the scoped confs join_bloom_runtime_filter uses, the
    optimizer must inject a bloom might_contain() predicate on the
    probe side before the shuffle (the conf restore in the query fn
    means the plan must be captured inside the scope)."""
    from parquet_playground_spark.session import scoped_confs
    from parquet_playground_spark.tables import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, confs):
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_totalprice") > 55000
        )
        nodes = plan_nodes(li.join(o, li.l_orderkey == o.o_orderkey))
        assert any("might_contain" in n.args.lower() for n in nodes)


def test_topk_per_group_uses_window_group_limit(spark):
    """Spark 3.5+ pushes rank<=k into the window as WindowGroupLimit —
    the per-group top-k never materializes full partitions."""
    assert "WindowGroupLimit" in _names(spark, "topk_per_group")


def test_q6_pushes_all_three_predicates(spark):
    """q6 is the canonical pushdown probe: date + discount + quantity
    must all reach the parquet scan."""
    nodes = _plan(spark, "q6_forecast_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert _pushed(nodes, col), col


def test_contamination_broadcasts_eval_split(spark):
    """The tiny benchmark split must broadcast — the training corpus
    side of the decontamination join must never shuffle."""
    assert "BroadcastHashJoin" in _names(spark, "text_contamination_ngram")


def test_co_occurrence_is_keyed_self_join(spark):
    """The within-order pair join must stay an equi-join on orderkey
    (bounded fan-out), never a cartesian/nested-loop pair blowup."""
    names = _names(spark, "part_co_occurrence")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_bm25_single_pass_no_token_shuffle(spark):
    """r10 shape: ONE tokenize pass — explode the tokens and fold
    dl + per-term tf in a single map-side-combined groupBy(doc_id),
    so the only exchange carries one narrow row per document (never
    raw tokens), the stats aggregate and the hits filter both consume
    that exchange (runtime exchange reuse executes it once), and no
    doc-proportional JOIN side exists — the stats join is the 1-row
    broadcast. (The r9 per-row array-filter form re-tokenized each
    document in three operators across two scans and measured 1.8x
    slower at sf1; the r8 form shuffle-joined a doc-proportional dl
    table. `git show e3d5e8c:plans/r10/text_bm25_search_{before,after}.txt`.)"""
    nodes = _plan(spark, "text_bm25_search")
    names = [n.name for n in nodes]
    assert "TakeOrderedAndProject" in names
    # the only join is the 1-row stats broadcast (nested-loop cross)
    assert "SortMergeJoin" not in names and "ShuffledHashJoin" not in names
    # the exchange is per-doc rows, never the exploded token stream
    assert _with_args(nodes, "hashpartitioning(doc_id")
    assert not _with_args(nodes, "hashpartitioning(t#")
    # tf/dl fold happens below the exchange (map-side combine)
    assert _with_args(nodes, "partial_count(1)")


def test_incremental_lsh_probe_is_hash_join(spark):
    """Batch-vs-corpus band probe must be a hash equi-join on the
    (band, bucket) key — the property that keeps it from all-pairs."""
    names = _names(spark, "dedup_incremental_lsh")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_quantize_has_no_shuffle_and_no_python(spark):
    """Quantization is map-only JVM lambda work: no exchange, no
    Python evals in the plan."""
    names = _names(spark, "embedding_quantize_int8")
    assert not any("Exchange" in n for n in names)
    assert "BatchEvalPython" not in names
    assert "ArrowEvalPython" not in names


def test_sql_broadcast_hint_is_respected(spark):
    """The SQL BROADCAST hint must produce a BroadcastHashJoin even
    where size stats alone might pick sort-merge — the escape hatch
    when a dimension's stats are missing at 100 TB."""
    from parquet_playground_spark.tables import load_table

    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("hint_orders")
    load_table(spark, SF_DIR, "customer").createOrReplaceTempView(
        "hint_customer"
    )
    df = spark.sql(
        """
        SELECT /*+ BROADCAST(c) */ c.c_mktsegment, count(*) AS n
        FROM hint_orders o JOIN hint_customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )
    assert "BroadcastHashJoin" in [n.name for n in plan_nodes(df)]


def test_dynamic_partition_pruning_on_partitioned_fact(spark):
    """Joining a partitioned fact to a FILTERED dim must inject a
    dynamicpruning subquery on the fact's partition column — at scale
    this is what turns 'scan all partitions then join' into 'scan only
    the partitions the dim filter selects'."""
    from parquet_playground_spark.tables import scratch_path

    _q("write_partitioned_parquet")(spark, SF_DIR).collect()  # materialize dir
    fact = spark.read.parquet(scratch_path("orders_partitioned"))
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        ["status", "label"],
    ).filter(F.col("label") == "finished")
    joined = fact.join(
        F.broadcast(dim), fact.o_orderstatus == dim.status
    ).groupBy("status").count()
    assert any(
        "dynamicpruning" in n.meta.get("PartitionFilters", "")
        for n in plan_nodes(joined)
    )


def test_q8_broadcasts_dims_pins_fact_scaled_edges(spark):
    """nation/region (constant-size) broadcast, but the three
    fact-proportional sides — part, supplier-nation, customer-region —
    must be shuffle joins (SortMergeJoin; the q5/q9 defect class), and
    the selective part filter must reach its scan."""
    nodes = _plan(spark, "q8_market_share")
    names = [n.name for n in nodes]
    assert names.count("BroadcastHashJoin") >= 2   # n into c / n into s
    assert names.count("SortMergeJoin") >= 3       # p, cust_region, supp_nation
    assert "CartesianProduct" not in names
    assert _pushed(nodes, "PROMO")  # p_type filter pushed toward the part scan


def test_partition_hints_materialize_exchanges(spark):
    nodes = _plan(spark, "sql_partition_hints")
    assert _with_args(nodes, "REPARTITION_BY_NUM")
    assert _with_args(nodes, "REBALANCE_PARTITIONS_BY_COL")


def test_business_days_has_no_explode(spark):
    # higher-order filter, not explode
    assert not any("Generate" in n for n in _names(spark, "ts_business_days"))


def test_nearest_hub_broadcasts_hubs(spark):
    # the hub side is a 5-row cross join: broadcast NESTED LOOP, and
    # never a shuffled CartesianProduct
    names = _names(spark, "geo_nearest_hub")
    assert "BroadcastNestedLoopJoin" in names
    assert "CartesianProduct" not in names


def test_pmi_pair_join_is_equi_not_cartesian(spark):
    """The ±2-window pair extraction must plan on the COMPOSITE equi-key
    (doc_id, pos + offset) — the exploded-offset shape that is linear in
    corpus size — never on doc_id alone with the offset as a residual
    (per-document all-pairs, quadratic in document length). The only
    nested-loop joins allowed are the broadcast 1-row totals frames."""
    nodes = _plan(spark, "text_pmi_collocations")
    names = [n.name for n in nodes]
    assert "CartesianProduct" not in names
    # the exploded-offset key column must be part of a join's hash keys
    assert any("pos_t" in n.args for n in nodes if n.name.endswith("Join"))
    # scalar totals may broadcast-nested-loop; the heavy token join
    # must not: every BNLJ in the plan builds a 1-row aggregate side
    assert names.count("BroadcastNestedLoopJoin") <= 2


def test_naive_bayes_broadcasts_class_stats(spark):
    """The K-row class table and the 1-row consts frame must broadcast;
    only the token-keyed model join may shuffle."""
    names = _names(spark, "text_classify_naive_bayes")
    assert names.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in names


def test_logistic_steps_broadcast_weights(spark):
    """Every GD step must broadcast the 1-row weight frame against the
    feature scan — the loop never shuffles features by anything but
    the orderkey join."""
    names = _names(spark, "ml_logistic_gradient_steps")
    assert names.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in names


def test_matryoshka_shares_one_corpus_scan(spark):
    """Full-dim and truncated rankings must ride the same broadcast
    query × corpus pass — one embeddings scan for the corpus side, not
    one per resolution."""
    # exactly corpus + broadcast query side; a regression to one corpus
    # scan per resolution would show as 3 (2 corpus + 1 query)
    assert len(_scans(_plan(spark, "embedding_matryoshka_truncate"))) <= 2


def test_bloom_point_lookup_pushes_predicate(spark):
    """The point predicate the bloom filter serves must reach the scan
    as a pushed EqualTo — bloom row-group skipping only engages below a
    pushed filter, never above a post-scan Filter node."""
    assert _pushed(_plan(spark, "write_bloom_filter_prune"), "EqualTo(p_name,")


def test_semantic_dedup_pair_join_is_cluster_keyed(spark):
    """The quadratic cosine stage must be bounded by the cluster
    equi-join; the only nested-loop join allowed is the 8-row centroid
    broadcast for assignment."""
    nodes = _plan(spark, "dedup_semantic_clustered")
    names = [n.name for n in nodes]
    assert "CartesianProduct" not in names
    # the quadratic stage is the per-cluster GEMM: exactly one
    # FlatMapGroupsInPandas, grouped (= shuffled) on the cluster id,
    # consuming the assignment subtree ONCE (the old cid_a=cid_b HOF
    # self-join read it twice and evaluated every pair through
    # interpreted lambdas — 4445 s at sf100 vs seconds of BLAS)
    assert names.count("FlatMapGroupsInPandas") == 1, names
    assert _with_args(nodes, "hashpartitioning(cid"), "pair stage not cluster-keyed"
    # every nested-loop join in the plan is a scalar/bounded
    # broadcast (the lazy 1-row K/cK aggregate, the sqrt(K)-row
    # coarse layer); the unexecuted plan re-expands them once per
    # subtree reference. Bound their count so a genuinely unbounded
    # nested-loop pair stage can't hide among them.
    assert names.count("BroadcastNestedLoopJoin") <= 12


def test_shuffle_hash_hint_forces_shj(spark):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (not the
    default SortMergeJoin, not a broadcast)."""
    names = _names(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in names
    assert "SortMergeJoin" not in names


def test_sql_udf_inlines_into_codegen(spark):
    """SQL-defined functions must inline — no Python evaluation node,
    and the scan filter still pushes down through the UDF calls."""
    df = _q("sql_udf_scalar")(spark, SF_DIR)
    df.collect()
    nodes = plan_nodes(df)
    assert "BatchEvalPython" not in [n.name for n in nodes]
    assert _pushed(nodes, "l_orderkey")


def test_q9_derived_partsupp_broadcasts_dims(spark):
    # Q9 over derived partsupp: dims (part/supplier/nation) must
    # broadcast; the fact-side work is the ps-derivation groupBy plus
    # the final agg — no cartesian. The plan has 5 hash shuffles:
    # lineitem twice on (partkey, suppkey) (derivation groupBy, join
    # back), lineitem and orders on orderkey, and the final agg.
    nodes = _plan(spark, "q9_product_type_profit")
    names = [n.name for n in nodes]
    assert "CartesianProduct" not in names
    assert names.count("BroadcastHashJoin") >= 3
    hash_exchanges = [
        n for n in nodes if n.name == "Exchange" and n.args.startswith("hashpartitioning")
    ]
    assert len(hash_exchanges) <= 5


def test_q2_min_cost_filter_is_not_cartesian(spark):
    # The correlated min-cost equality must decorrelate into a join,
    # not a per-row nested loop over the derivation.
    names = _names(spark, "q2_min_cost_supplier")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_q20_semi_join_decorrelates(spark):
    # The nested correlated IN must plan as semi-join machinery, not a
    # row-at-a-time subquery loop.
    nodes = _plan(spark, "q20_part_promotion")
    assert "CartesianProduct" not in [n.name for n in nodes]
    assert _with_args(nodes, "LeftSemi")


def test_prefix_dedup_single_shuffle(spark):
    # Prefix boilerplate dedup is one computed-key groupBy: exactly one
    # fact shuffle (plus AQE-inserted final ordering), no join at all.
    nodes = _plan(spark, "dedup_prefix_boilerplate")
    assert not any("Join" in n.name for n in nodes)
    assert len(_with_args(nodes, "hashpartitioning")) == 1  # group key; + 1 range sort


def test_vocab_spectrum_two_stage_agg(spark):
    # Spectrum = two chained map-side-combinable aggs; the partial_
    # aggregates must exist (map-side combine) and no join appears.
    nodes = _plan(spark, "text_vocab_freq_spectrum")
    assert not any("Join" in n.name for n in nodes)
    assert _with_args(nodes, "partial_count")


# ---- round 5 additions: plan pins for the new operator batch ----


def test_ivf_pq_broadcasts_codebook_no_cartesian(spark):
    """The IVF-PQ query path must stay index-shaped: codebook and
    centroids broadcast (tiny), candidates reached via equi-joins on
    (list, code) keys — a cartesian or nested-loop here means the ADC
    rewrite regressed to brute force."""
    names = _names(spark, "sim_search_ivf_pq")
    assert "BroadcastHashJoin" in names
    assert "CartesianProduct" not in names


def test_unigram_em_runs_on_type_table_no_python(spark):
    """The EM fold is pure JVM expression work over the word-TYPE
    table; any BatchEvalPython would mean the DP fell off the codegen
    path."""
    names = _names(spark, "tokenizer_unigram_em")
    assert "BatchEvalPython" not in names


def test_paragraph_dedup_no_pairwise_join(spark):
    """Span dedup counts span frequencies — there must be no doc-pair
    expansion (nested loop / cartesian) anywhere in the plan."""
    names = _names(spark, "dedup_paragraph_exact")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_funnel_stays_hash_joined(spark):
    """The curation funnel composes four stages; every inter-stage
    filter must plan as hash/broadcast joins (semi/anti), never a
    nested loop over documents."""
    names = _names(spark, "corpus_dedup_funnel")
    assert "CartesianProduct" not in names


def test_stump_single_fact_scan_per_feature_union(spark):
    """The stump histograms read lineitem once per feature arm (3
    scans via the union) and aggregate map-side; no Python, no join."""
    names = _names(spark, "ml_decision_stump")
    assert "BatchEvalPython" not in names
    assert not any("Join" in n for n in names)


def test_lttb_bucket_stages_no_python(spark):
    names = _names(spark, "ts_downsample_lttb")
    assert "BatchEvalPython" not in names
    assert "CartesianProduct" not in names


def test_kalman_fold_is_single_shuffle(spark):
    """One groupBy on the series key; the filter itself is expression
    work — no join, no Python."""
    names = _names(spark, "ts_kalman_filter_1d")
    assert "BatchEvalPython" not in names
    assert not any("Join" in n for n in names)


def test_webdataset_pack_no_global_sort(spark):
    """Packing is per-source: the plan may sort WITHIN groups for the
    collect_list but must not plan a global Exchange-to-one-partition
    (rangepartitioning over a single ordering key set is fine; a
    SinglePartition exchange before the fold is not)."""
    names = _names(spark, "multimodal_webdataset_shards")
    assert "BatchEvalPython" not in names


def test_auc_single_fact_aggregation(spark):
    """AUC reduces the fact table to a score histogram in one
    map-combinable aggregate; the window then runs over that tiny
    aggregate. No join may touch the fact table."""
    names = _names(spark, "ml_auc_roc")
    assert not any("Join" in n for n in names)
    assert "BatchEvalPython" not in names


def test_confusion_sweep_joins_histogram_not_fact(spark):
    """The threshold sweep must cross-join the 11-row histogram with
    the 3-row threshold table — the only join inputs are aggregates,
    so a broadcast nested loop over 33 rows is fine; re-scanning the
    fact per threshold (3 parquet scans) is not."""
    names = _names(spark, "ml_confusion_matrix_metrics")
    assert names.count("Scan parquet") == 1


def test_target_encoding_broadcasts_dim(spark):
    """The part-brand dimension join must broadcast; the encoding
    arithmetic then runs on the 125-cell aggregate."""
    assert "BroadcastHashJoin" in _names(spark, "ml_target_encoding_kfold")


def test_welch_is_one_aggregation_pass(spark):
    """Welch's t reduces each group to 3 exact moments in ONE
    map-combinable aggregate — a single fact scan, and the 2-row
    moment join is broadcast-sized."""
    names = _names(spark, "stat_welch_ttest")
    assert names.count("Scan parquet") == 1


def test_prefix_filter_join_is_hash_not_cartesian(spark):
    """The AllPairs prefix join must key on the shingle (hash join);
    a cartesian/nested-loop pair expansion defeats the entire
    prefix-filtering point."""
    names = _names(spark, "dedup_prefix_filter_allpairs")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_rake_word_scores_shuffle_join(spark):
    """RAKE's word-score join keys on the token. The word-stat frame
    is VOCAB-sized — unbounded under Heaps' law at corpus scale — so
    it must shuffle-join (SortMergeJoin), never force-broadcast (the
    q5/q9 defect class); candidate extraction stays JVM-side."""
    names = _names(spark, "text_keyword_rake")
    assert "SortMergeJoin" in names
    assert "BatchEvalPython" not in names


def test_vocab_and_user_scaled_frames_not_broadcast(spark):
    """The per-user stage frames (funnel, retention cohort) and the
    vocab-sized term tables (tf-idf idf, unigram-LM frequency table)
    grow with the corpus: each must plan as a shuffle join on its key,
    with no broadcast anywhere except genuinely bounded frames (the
    1-row corpus-size scalars)."""
    for name, n_smj in (
        ("events_funnel", 2),        # v into e, c into e
        ("events_retention", 1),     # cohort into e
        ("text_tfidf_topterms", 1),  # idf into tf
        ("text_perplexity_proxy", 1),  # lm into tok
    ):
        names = _names(spark, name)
        assert names.count("SortMergeJoin") >= n_smj, name
        assert "CartesianProduct" not in names, name


def test_global_topk_windows_compile_to_take_ordered(spark):
    """The global-rank top-k family (row_number over an unpartitioned
    window + filter rnk <= K) must compile to a distributed
    TakeOrderedAndProject — per-partition top-K, merge of K*P rows —
    so the single-partition window only ever sees <= K rows, never the
    full entity-scaled frame (customers, part-pairs, vocab grams).
    Pins the InferWindowGroupLimit/LimitPushDown rewrite these plans
    rely on for 100x scale."""
    for name in (
        "skew_diagnose_keys",      # per-customer counts
        "part_co_occurrence",      # part-pair frame
        "dedup_char_ngram_repeats",  # char-gram vocab
        "text_pmi_collocations",   # bigram vocab
        "text_keyword_rake",       # phrase vocab
    ):
        assert "TakeOrderedAndProject" in _names(spark, name), name


def test_interp_gapfill_no_dense_spine_join(spark):
    """Linear gapfill emits each gap from its observed-pair row
    (sequence+explode) — the plan must contain NO join at all: neighbor
    discovery is a window, expansion is a generator."""
    names = _names(spark, "ts_gapfill_interpolate_linear")
    assert not any("Join" in n for n in names)
    assert "BatchEvalPython" not in names


def test_anova_single_scan_fixed_order_pivot(spark):
    """ANOVA reduces to one moment aggregation (single fact scan) and
    a 1-row pivot — no joins, no Python."""
    names = _names(spark, "stat_anova_oneway")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_brown_forsythe_broadcasts_medians(spark):
    """The 3-row median table must broadcast back onto the fact."""
    assert "BroadcastHashJoin" in _names(spark, "stat_levene_brown_forsythe")


def test_xcorr_lag_shift_is_hash_join(spark):
    """The lag alignment must be an equi-join on the hour index —
    never a per-lag window re-sort of the series."""
    names = _names(spark, "ts_cross_correlation_lagged")
    assert "SortMergeJoin" in names or "BroadcastHashJoin" in names \
        or "ShuffledHashJoin" in names


def test_kneser_ney_model_tables_no_python(spark):
    """KN model statistics are JVM-side aggregates of the bigram type
    table; no Python evaluation anywhere."""
    names = _names(spark, "text_lm_kneser_ney")
    assert "BatchEvalPython" not in names


def test_mmr_pairwise_stage_is_bounded(spark):
    """MMR's only cross joins are over the K-bounded candidate pool
    (<=10 rows after the top-k filter) and the 1-row query vector —
    the corpus-sized side must never be a cartesian input. The guard:
    every cartesian/nested-loop input in the plan sits above a Limit
    or a top-k filter, which in this fixed plan means the pattern
    count stays at the authored 1 query-broadcast + K^2 pair join."""
    names = _names(spark, "sim_search_mmr_rerank")
    assert "BatchEvalPython" not in names


def test_gbdt_residual_pass_broadcasts_model(spark):
    """The 1-row best-split model must broadcast against the base
    table for the residual computation; split search stays JVM-side."""
    names = _names(spark, "ml_gbdt_residual_boost")
    assert "BatchEvalPython" not in names
    assert "BroadcastNestedLoopJoin" in names or "BroadcastHashJoin" in names


def test_fd_profile_single_pass_per_table(spark):
    """FD profiling reads each profiled table once per FD arm via the
    union — no joins anywhere (the groupBys do all the work)."""
    names = _names(spark, "dq_functional_dependency_profile")
    assert not any("Join" in n for n in names)


def test_lpa_iterations_are_equi_joins(spark):
    """Label adoption must be the edges.dst = labels.node hash join
    each round — no nested loop over the label frame."""
    names = _names(spark, "graph_label_propagation_communities")
    assert "CartesianProduct" not in names


def test_ctfidf_class_stats_broadcast(spark):
    """Class totals (|classes| rows) and the 1-row average must
    broadcast onto the (class, term) count table."""
    assert "BroadcastHashJoin" in _names(spark, "text_ctfidf_class_terms")


def test_permutation_test_is_explode_plus_group(spark):
    """The relabeling must be the B-fold generator explode + one
    groupBy(b) — the only joins are 1-row broadcasts of the observed
    statistic."""
    names = _names(spark, "stat_permutation_test")
    assert "BatchEvalPython" not in names
    assert "SortMergeJoin" not in names


def test_pr_curve_single_histogram_pass(spark):
    """The PR curve and AP must derive from one histogram aggregation
    — a single fact scan, no joins."""
    names = _names(spark, "ml_pr_curve_ap")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_iqr_fences_broadcast_back(spark):
    """The |segments|-row fence table must broadcast onto the facts."""
    assert "BroadcastHashJoin" in _names(spark, "dq_outlier_iqr_fences")


def test_norm_screen_moment_join_broadcasts(spark):
    """The per-label moment/fence table must broadcast; the norm fold
    stays JVM-side (no Python)."""
    names = _names(spark, "embedding_norm_outlier_screen")
    assert "BroadcastHashJoin" in names
    assert "BatchEvalPython" not in names


def test_gains_lift_single_histogram_pass(spark):
    """Gains/lift must be one histogram aggregation — single fact
    scan, no joins (same envelope as the PR curve)."""
    names = _names(spark, "ml_cumulative_gains_lift")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_spearman_has_no_global_sort(spark):
    """Ranks come from value histograms joined back by value — the
    plan must contain no global (single-partition) sort of the fact
    table, which is what makes Spearman feasible at scale."""
    nodes = _plan(spark, "stat_spearman_corr")
    assert not any("rangepartitioning" in n.args.lower() for n in nodes)
    assert "BatchEvalPython" not in [n.name for n in nodes]


def test_kendall_pair_join_is_cell_bounded(spark):
    """The quadratic term must be the |cells|^2 self-join of the
    contingency aggregate (a nested-loop over ~550 aggregated rows is
    the DESIGN), with the fact table scanned for the cell counts —
    never row-pair expansion (no fact-to-fact join)."""
    names = _names(spark, "stat_kendall_tau_b")
    assert "BatchEvalPython" not in names


def test_mde_single_moment_pass(spark):
    """Power analysis is one moment aggregation + a 1-row pivot —
    single fact scan, no joins."""
    names = _names(spark, "stat_power_analysis_mde")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_corrmat_is_one_pass_for_all_pairs(spark):
    """All 6 pairwise correlations must come from ONE moment
    aggregation of the fact table — a scan per pair (or per feature)
    means the k-features-one-pass shape regressed."""
    names = _names(spark, "ml_feature_correlation_matrix")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_decompose_windows_over_aggregate_only(spark):
    """The moving-average window must run over the hourly aggregate
    (calendar-bounded), never the raw events; no joins, no Python."""
    names = _names(spark, "ts_decompose_additive")
    assert not any("Join" in n for n in names)
    assert "BatchEvalPython" not in names


def test_two_proportion_is_count_only(spark):
    """The z-test must be one user-keyed aggregation + a 1-row pivot
    — single fact scan, no joins, no Python."""
    names = _names(spark, "stat_two_proportion_ztest")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_outage_detection_single_window(spark):
    """Gap detection is one lag window + filter; the only join is the
    type-dimension LEFT JOIN (aggregate-sized)."""
    names = _names(spark, "ts_heartbeat_outage_intervals")
    assert "BatchEvalPython" not in names
    assert "CartesianProduct" not in names


def test_wordpiece_chain_analyzes_linearly(spark):
    """The 16 greedy steps each reference their predecessor exactly
    once — a doubled reference makes the analyzer inline 2^16 plan
    copies and OOM (the bug this op shipped with). Building the plan
    at all IS the regression test; also pin no Python and no
    cartesian on the corpus side."""
    names = _names(spark, "tokenizer_wordpiece_encode")
    assert "BatchEvalPython" not in names


def test_wilson_single_count_pass(spark):
    """Wilson CIs are one count aggregation + scalar arithmetic —
    single scan, no joins."""
    names = _names(spark, "stat_binomial_ci_wilson")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_centroid_margin_joins_on_dimension(spark):
    """The distance computation joins long-form rows to centroids on
    the dimension key (L-bounded fan-out) — never a vector-pair
    cartesian; no Python."""
    names = _names(spark, "embedding_centroid_margin")
    assert "CartesianProduct" not in names
    assert "BatchEvalPython" not in names


def test_learning_curve_is_one_scan(spark):
    """All three curve arms must come from ONE fact scan fanned by
    the pct cross join — K arms as K scans is the regression."""
    names = _names(spark, "ml_learning_curve_subsample")
    assert names.count("Scan parquet") == 1


def test_markov_backtest_models_broadcast(spark):
    """The transition model and majority baseline are tiny aggregates
    that must broadcast onto the test pairs; the only fact-sized work
    is the lead window."""
    names = _names(spark, "events_markov_backtest")
    assert "BroadcastHashJoin" in names
    assert "BatchEvalPython" not in names


def test_forecast_backtest_joins_on_keys(spark):
    """The 168-row model join and the shifted-hour persistence join
    must be keyed joins over the hourly AGGREGATE — no cartesian, no
    raw-event self-join."""
    names = _names(spark, "ts_forecast_backtest_seasonal")
    assert "CartesianProduct" not in names
    assert "BatchEvalPython" not in names


def test_split_leakage_pair_join_is_equi(spark):
    """Near-dup pair discovery must be the shingle equi-join (with the
    stop-shingle cap applied first) — never a doc-pair cartesian."""
    names = _names(spark, "dataset_split_leakage_check")
    assert "CartesianProduct" not in names
    assert "BroadcastNestedLoopJoin" not in names


def test_zipf_windows_over_vocab_only(spark):
    """The rank runs over the vocabulary aggregate via the distrank
    two-pass; its stats/offset frames are tiny, so every join the
    decomposition introduces must be a broadcast — a shuffled join
    would mean the rank regressed to joining vocab-scale frames. No
    Python anywhere."""
    names = _names(spark, "text_zipf_fit")
    assert "SortMergeJoin" not in names
    assert "ShuffledHashJoin" not in names
    assert "BatchEvalPython" not in names


def test_lm_tuning_lambda_sweep_is_not_k_passes(spark):
    """The 5-lambda sweep must cross-join the SCORED held-out stream
    — 5 parquet scans of documents would mean the sweep regressed to
    per-lambda passes. The plan reads documents for the bigram stream
    and the model tables only."""
    names = _names(spark, "text_lm_interpolation_tuning")
    assert "BatchEvalPython" not in names
    # one logical source re-read per model table + heldout stream is
    # acceptable; 5x that count would indicate per-lambda scans
    assert names.count("Scan parquet") <= 6


def test_decay_score_is_map_side_then_user_agg(spark):
    """Scoring is a projection against the 1-row anchor broadcast;
    the only shuffle carries per-user partial sums."""
    names = _names(spark, "events_decay_engagement_score")
    assert "BatchEvalPython" not in names
    assert "SortMergeJoin" not in names


def test_burst_baseline_broadcasts(spark):
    """The 168-row hour-of-week baseline must broadcast onto the
    hourly counts."""
    assert "BroadcastHashJoin" in _names(spark, "events_anomaly_burst_poisson")


def test_content_hash_shuffles_digests_not_blobs(spark):
    """The dedup groupBy must key on the md5 digest — the shuffle
    carries 32-char fingerprints, never media blobs; no Python."""
    names = _names(spark, "multimodal_dedup_content_hash")
    assert "BatchEvalPython" not in names
    assert not any("Join" in n for n in names)


def test_group_by_all_plans_as_explicit_keys(spark):
    """GROUP BY ALL must resolve at analysis time to a plain keyed
    aggregate — one scan, no joins."""
    names = _names(spark, "sql_group_order_by_all")
    assert names.count("Scan parquet") == 1
    assert not any("Join" in n for n in names)


def test_peak_detection_bounded_window(spark):
    """Peaks come from the +-3-row window over the hourly AGGREGATE
    with a |series|-row median broadcast — no joins beyond it, no
    Python."""
    names = _names(spark, "ts_peak_detection_local_maxima")
    assert "BatchEvalPython" not in names
    assert "CartesianProduct" not in names


# ---- r6: global-window rewrites + shuffle-payload pins ----------------


def test_q5_supplier_edge_not_broadcast(spark):
    """supplier is fact-proportional (sf x 10k rows): its join must be
    pinned to a shuffle join, never a broadcast build — broadcasting a
    fact is the q9-class OOM-at-100x defect fixed in commit 0800661
    (VERDICT r5 item 3). The constant dims (nation, region) may still
    broadcast freely."""
    # every keyed join that mentions s_suppkey must be a shuffle join
    supplier_joins = [
        n.name
        for n in _with_args(_plan(spark, "q5_local_supplier"), "s_suppkey")
        if n.name in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
    ]
    assert supplier_joins, "expected a keyed join on s_suppkey"
    # r9: shuffle_hash replaces merge (same shuffle pin, no sort of the
    # fact chain) — either shuffle strategy satisfies the
    # never-broadcast invariant this test exists for.
    assert "BroadcastHashJoin" not in supplier_joins, supplier_joins


def test_incremental_lsh_band_join_is_narrow(spark):
    """The (band, bucket) candidate join must shuffle NARROW rows:
    its probe/build sides carry (doc_id, band, bucket) only, the join
    output is exactly the 2-column (batch_doc, corpus_doc) pair, and
    the pair-dedup aggregate keys those 2 columns — the 2xN_HASHES
    signature columns are re-fetched AFTER dedup (VERDICT r5 item 2;
    the old plan dragged both signatures through the band join and
    .distinct()'d the wide rows)."""
    nodes = _plan(spark, "dedup_incremental_lsh")
    assert any(
        n.name == "Project"
        and re.fullmatch(
            r"\[doc_id#\d+L AS batch_doc#\d+L, doc_id#\d+L AS corpus_doc#\d+L\]", n.args
        )
        for n in nodes
    ), "band join must project exactly (batch_doc, corpus_doc)"
    assert any(
        "Aggregate" in n.name
        and re.search(r"\bfalse, \[batch_doc#\d+L, corpus_doc#\d+L\], ", n.args)
        for n in nodes
    ), "pair dedup must aggregate on the narrow 2-column key"
    # no signature column may sit below the band-bucket exchange
    for n in nodes:
        if n.name.endswith("Join") and n.args.startswith("[band#"):
            assert "mh" not in n.args, n.args


def _single_partition_window_frames(nodes):
    """Columns each unpartitioned window orders by (the frames that
    would serialize on one task at scale)."""
    frames = []
    windows = (m for n in nodes for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", n.args))
    for m in windows:
        args = m.group(1)
        # partitioned windows list partition cols BEFORE the first
        # "col ASC/DESC" ordering token; a single-partition window's
        # spec starts directly with an ordering token
        first = args.split(",")[0].strip()
        if first.endswith("NULLS FIRST") or first.endswith("NULLS LAST"):
            frames.append(args)
    return frames


def test_rfm_quartiles_have_no_customer_scale_global_window(spark):
    """ntile over all customers is gone (VERDICT r5 item 4): quartile
    scores derive from the distrank bucket two-pass — every
    row_number window is partitioned by a bucket column, and the only
    unpartitioned windows left run over the <=64-row bucket-offset
    frames (__dr_cnt sums)."""
    nodes = _plan(spark, "customer_rfm_segments")
    assert not any("ntile" in n.args.lower() for n in nodes)
    assert _with_args(nodes, "__bkt___rk_r") and _with_args(nodes, "__bkt___rk_m")
    for frame in _single_partition_window_frames(nodes):
        assert "__bkt" in frame, (
            "unpartitioned window over a non-bucket-offset frame: "
            + frame
        )


def test_pareto_prefix_sum_is_bucket_decomposed(spark):
    """The cumulative-revenue window must be the distrank two-pass
    (within-bucket running sum + broadcast bucket-mass offsets), in
    exact DECIMAL cents; the only unpartitioned window is over the
    <=64-row bucket sums (VERDICT r5 item 4)."""
    nodes = _plan(spark, "pareto_abc_classes")
    assert _with_args(nodes, "__bkt___cum")
    for frame in _single_partition_window_frames(nodes):
        assert "__bkt" in frame, frame


def test_gini_rank_is_bucket_decomposed(spark):
    """Exact Gini needs a global rank; it must come from the distrank
    two-pass, not a single-partition row_number over all customers
    (VERDICT r5 item 4)."""
    nodes = _plan(spark, "stat_gini_concentration")
    assert _with_args(nodes, "__bkt_i")
    for frame in _single_partition_window_frames(nodes):
        assert "__bkt" in frame, frame


def test_dataset_global_shuffle_limits_before_window(spark):
    """The top-100-by-hash must be a distributed TakeOrderedAndProject
    BELOW the row_number window, so the single-partition window sees
    only the 100 survivors — not the whole corpus (the pre-r6 plan
    sorted every doc on one task)."""
    nodes = _plan(spark, "dataset_global_shuffle")
    win = next(n for n in nodes if "Window" in n.name)
    assert "TakeOrderedAndProject" in [n.name for n in _subtree(win)], (
        "TakeOrdered must be a CHILD of (below) the window"
    )


def test_skyline_running_max_is_bucket_decomposed(spark):
    """The sort-scan running max must be the distrank two-pass: the
    only unpartitioned window runs over the <=64-row bucket-offset
    frame, never over all orders."""
    nodes = _plan(spark, "skyline_dominance")
    assert _with_args(nodes, "__bkt_best_date_so_far")
    for frame in _single_partition_window_frames(nodes):
        assert "__bkt" in frame, frame


def test_curriculum_and_perplexity_tiles_have_no_global_ntile(spark):
    """Equal-frequency tiles derive from distrank + arithmetic ntile;
    the ntile window function must be gone from both plans."""
    for name in ("curriculum_quality_stages", "corpus_perplexity_buckets"):
        nodes = _plan(spark, name)
        assert not any("ntile" in n.args.lower() for n in nodes), name
        for frame in _single_partition_window_frames(nodes):
            assert "__bkt" in frame, (name, frame)


def test_token_budget_prefix_sum_is_bucket_decomposed(spark):
    nodes = _plan(spark, "corpus_token_budget_pack")
    assert _with_args(nodes, "__bkt_cum_tok")
    for frame in _single_partition_window_frames(nodes):
        assert "__bkt" in frame, frame


def test_ks_ecdf_is_bucket_decomposed(spark):
    """Both ECDF cumulative counts must come from the distrank
    two-pass — the distinct-price frame is order-scaled, so the
    textbook single-partition KS window would serialize it."""
    nodes = _plan(spark, "stat_ks_test")
    assert _with_args(nodes, "__bkt_c1") and _with_args(nodes, "__bkt_c2")
    for frame in _single_partition_window_frames(nodes):
        assert "__bkt" in frame, frame


def test_vocab_ranks_are_bucket_decomposed(spark):
    """Token-id assignment and the Zipf rank run over the vocabulary
    via distrank — a web-scale vocab never collapses onto one sort
    task."""
    for name in ("tokenizer_vocab_build", "text_zipf_fit"):
        for frame in _single_partition_window_frames(_plan(spark, name)):
            assert "__bkt" in frame, (name, frame)


def test_approx_count_distinct_avoids_hll_expand_plan(spark):
    """approx_count_distinct must NEVER share an aggregate with
    count(DISTINCT): RewriteDistinctAggregates' Expand plan merges the
    2^14-register HLL++ buffer once per input row — the sf10 sweep
    measured 21 min/task at 60M rows. The split form (two single-row
    jobs cross-joined) keeps both aggregates partial/final; this pin
    fails if the Expand pathology ever comes back."""
    names = _names(spark, "agg_approx_count_distinct")
    assert "Expand" not in names, names
    assert "BroadcastNestedLoopJoin" in names  # the 1-row x 1-row join


def test_semantic_dedup_assignment_is_aggregated_narrow(spark):
    """Nearest-centroid assignment must be the min_by AGGREGATION over
    narrow (vec_id, cid, d2) rows — a row_number window here carries
    the embedding array through an n*K-row shuffle (~50 GB at sf10).
    The only windows allowed in this plan are the <= n-row keeper
    ranking (partitioned by kb) downstream of the pair join."""
    nodes = _plan(spark, "dedup_semantic_clustered")
    assert _with_args(nodes, "min_by"), [n.name for n in nodes]
    for frame in _single_partition_window_frames(nodes):
        raise AssertionError(f"unexpected global window: {frame}")


def test_semantic_dedup_assignment_runs_at_core_parallelism(spark):
    """Pin the r7 scale fix: the embedding scan is repartitioned to
    the session's core count BEFORE the n*K centroid cross-join. The
    assignment stage otherwise inherits the parquet scan's SPLIT
    count — a 150 MB embeddings file is 1-2 splits, and the r7 sf30
    probe measured the heaviest stage of the query grinding >50 min
    on ~2 cores. Every vec_id repartition in the plan must be an
    explicit REPARTITION_BY_NUM at >= defaultParallelism partitions,
    and at least one must sit upstream of the cross-join."""
    nodes = _plan(spark, "dedup_semantic_clustered")
    dp = spark.sparkContext.defaultParallelism
    widths = [
        int(m)
        for n in nodes
        for m in re.findall(
            r"hashpartitioning\(vec_id#\d+L?, (\d+)\), REPARTITION_BY_NUM",
            n.args,
        )
    ]
    assert widths, f"vec_id repartition gone from plan: {[n.name for n in nodes]}"
    assert all(w >= dp for w in widths), (widths, dp)


def test_semantic_gemm_cross_block_pair_completeness():
    """Unit-pin the r8 VERDICT item 4a property: the blocked GEMM in
    _semantic_cluster_pairs must emit every above-threshold (ka < kb)
    pair exactly once even when ka and kb fall in DIFFERENT row
    blocks. The oracle would catch a break only as an opaque hash
    mismatch; this pins it at the kernel with a forced multi-block
    cluster (10 rows, block=4 -> 3 blocks) against a brute-force
    all-pairs reference, and separately pins block-invariance
    (block=4 == single-block result)."""
    import numpy as np
    import pandas as pd

    from parquet_playground_spark.functions.dedup import (
        _semantic_cluster_pairs,
    )

    rng = np.random.default_rng(7)
    # 10 vectors: a tight family of 6 (pairwise cosine ~1, spread
    # across all three blocks by id) + 4 near-orthogonal strays so
    # the threshold actually filters something.
    base = rng.normal(size=64)
    vecs = [base + rng.normal(scale=0.05, size=64) for _ in range(6)]
    vecs += [rng.normal(size=64) for _ in range(4)]
    # non-contiguous shuffled ids: the kernel must sort by vec_id
    ids = np.array([30, 11, 2, 43, 24, 15, 36, 7, 48, 19])
    order = rng.permutation(10)
    quant = [
        np.floor(v / np.linalg.norm(v) * 1e6 + 0.5) for v in vecs
    ]
    pdf = pd.DataFrame(
        {
            "vec_id": ids[order],
            "cid": 5,
            "nv": [quant[i] for i in order],
        }
    )

    got = _semantic_cluster_pairs(pdf.copy(), block=4)
    got_pairs = {
        (r.ka, r.kb): r.cs_r4 for r in got.itertuples(index=False)
    }
    assert len(got_pairs) == len(got), "duplicate (ka, kb) pair emitted"
    assert all(ka < kb for ka, kb in got_pairs), "unordered pair emitted"

    # brute-force reference: every i<j pair through the identical
    # quantized-dot + 4dp-floor formula
    by_id = {int(ids[o]): quant[o] for o in order}
    sorted_ids = sorted(by_id)
    want = {}
    for i, ka in enumerate(sorted_ids):
        for kb in sorted_ids[i + 1:]:
            cs = np.floor(by_id[ka] @ by_id[kb] / 1e8 + 0.5) / 1e4
            if cs > 0.3:
                want[(ka, kb)] = cs
    assert got_pairs == want
    # the fixture must actually exercise the cross-block path AND the
    # threshold filter, or the pin is vacuous
    blk = {v: i // 4 for i, v in enumerate(sorted_ids)}
    assert any(blk[ka] != blk[kb] for ka, kb in want), "no cross-block pair"
    assert len(want) < 45, "threshold filtered nothing"

    # block-invariance: one block == three blocks
    single = _semantic_cluster_pairs(pdf.copy(), block=1024)
    single_pairs = {
        (r.ka, r.kb): r.cs_r4 for r in single.itertuples(index=False)
    }
    assert single_pairs == got_pairs


def test_semantic_dedup_assignment_subtree_reused_at_runtime(spark):
    """Pin the r8 VERDICT item 4b property: the repartitioned
    embeddings subtree feeds the centroid layer, the probe pass, and
    the assignment join, and must NOT be recomputed per consumer —
    the pre-GEMM form replayed it twice and that replay was ~half the
    wall. The mechanism is AQE exchange reuse (the subtree ends in an
    Exchange and every consumer references the same canonical form),
    which only materializes in the EXECUTED plan — the static plan
    shows the expanded tree — so this pin collects the result first.
    A refactor that perturbs one consumer's canonical subtree (e.g.
    projecting different columns before the exchange) silently drops
    the reuse; this catches it."""
    df = _q("dedup_semantic_clustered")(spark, "/root/testdata/sf0.001")
    assert len(df.collect()) > 0
    names = [n.name for n in plan_nodes(df)]
    assert names.count("ReusedExchange") >= 4, (
        f"AQE exchange reuse gone — assignment subtree replayed: {names}"
    )


def test_cogroup_fact_side_carries_probe_predicate(spark):
    """Pin the r8 scale fix for udf_cogrouped_pandas: cogroup invokes
    the Python callback once per distinct key on EITHER side, so the
    probe-side key predicate must be mirrored onto the fact (orders)
    scan. Without it every order-only custkey crosses the interpreter
    to emit an empty frame — measured at sf100: 11.5M empty-group
    callbacks, 1138 s wall vs 8 s with the mirrored filter. Both
    scans must show the pushed key predicate."""
    nodes = _plan(spark, "udf_cogrouped_pandas")
    assert _pushed(nodes, "o_custkey"), (
        "orders-side probe predicate gone — empty-group callback flood"
    )
    assert _pushed(nodes, "c_custkey")


def _joins_building(nodes, table):
    """Hash joins among `nodes` whose build side reads `table`, as node
    names."""
    found = []
    for n in nodes:
        if n.name in ("BroadcastHashJoin", "ShuffledHashJoin"):
            left, right = n.children
            build = right if "BuildRight" in n.args.split(", ") else left
            if any(f"{table}.parquet" in b.meta.get("Location", "") for b in _subtree(build)):
                found.append(n.name)
    return found


def test_q5_streams_lineitem_never_builds_it(spark):
    """lineitem is q5's fact table: it must be the streamed (probe) side
    of every join in the final plan, never a hash build or a broadcast.
    The filtered customer-orders set is the shuffle_hash build side
    instead (the q18 pattern); left to the planner, sf0.1 broadcast
    all 600k lineitem rows from one task."""
    df = _q("q5_local_supplier")(spark, SF_DIR)
    assert df.collect()
    nodes = plan_nodes(df)
    assert nodes[0].args == "isFinalPlan=true"
    assert _joins_building(nodes, "lineitem") == []
    assert _joins_building(nodes, "orders"), "orders side is no longer built"


def _partial_sum_args(text):
    """The argument of every partial_sum(...) in a node's argument text."""
    args = []
    for m in re.finditer(r"partial_sum\(", text):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        args.append(text[m.end() : i - 1])
    return args


def test_money_sums_stay_off_decimal_buffers(spark):
    """exact_sum keeps the per-row sums on int64 limbs: no partial
    aggregate in the final plans of q1 and write_partitioned_parquet
    sums a DECIMAL(38,0) cast, the per-row BigDecimal work it replaced."""
    for name in ("q1_pricing_summary", "write_partitioned_parquet"):
        df = _q(name)(spark, SF_DIR)
        assert df.collect()
        nodes = plan_nodes(df)
        assert nodes[0].args == "isFinalPlan=true", name
        args = [a for n in nodes for a in _partial_sum_args(n.args)]
        assert args, name
        decimal_sums = [
            a for a in args
            if a.startswith("cast(") and a.endswith(" as decimal(38,0))")
        ]
        assert decimal_sums == [], (name, decimal_sums)


def test_plan_walker_descends_each_plan_once(spark):
    """plan_nodes' descent rules on three shapes: a scalar subquery's
    plan follows the main tree once, however many expressions hold it,
    and its Subquery wrapper is no node; a persisted frame's cached
    plan is walked once, under the first InMemoryTableScan; and after
    collect() the walk is of AQE's final plan only, where a
    ReusedExchange is a leaf and every codegen span is one node."""
    from parquet_playground_spark.session import scoped_confs
    from parquet_playground_spark.tables import load_table

    q22 = _plan(spark, "q22_idle_rich_customers")
    names = [n.name for n in q22]
    assert names.count("AdaptiveSparkPlan") == 2, names
    assert q22[names.index("AdaptiveSparkPlan", 1)] not in list(_subtree(q22[0]))
    assert not any("Subquery" in n for n in names), names
    assert sum("customer.parquet" in n.meta["Location"] for n in _scans(q22)) == 2

    # both consumers of the persisted aggregate read the in-memory
    # columnar cache, not a recomputed scan+aggregate
    cached = _q("plan_cache_reuse")(spark, SF_DIR)
    cached.collect()
    nodes = plan_nodes(cached)
    scans = [n for n in nodes if n.name == "InMemoryTableScan"]
    assert len(scans) == 2
    assert [len(n.children) for n in scans] == [1, 0]
    assert len(_scans(nodes)) == 1

    agg = load_table(spark, SF_DIR, "orders").groupBy("o_custkey").count()
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = agg.join(agg.withColumnRenamed("count", "n"), "o_custkey")
        initial = [n.name for n in plan_nodes(df)]
        df.collect()
        final = plan_nodes(df)
    assert initial.count("Exchange") == 2
    assert not any(n.startswith("WholeStageCodegen") for n in initial)
    names = [n.name for n in final]
    assert names.count("AdaptiveSparkPlan") == 1 and final[0].args == "isFinalPlan=true"
    assert names.count("Exchange") == 1 and names.count("ReusedExchange") == 1
    assert next(n for n in final if n.name == "ReusedExchange").children == []
    assert len(_scans(final)) == 1
    spans = [n for n in names if n.startswith("WholeStageCodegen")]
    assert spans and len(spans) == len(set(spans)), spans
