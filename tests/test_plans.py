"""Physical-plan assertions — the 100 TB checklist as regression tests.

A correct answer with the wrong plan doesn't survive a 1000× scale-up;
these tests pin the plan properties the engine relies on: parquet filter
pushdown, column pruning, broadcast joins on dims, semi-join planning,
global top-k as TakeOrderedAndProject, whole-stage codegen coverage.
"""

from __future__ import annotations

import pytest

from cudf_spark.plans import plan_nodes
from cudf_spark.queries import REGISTRY
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    # plan-shape assertions model the clean per-job plan: drop any cache
    # entries earlier tests registered (persist() puts a query's reuse
    # tables in the session-wide CacheManager), or Spark substitutes
    # their — possibly AQE-materialized — subtrees into this build and
    # the asserted shape becomes test-order-dependent. optimizedPlan/
    # executedPlan both sit AFTER the withCachedData substitution.
    spark.catalog.clearCache()
    yield


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q06_filters_pushed_to_scan(spark):
    plan = plan_of(spark, "q06_revenue_forecast")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q01_column_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    # only the 7 needed columns reach the scan — not all 11
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q05_broadcasts_dims(spark):
    plan = plan_of(spark, "q05_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_semi_and_anti_join_planned(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_q03_global_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q03_unshipped_orders")


def test_whole_stage_codegen_everywhere(spark):
    # AQE prints the final plan only after execution; whole-stage-codegen
    # spans show as "*(n) " operator prefixes in plan text
    for name in ["q01_pricing_summary", "agg_kinds_basic", "win_grouped_scan"]:
        df = REGISTRY[name].build(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(1)" in plan, name


def test_mixed_join_is_not_nested_loop(spark):
    # equi key + range residual must plan as a hash/sort-merge join with
    # post-filter, never BroadcastNestedLoopJoin over the cross product
    plan = plan_of(spark, "join_mixed_time_range")
    assert "NestedLoop" not in plan


def test_no_cartesian_in_lsh_dedup(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan


def test_replace_nan_global_count_not_single_partition_window(spark):
    # The global row count must come from a 1-row aggregate broadcast back,
    # never count(*) OVER () — a SinglePartition window funnels the whole
    # table through one task at scale.
    plan = plan_of(spark, "replace_nan_handling")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row broadcast cross join


def test_q11_threshold_is_broadcast_not_window(spark):
    # HAVING over a global-agg scalar subquery: same rule as above.
    plan = plan_of(spark, "q11_important_stock")
    assert "Window" not in plan


def test_substring_dedup_no_cartesian(spark):
    plan = plan_of(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_q02_broadcasts_dims_only(spark):
    # region/nation broadcast; no cartesian; and the correlated-min
    # decorrelation must be a windowed single pass — the agg+self-join
    # form executes the derived-partsupp subtree (a lineitem-scale
    # aggregation) twice.
    plan = plan_of(spark, "q02_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_variable_offset_window_is_not_nested_loop(spark):
    # per-row window bounds = equi-join on the key + range residual;
    # must never plan as a nested-loop over the cross product
    plan = plan_of(spark, "win_variable_offset")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    # The IVF cell assignment must be a map-only broadcast fold: no corpus
    # shuffle, no per-row window. The only Exchanges allowed in the whole
    # query are the final top-k's and the K-row probe's.
    from cudf_spark.catalog import load
    from cudf_spark.operators.similarity import ivf_assign
    from cudf_spark.queries.similarity import ivf_centroids

    e = load(spark, SF_DIR, "embeddings")
    nodes = [(n, d) for n, d, _ in plan_nodes(ivf_assign(e, ivf_centroids(e)))]
    names = [n for n, _ in nodes]
    assert not [d for n, d in nodes if n == "Exchange" and "hashpartitioning" in d]
    assert not [n for n in names if "Window" in n]
    # 1-row centroid-array broadcast
    assert names.count("BroadcastNestedLoopJoin") == 1


def test_scale_confs_pinned(spark):
    # The session factory's 100 TB-relevant knobs: AQE re-planning (runtime
    # broadcast conversion + partition coalescing + skew-join splitting),
    # runtime bloom-filter join pruning, Arrow at every Python boundary, and
    # the UTC pin the timestamp oracles depend on.
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    # Shuffle/spill codec: lz4 (an idle-host A/B found no zstd win on
    # loopback shuffles, OPTIMIZATION_r11.md §6b).
    assert conf.get("spark.io.compression.codec") == "lz4"


def test_win_rolling_single_exchange_no_global_sort(spark):
    # One hash exchange (the per-suppkey window shuffle) and NO trailing
    # rangepartitioning: a global sort on a per-row result would both
    # double-evaluate the window subtree (range-bounds sampling pass) and
    # serialize the full table through a sort at scale.
    plan = plan_of(spark, "win_rolling_rows")
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_gopher_metrics_behind_checkpoint_sort_reads_blocks(spark):
    # The interpreted metrics struct is evaluated once per row behind the
    # pre-sort localCheckpoint (r11 §3.14, superseding the r8 sort-below-
    # projection form, which shipped the full text column through the
    # range exchange): the presentation sort must read the checkpointed
    # narrow metric rows, so neither the Generate (inline) chain nor the
    # text column appears above the barrier in the final plan.
    plan = plan_of(spark, "text_quality_gopher")
    assert "Scan ExistingRDD" in plan
    assert "Generate" not in plan
    assert "text" not in plan.lower().replace("text_quality_gopher", "")
    assert "Exchange rangepartitioning" in plan


def test_quantile_modes_single_keyed_exchange(spark):
    # Rank-targeted quantile selection: ONE hash exchange on the group key
    # feeds both window ops AND the final aggregate (partitioning reused);
    # the only other exchange is the final 3-row orderBy. No collect_list.
    plan = plan_of(spark, "agg_quantile_modes")
    assert "collect_list" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_substring_exact_no_cartesian(spark):
    # Diagonal chaining joins gram occurrences on the gram key - a hash
    # join whose fan-out is bounded by the frequency cap, never a
    # cartesian / nested-loop pair enumeration.
    plan = plan_of(spark, "dedup_substring_exact")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_domain_mix_limits_are_broadcast(spark):
    # Per-domain keep-limits join back to the corpus as a broadcast (the
    # limit table is one row per domain); the only window partitions by
    # source; no cartesian. (scale_audit separately covers funnels.)
    plan = plan_of(spark, "doc_domain_mix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sketch_merge_partial_aggregation(spark):
    # The sketch build must run as two-level hash aggregation (map-side
    # partial combine) - that is what makes it skew-immune at 100 TB.
    plan = plan_of(spark, "agg_sketch_merge")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_stats_no_full_index_shuffle(spark):
    """BM25: the 4-term df table and the scalar stats row broadcast; the
    only exchanges are the tf/dl groupBys and the final top-k window —
    no Python eval anywhere."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_batch_ann_single_scan_broadcast_queries(spark):
    """Batched ANN must broadcast the query set (one corpus pass for the
    whole batch), never shuffle the corpus against it."""
    plan = plan_of(spark, "ann_batch_queries")
    assert "BroadcastNestedLoopJoin" in plan  # crossJoin of broadcast queries
    assert plan.count("FileScan parquet") <= 2  # corpus + query rows
    assert "CartesianProduct" not in plan


def test_vocab_stats_no_collect_rank_bounded(spark):
    """Zipf regression runs over the top-100 ranked rows only; the single
    global window is rank-bounded, and the full vocabulary never reaches
    a Python stage."""
    plan = plan_of(spark, "text_vocab_stats")
    assert "BatchEvalPython" not in plan


def test_sentence_stats_shuffle_free(spark):
    """Per-row higher-order expressions: no Exchange beyond the output
    sort of the deterministic oracle ordering."""
    plan = plan_of(spark, "text_sentence_stats")
    # one Sort for the ORDER BY; no aggregation/join exchanges
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_unigram_loglik_vocab_join_unhinted(spark):
    """The token->frequency join carries NO broadcast hint — at 100 TB the
    vocabulary is cluster-scale and must be free to plan as a shuffle
    join; only the one-row total-count table is explicitly broadcast.
    (At fixture scale the optimizer rightly picks broadcast on its own —
    that is AQE's call, not a hint baked into the query.)"""
    from cudf_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    df = REGISTRY["text_unigram_loglik"].build(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("ResolvedHint") <= 1  # the 1-row total only
    plan = plan_of(spark, "text_unigram_loglik")
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_single_assign_no_cartesian(spark):
    """SemDeDup: the K-centroid argmax subtree is materialized once
    (localCheckpoint) so neither join branch re-runs the assign subtree
    — the executed plan reads checkpoint blocks (or a cache), never the
    parquet scan directly — and the within-cell pairwise step is an
    equi-join on cell with the cosine threshold as residual, never a
    cartesian."""
    df = REGISTRY["dedup_semantic"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # Accept either materialization shape: lineage-truncated checkpoint
    # (zero FileScans, branches read ExistingRDD) or a cache (every
    # FileScan below an InMemory* node). A raw top-level parquet scan
    # means the assign subtree re-executes. ADVICE r08: scope the cache
    # check PER SUBTREE (each scan's own ancestors), instead of accepting
    # any scan merely deeper than the shallowest InMemoryTableScan
    # anywhere in the plan.
    for _, detail, ancestors in plan_nodes(df):
        if detail.startswith("FileScan parquet"):
            assert any(
                a in ("InMemoryTableScan", "InMemoryRelation") for a, _ in ancestors
            ), f"uncached parquet scan: {detail[:80]}"
    assert plan.count("Exchange hashpartitioning") <= 2


def test_plan_nodes_walks_executed_plan_once(spark):
    """An executed AQE plan is walked once, through its stages and codegen."""
    df = spark.range(10).selectExpr("id % 2 AS k").groupBy("k").count()
    df.collect()
    assert [(n, a[-1][0] if a else None) for n, _, a in plan_nodes(df)] == [
        ("HashAggregate", None), ("AQEShuffleRead", "HashAggregate"),
        ("Exchange", "AQEShuffleRead"), ("HashAggregate", "Exchange"),
        ("Project", "HashAggregate"), ("Range", "Project"),
    ]


def test_boilerplate_removal_keyed_no_python(spark):
    """Boilerplate excision: gram counting, coverage join and document
    reassembly are all keyed shuffles — no Python stage, no cartesian,
    and the offender-gram join carries no broadcast hint (at corpus scale
    the boilerplate set is large; fixture-scale broadcast is AQE's call)."""
    from cudf_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    df = REGISTRY["text_remove_boilerplate"].build(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    plan = plan_of(spark, "text_remove_boilerplate")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_within_doc_dedup_window_partitioned_by_doc(spark):
    """Within-doc dedup: the duplicate-window rank partitions by
    (doc_id, gram) — skew bounded by the longest document — and nothing
    falls back to a Python stage or cartesian."""
    plan = plan_of(spark, "text_dedup_within_doc")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "row_number" in plan


def test_bigram_lm_count_joins_unhinted(spark):
    """Bigram LM: the bigram/history count joins are unhinted (vocabulary
    is cluster-scale); only the 1-row vocab-size scalar broadcasts."""
    from cudf_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    df = REGISTRY["text_bigram_loglik"].build(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("ResolvedHint") <= 1  # the 1-row V scalar only
    plan = plan_of(spark, "text_bigram_loglik")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_range_join_binned_is_not_nested_loop(spark):
    """The binning rewrite's whole point: the point-in-interval join must
    plan as a bin-keyed equi-join (hash/SMJ) with a residual filter —
    never the BroadcastNestedLoopJoin/CartesianProduct a raw BETWEEN
    join produces."""
    plan = plan_of(spark, "join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_curation_v2_no_python_no_cartesian(spark):
    """The five-stage composed DAG stays fully JVM-side: no Python eval,
    no cartesian; the only BNLJ is the broadcast 1-row centroid array of
    the SemDeDup stage."""
    plan = plan_of(spark, "curation_pipeline_v2")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_winsorize_bounds_broadcast_single_agg(spark):
    """The per-group p05/p95 bound table is groups-sized and must
    broadcast back onto the fact scan — no second fact shuffle."""
    plan = plan_of(spark, "clean_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_stratified_sample_single_stratum_window(spark):
    """Exact-budget stratified sampling: one stratum-keyed exchange for
    the rank window + the final aggregation; no python, no cartesian."""
    plan = plan_of(spark, "doc_stratified_sample")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bloom_sketch_keyed_bitor_no_python(spark):
    """Bloom build/probe: keyed bit_or aggregation and sketch-row joins
    only — no python stage, no cartesian."""
    plan = plan_of(spark, "sketch_bloom_filter")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_or" in plan.lower()


def test_bounded_global_rank_takeordered_not_funnel(spark):
    """bm25/vocab/RRF rankers: global top-n must plan as
    TakeOrderedAndProject over the full input (distributed partial
    top-k), with the ranking window running only on the bounded
    survivors — never a full-input single-partition sort."""
    for name in ("text_bm25_topk", "text_vocab_stats", "retrieval_rrf_fusion"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_salted_join_spreads_key_and_never_broadcasts(spark):
    """Salting exists to avoid the one-reducer hot key: the physical plan
    must be a shuffle-side join (hash or SMJ) whose keys include the salt
    column — a BroadcastHashJoin would mean the salt accomplished
    nothing (and the 100 TB premise is that broadcast is unavailable)."""
    plan = plan_of(spark, "join_skew_salted")
    assert "BroadcastHashJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "__salt" in plan


def test_pq_codebook_broadcasts_no_python(spark):
    """PQ serving shape: the codebook and query-distance tables join as
    broadcasts (they are n_subs*k rows); no Python eval, no cartesian
    product anywhere in the ADC plan."""
    plan = plan_of(spark, "ann_pq_topk")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sparse_cosine_pairs_token_blocked_no_cartesian(spark):
    """Pairs must form only through the token-keyed self-join (with the
    df cap excised hot tokens) — never a cartesian/nested-loop pair
    enumeration, and never Python."""
    plan = plan_of(spark, "text_sparse_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_funnel_and_retention_no_python_no_cartesian(spark):
    """The event-analytics additions stay fully JVM-side with keyed
    joins only: no Python eval, no cartesian pair enumeration (the only
    broadcast is the 1-row top-of-funnel scalar)."""
    for q in ("events_funnel_stages", "events_retention_cohorts"):
        plan = plan_of(spark, q)
        assert "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_scd2_is_semi_anti_union_not_full_outer(spark):
    """SCD2 must plan as semi/anti joins + union — the full-outer
    row-explosion shape is exactly what the composition avoids."""
    plan = plan_of(spark, "scd2_merge_upsert")
    assert "FullOuter" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_bitmap_distinct_single_keyed_aggregate(spark):
    """The bitmap build is one keyed bit_or aggregate with map-side
    partial aggregation — no Python, no cartesian, no window."""
    plan = plan_of(spark, "agg_bitmap_distinct")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_bit_or" in plan or "bit_or" in plan


def test_sparse_cosine_no_mandatory_vocab_broadcast(spark):
    """The distinct-token (dfreq) table must NOT carry a broadcast hint —
    it is 10^8-10^9 rows on a web corpus (round-4 verdict scale-killer).
    The only hint allowed in the plan is the 1-row n_docs scalar; the
    capped-vocabulary join is left to AQE."""
    from tests.conftest import SF_DIR

    from cudf_spark.queries import REGISTRY

    df = REGISTRY["text_sparse_cosine_pairs"].build(spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    # The weight table's localCheckpoint truncates the lineage that held
    # the n_docs scalar hint, so usually zero hints survive; if the
    # materialization strategy ever changes and hints reappear, each must
    # target the 1-row count(1) aggregate — a hint wrapping anything else
    # means the vocabulary broadcast came back.
    lines = logical.splitlines()
    hinted = [
        lines[i + 1]
        for i, l in enumerate(lines)
        if "ResolvedHint" in l
    ]
    for child in hinted:
        assert "Aggregate [count(1) AS n_docs" in child, (
            f"broadcast hint on a non-scalar table: {child.strip()}"
        )


# ---------------- round-5 block-15/16 additions

def test_benford_pushes_positive_filter(spark):
    plan = plan_of(spark, "agg_benford_check")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "o_totalprice" in pushed


def test_repeat_by_count_is_map_only(spark):
    """Generate (explode) runs inside the scan stage: zero shuffles
    before the output sort."""
    plan = plan_of(spark, "misc_repeat_by_count")
    # the only exchange is the final presentation orderBy's range partition
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Generate explode" in plan


def test_dau_wau_no_nested_loop(spark):
    plan = plan_of(spark, "events_dau_wau_stickiness")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_ols_single_user_shuffle(spark):
    """Both windows and the ordinal assignment share ONE user_id hash
    partitioning."""
    plan = plan_of(spark, "win_rolling_ols_slope")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_jaccard_and_adamic_no_cartesian(spark):
    for name in ("graph_jaccard_neighbors", "graph_adamic_adar"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan
        # top-20 never funnels the full pair set into one partition
        assert "TakeOrderedAndProject" in plan


def test_pca_gram_shuffle_is_cell_grain(spark):
    """The Gram groupBy partial-aggregates map-side: the shuffle carries
    (d, e) cells, and the plan keeps whole-stage codegen through the
    double posexplode."""
    plan = plan_of(spark, "emb_pca_power_iter")
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_bigram_lm_model_join_not_broadcast(spark):
    """The bigram model table joins token-keyed — at 100 TB the model is
    cluster-scale; a mandatory broadcast would OOM (the
    text_sparse_cosine_pairs lesson). AQE may still choose to broadcast
    at tiny SF, so pin the absence of an explicit broadcast HINT by
    checking the logical plan has no ResolvedHint on the lp side."""
    from cudf_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    df = REGISTRY["ml_bigram_lm_perplexity"].build(spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    # only the tiny vocab scalar is hinted; count hints to confirm
    assert logical.count("UnresolvedHint") == 0
    assert logical.count("ResolvedHint") <= 2  # vocab scalar broadcasts only


def test_interval_overlap_is_bin_keyed(spark):
    """The overlap join must run as an equi-join on the hour bucket — a
    BNLJ/cartesian on the raw predicate is exactly what the bin
    expansion exists to avoid."""
    plan = plan_of(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the bucket key is the join key
    assert "bin" in plan


def test_hash_ring_key_scan_is_map_side(spark):
    """The ring ships as ONE aggregated array row (broadcast); the key
    scan must not shuffle before ownership is assigned — the only
    hash exchanges are the final per-owner count and the tiny ring
    build, never keyed on the part key."""
    plan = plan_of(spark, "misc_consistent_hash_ring")
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(part" not in plan


def test_kendall_pair_join_is_lattice_grain(spark):
    """The c1*c2 pair join runs on the (flag, x, y) HISTOGRAM — the
    explicit broadcast is correct there because the lattice is bounded
    (<= values x bins), unlike a data-scale table."""
    plan = plan_of(spark, "stats_kendall_tau_binned")
    assert "CartesianProduct" not in plan
    # histogram side broadcasts; the raw lineitem scan must not
    assert plan.count("BroadcastExchange") >= 1


def test_kcore_and_bfs_checkpoint_rounds(spark):
    """Iterative peel/frontier rounds must truncate lineage: the final
    plan reads the checkpointed RDD, not 4 rounds of re-derived joins
    (the exponential-recompute lesson, measured on the kcore oracle)."""
    from cudf_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    for name in ("graph_kcore_peel", "graph_bfs_hops"):
        df = REGISTRY[name].build(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "Scan ExistingRDD" in plan, name


def test_stump_split_histogram_map_side_combine(spark):
    """The only data-scale shuffle is the (flag, x) histogram groupBy —
    partial aggregation must appear below the exchange."""
    plan = plan_of(spark, "ml_boosted_stump_split")
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """The partition-pruning query's read must list only the filtered
    partition directories — PartitionFilters on the scan, and the
    non-matching partitions never touched."""
    import pyspark.sql.functions as F

    from cudf_spark.catalog import load
    from tests.conftest import SF_DIR

    path = str(tmp_path / "pp")
    ev = load(spark, SF_DIR, "events").select("event_id", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "event_type" in plan
    # the pruned scan reads 2 of the 5 partitions
    n_parts = back.select("event_type").distinct().count()
    assert n_parts == 2


def test_bucketed_join_has_no_exchange(spark):
    """io_bucketed_join_agg's central join must be exchange-free on both
    sides — the shuffle was pre-paid by the bucketed write."""
    import uuid

    import pyspark.sql.functions as F

    from cudf_spark.catalog import load
    from tests.conftest import SF_DIR

    ev = load(spark, SF_DIR, "events")
    pu = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n1"))
    cl = ev.groupBy("user_id").agg(F.max("event_id").alias("m"))
    tag = uuid.uuid4().hex[:8]
    t1, t2 = f"pin_bkt_a_{tag}", f"pin_bkt_b_{tag}"
    # tiny test tables would broadcast (and the planner then skips the
    # bucketed scan entirely); disable broadcast to expose the SMJ path
    # the bucketing exists for
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pu.write.bucketBy(8, "user_id").sortBy("user_id").mode(
            "overwrite"
        ).saveAsTable(t1)
        cl.write.bucketBy(8, "user_id").sortBy("user_id").mode(
            "overwrite"
        ).saveAsTable(t2)
        j = spark.table(t1).join(spark.table(t2), "user_id")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_python_chain_executes_once(spark):
    """The map-only multimodal queries end in a global sort whose
    range-sampling pass re-executes its entire uncheckpointed input —
    the whole encode+decode Python chain ran 2x per query (4x for
    mm_image_dup_ahash, whose hash table also feeds both sides of the
    band self-join and the output join) until the r11 pre-sort
    localCheckpoints. Pin the fix by counting the rows that actually
    cross the Arrow boundary: every mapInPandas stage must see each
    asset exactly once."""
    from pyspark.sql.classic.dataframe import DataFrame

    from cudf_spark.catalog import load

    n_docs = load(spark, SF_DIR, "documents").count()
    orig = DataFrame.mapInPandas
    counters: list = []

    def patched(self, func, schema, barrier=False, profile=None):
        acc = spark.sparkContext.accumulator(0)
        counters.append(acc)

        def wrapped(it):
            def gen():
                for pdf in it:
                    acc.add(len(pdf))
                    yield pdf

            return func(gen())

        return orig(self, wrapped, schema, barrier=barrier, profile=profile)

    DataFrame.mapInPandas = patched
    try:
        for name in ("mm_image_dup_ahash", "mm_audio_features",
                     "mm_audio_vad_segments", "mm_bmp_real_codec"):
            counters.clear()
            df = REGISTRY[name].build(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            got = [a.value for a in counters]
            assert got == [n_docs] * len(got), (
                f"{name}: Python stages saw {got} rows for {n_docs} assets "
                "— a consumer or the sort's sampling pass re-executed the "
                "Arrow chain (re-check the pre-sort localCheckpoint)"
            )
    finally:
        DataFrame.mapInPandas = orig
