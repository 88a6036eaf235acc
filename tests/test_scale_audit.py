"""scale_audit: the 100 TB plan linter — clean on the engine's own
pipelines, loud on deliberately-pathological ones."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cudf_spark.plans import scale_audit
from cudf_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def test_engine_queries_are_clean(spark):
    for name in (
        "q05_local_supplier_volume",
        "dedup_minhash_lsh",
        "win_rolling_rows",
        "replace_nan_handling",  # its 1-row-broadcast BNLJ must pass by default
    ):
        assert scale_audit(REGISTRY[name].build(spark, SF_DIR)) == [], name
    # ann_ivf_topk's one finding is the justified <=K centroid collect
    # (KNOWN_BOUNDED_SPOOLS); nothing else may appear.
    ivf = scale_audit(REGISTRY["ann_ivf_topk"].build(spark, SF_DIR))
    assert [c for c, _ in ivf] == ["value_spool"]


def test_flags_global_window(spark):
    from cudf_spark.catalog import load

    li = load(spark, SF_DIR, "lineitem")
    bad = li.withColumn("rn", F.row_number().over(Window.orderBy("l_orderkey")))
    codes = [c for c, _ in scale_audit(bad)]
    assert "single_partition_funnel" in codes


def test_flags_row_udf(spark):
    from pyspark.sql.types import LongType

    from cudf_spark.catalog import load

    plus_one = F.udf(lambda x: x + 1, LongType())
    bad = load(spark, SF_DIR, "region").select(plus_one("r_regionkey").alias("x"))
    codes = [c for c, _ in scale_audit(bad)]
    assert "python_row_udf" in codes


def test_flags_value_spool(spark):
    from cudf_spark.catalog import load

    li = load(spark, SF_DIR, "lineitem")
    bad = li.groupBy("l_returnflag").agg(
        F.collect_list("l_extendedprice").alias("all_prices")
    )
    codes = [c for c, _ in scale_audit(bad)]
    assert "value_spool" in codes
    # exact percentile spools its value->count map; the sketch form does not
    pctl = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50")
    )
    assert any(c == "value_spool" for c, _ in scale_audit(pctl))
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("p50")
    )
    assert all(c != "value_spool" for c, _ in scale_audit(approx))


def test_value_spool_survives_wide_aggregates(spark):
    """A spool function past the default 25-field stringification cutoff
    must still be seen: the audit reads each node's ``simpleString(4096)``,
    which prints every aggregate function, and never touches
    ``maxToStringFields``."""
    from cudf_spark.catalog import load

    li = load(spark, SF_DIR, "lineitem")
    aggs = [F.sum(F.col("l_quantity") + i).alias(f"s{i}") for i in range(30)]
    aggs.append(F.collect_list("l_extendedprice").alias("spool"))
    bad = li.groupBy("l_returnflag").agg(*aggs)
    codes = [c for c, _ in scale_audit(bad)]
    assert "value_spool" in codes
    # and the conf is restored for the caller
    assert (
        spark.conf.get("spark.sql.debug.maxToStringFields", None) in (None, "25")
    )


def test_flags_sort_resample(spark):
    """A Python stage directly below a global sort re-executes in the
    sort's range-sampling pass (the r11 mm_*/text-UDF find); a shuffle
    between them or a pre-sort checkpoint makes the plan clean."""
    import pandas as pd

    from cudf_spark.catalog import load

    def ident(it):
        for pdf in it:
            yield pd.DataFrame({"k": pdf["r_regionkey"]})

    base = load(spark, SF_DIR, "region").mapInPandas(ident, "k long")
    bad = base.orderBy("k")
    assert any(c == "sort_resample" for c, _ in scale_audit(bad))
    # a shuffle boundary between: the sampler reads materialized blocks
    shuffled = base.groupBy("k").count().orderBy("k")
    assert all(c != "sort_resample" for c, _ in scale_audit(shuffled))
    # the engine fix: checkpoint before the sort
    ckpt = base.localCheckpoint(eager=False).orderBy("k")
    assert all(c != "sort_resample" for c, _ in scale_audit(ckpt))
    # a boundary on a SIBLING branch must not excuse the Python branch
    other = (
        load(spark, SF_DIR, "nation")
        .groupBy(F.col("n_nationkey").alias("k"))
        .count()
        .select("k", "count")
    )
    joined = base.join(F.broadcast(other), "k", "left").orderBy("k")
    assert any(c == "sort_resample" for c, _ in scale_audit(joined))
    # a '==' inside a plan literal is not a section header: the hash
    # exchange between Python and the sort still counts as a boundary
    strs = base.select(F.col("k").cast("string").alias("s"))
    keyed = strs.repartition(8, F.concat("s", F.lit("YQ=="))).orderBy("s")
    assert all(c != "sort_resample" for c, _ in scale_audit(keyed))


def test_sort_resample_on_executed_aqe_plan_reports_once(spark):
    """ADVICE r11: an already-executed AQE plan holds both its final and
    its initial plan; the node walk goes through ``AdaptiveSparkPlan`` to
    the final plan only, so the Python stage below the sort is reported
    once, not once per plan."""
    import pandas as pd

    from cudf_spark.catalog import load

    def ident(it):
        for pdf in it:
            yield pd.DataFrame({"k": pdf["r_regionkey"]})

    bad = load(spark, SF_DIR, "region").mapInPandas(ident, "k long").orderBy("k")
    bad.collect()  # executed: AQE final plan
    findings = [c for c, _ in scale_audit(bad) if c == "sort_resample"]
    assert len(findings) == 1


def test_sort_resample_cached_subtree_is_boundary(spark):
    """ADVICE r11: a Python stage behind a cached (InMemoryTableScan)
    subtree is materialized — the sampling pass reads the cache, not the
    chain, so the plan is clean."""
    import pandas as pd

    from cudf_spark.catalog import load

    def ident(it):
        for pdf in it:
            yield pd.DataFrame({"k": pdf["r_regionkey"]})

    base = load(spark, SF_DIR, "region").mapInPandas(ident, "k long").cache()
    try:
        cached = base.orderBy("k")
        assert all(c != "sort_resample" for c, _ in scale_audit(cached))
    finally:
        base.unpersist()


def test_flags_cartesian(spark):
    from cudf_spark.catalog import load

    # with broadcasts off the cross join plans as a real CartesianProduct
    # (by default it is a BroadcastNestedLoopJoin, which passes)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        n = load(spark, SF_DIR, "nation")
        bad = n.crossJoin(n.select(F.col("n_nationkey").alias("k2")))
        found = scale_audit(bad)
    finally:
        spark.conf.set(key, prev)
    assert any(c == "cartesian_product" for c, _ in found)


# Queries whose single-partition stage is bounded by something OTHER than
# data size — the audit can't see cardinality, reviewers can:
#   hconcat_positional — positional zip needs a global order by definition
#     (documented caveat; exercised on the 5-row region table only);
#   dictionary_encode / dictionary_update_keys — the rank runs over the
#     DISTINCT key set, bounded by dictionary cardinality;
#   win_max_drawdown — its two global windows run over the DAILY series
#     (one row per calendar day after the keyed groupBy), bounded by the
#     calendar regardless of input size, and a drawdown is inherently a
#     sequential prefix computation over that series.
KNOWN_BOUNDED = {
    "hconcat_positional",
    "dictionary_encode",
    "dictionary_update_keys",
    "win_max_drawdown",
    # same day-grain justification as win_max_drawdown: the lag window
    # runs AFTER the keyed day-grain groupBy, bounded by the calendar
    "ts_seasonal_naive_mase",
    "ts_changepoint_cusum",
    "ts_dow_seasonal_decompose",
    "dt_resample_ffill",
    # bounded-lattice global windows, same class as above:
    #   events_survival_km — risk-set suffix cumsum + prefix fold run on
    #     the day-DURATION lattice (one row per distinct duration,
    #     bounded by the observation window), after the user-grain
    #     groupBy;
    #   events_time_to_convert — the quantile rank-rule cumsum runs on
    #     the MINUTE-delta histogram, never on users;
    #   doc_neyman_allocation — largest-remainder apportionment ranks
    #     STRATA (one row per source), bounded by stratum count.
    "events_survival_km",
    "events_time_to_convert",
    "doc_neyman_allocation",
    # round-5 bounded-lattice additions (VERDICT r05 item 5 — each
    # global window runs AFTER a keyed groupBy collapsed the data to a
    # lattice whose cardinality is fixed by the quantization, never by
    # input size):
    #   agg_hdr_latency_percentiles — the cumsum runs on the HDR
    #     histogram's 512 fixed buckets (16 sub-buckets x 32
    #     log2-magnitude tiers), a compile-time-bounded lattice;
    #   stats_ljung_box — both lag windows run on the DAILY count
    #     series (one row per calendar day after the day-grain groupBy),
    #     bounded by the observation calendar;
    #   stats_sprt_crossing — the sequential LLR prefix scan walks the
    #     same day-grain series: a sequential test is inherently a scan
    #     over its (bounded) time axis;
    #   stats_odds_ratio_mh — the stratum panel (one row per
    #     day-of-week stratum) is ranked for deterministic output order;
    #   stats_youden_j_threshold / ml_pr_auc — the ROC/PR sweeps walk
    #     the QUANTIZED confidence lattice (one row per distinct
    #     centi-unit score after the score-grain groupBy), bounded by
    #     the quantization range, never by prediction count;
    #   misc_shard_rebalance_pairing — greedy donor/receiver pairing
    #     ranks the SHARD panel (one row per shard), bounded by cluster
    #     topology, not data;
    #   pipeline_curriculum_phases — the equi-depth rank rule cumsums
    #     the difficulty-VALUE histogram (one row per distinct
    #     micro-unit difficulty); doc-grain work is difficulty-keyed.
    "agg_hdr_latency_percentiles",
    "stats_ljung_box",
    "stats_sprt_crossing",
    "stats_odds_ratio_mh",
    "stats_youden_j_threshold",
    "ml_pr_auc",
    "misc_shard_rebalance_pairing",
    "pipeline_curriculum_phases",
    # agg_lorenz_curve_binned left this whitelist in round 8 (VERDICT
    # r07 item 2): its distinct-revenue-sized histogram cumsum now runs
    # through operators/windows.py:cumsum_two_level (bucketed keyed
    # window + broadcast offsets) and passes the audit unaided.
}


# value_spool findings justified as bounded (round-11 mechanization of
# the class the review rotation hunted by hand: ObjectHashAggregate whose
# buffer is NOT O(group rows) at 100 TB because something else caps it).
# Grouped by the bounding argument; each query's in-code doc carries the
# full story. A NEW value_spool site fails the registry audit below until
# its bound is argued here or the query is rewritten via the two-level
# rank rule (agg_sketch_merge, OPTIMIZATION_r11.md §3.4).
KNOWN_BOUNDED_SPOOLS = {
    # The list IS the output contract (collect feeds a string/array
    # column the oracle hashes): nations/keys per region, cluster
    # members per entity, words per soundex code, reconstructed doc
    # text, PQ code per vector (M subquantizer entries).
    "agg_collect",
    "er_cluster_entities",
    "str_phonetic_soundex",
    "text_dedup_within_doc",
    "text_remove_boilerplate",
    "ann_pq_topk",
    # Bounded by the embedding dimensionality or the <=K centroid set
    # (broadcast-fold ANN shapes; K and dim are model constants).
    "ann_ivf_recall",
    "ann_ivf_topk",
    "emb_centroid_drift",
    "emb_mean_pool",
    "emb_pca_power_iter",
    # Deterministic sorted-order float folds over a panel bounded by a
    # fixed category/lattice domain, NOT by input rows (the collect is
    # the cross-engine float-determinism contract — both engines fold
    # bit-identical terms in the same order): Benford digits (9), event
    # types per day-of-week, ANOVA/Levene group flags, chi-square /
    # Cramers-V contingency cells, Ljung-Box lags, Theil-U categories,
    # schema-drift categories, per-source mixing weights, strata,
    # bootstrap replicates (B), median-of-means buckets (k), hash-ring
    # vnodes (suppliers x vnodes topology), char-set entropy terms,
    # char-bigram vocabulary.
    "agg_benford_check",
    "agg_entropy_gini",
    "agg_median_of_means",
    "stats_anova_oneway",
    "stats_bootstrap_ci_poisson",
    "stats_chi_square",
    "stats_cramers_v",
    "stats_levene_bf",
    "stats_ljung_box",
    "stats_theil_u",
    "dq_schema_drift",
    "doc_neyman_allocation",
    "doc_temperature_mix",
    "curation_pipeline_v3",
    "curation_pipeline_v4",
    "misc_consistent_hash_ring",
    "text_bigram_cond_entropy",
    "text_char_entropy",
    # Per-document collects bounded by document length (the corpus
    # scales by adding docs, not by growing one doc; same scale model
    # as every tokenizer path).
    "text_bigram_loglik",
    "text_rake_keywords",
    "text_sparse_cosine_pairs",
    # Per-cell sorted cosine fold, bounded by cell size (corpus/K with
    # K ~ N per the SemDeDup sizing note) — and the sorted order is the
    # float-determinism contract (see emb_outlier_zscore in-code note).
    "emb_outlier_zscore",
    # Degree-oriented neighbor arrays, sqrt(m)-bounded by construction
    # (Suri-Vassilvitskii compact-forward; operators/graphs.py:70).
    "graph_triangle_count",
    "graph_transitivity_global",
    # Exact percentile over an INTEGER LATTICE: the Percentile buffer is
    # a value->count map bounded by the lattice's distinct-value count
    # (l_quantity: 50 values; describe's cents lattices), not by rows.
    # agg_describe's in-code doc states the continuous-domain swap
    # (t-digest) for 100 TB.
    "agg_median_quantiles",
    "agg_describe",
    # Day-grain seasonal panels (one row per calendar day after the
    # day-grain groupBy), bounded by the observation calendar.
    "ts_dow_seasonal_decompose",
    "ts_seasonal_naive_mase",
}


def test_every_registry_query_passes_scale_audit(spark):
    flagged = {}
    for name, q in REGISTRY.items():
        # Audit the clean per-job plan: persisted tables from EARLIER
        # tests in this shared session register in the CacheManager, and
        # Spark substitutes their AQE-materialized cached plans into any
        # later build sharing the subtree — the audit would then see
        # opaque ShuffleQueryStage consumers instead of the real
        # aggregate/limit and report false single-partition funnels
        # (reproduced after test_oracle_parity's collects).
        spark.catalog.clearCache()
        findings = [
            (c, d)
            for c, d in scale_audit(q.build(spark, SF_DIR))
            if not (c == "single_partition_funnel" and name in KNOWN_BOUNDED)
            and not (c == "value_spool" and name in KNOWN_BOUNDED_SPOOLS)
        ]
        if findings:
            flagged[name] = findings
    assert flagged == {}


# Interpolated-percentile call sites allowed to remain, each justified.
# Any NEW site fails test_no_unjustified_interpolated_percentiles until it
# is rewritten (integer rank rule / percentile_disc / all-integer
# interpolation) or justified here. The failure class this guards against:
# comparing integer-lattice data against an interpolated float boundary
# flips tied rows on a one-ulp cross-engine difference (the
# agg_lorenz_curve_binned r06 red; see
# cudf_spark/plans/audit.py:interpolated_percentile_sites).
#
# The surviving sites are all VALUE-OUTPUT-ONLY (never compared against
# data) and rounded, or doc prose (the regex deliberately errs loud —
# a false positive costs one entry here, a false negative recreates the
# r06 red). Safety notes per group:
# - agg_median_quantiles / agg_describe interpolate on the integer
#   l_quantity / cents lattice where q*(n-1) has denominator <= 20, so
#   the true value's fractional part is a multiple of 1/20 —
#   >= 0.049999 away from any 0.5e-4 / 0.5e-6 round() boundary, which a
#   one-ulp wobble cannot cross.
# - agg_sketch_merge's exact_p50 / est_p50 and win_rolling_median's med5
#   are rounded value outputs over float inputs: both engines run the
#   identical sorted-midpoint / interpolation arithmetic, and rounding
#   shields everything except an exact .5-ulp round-boundary collision —
#   the same residual class as every rounded float aggregate in the
#   repo (no comparison amplification; 7 rounds of driver hash greens).
# - agg_approx_sketches is rows-only (no oracle hash to diverge).
ALLOWED_INTERPOLATED_PERCENTILES = {
    # agg_median_quantiles: rounded q4 value output, oracle + Spark side
    ("aggregates.py", "round(median(l_quantity), 4)                        AS med_qty,"),
    ("aggregates.py", "round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 4) AS q25,"),
    ("aggregates.py", "round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 4) AS q75,"),
    ("aggregates.py", "round(CAST(quantile_cont(l_quantity, 0.90) AS DOUBLE), 4) AS q90"),
    ("aggregates.py", 'F.round(F.median("l_quantity"), 4).alias("med_qty"),'),
    ("aggregates.py", 'F.round(F.percentile("l_quantity", 0.25), 4).alias("q25"),'),
    ("aggregates.py", 'F.round(F.percentile("l_quantity", 0.75), 4).alias("q75"),'),
    ("aggregates.py", 'F.round(F.percentile("l_quantity", 0.90), 4).alias("q90"),'),
    # agg_sketch_merge: rounded q4 value outputs (error-bound companion);
    # the engine side moved off F.median to the two-level (value, count)
    # + cumulative-rank form in r11 (OPTIMIZATION_r11.md §3.4), so only
    # the oracle's median() remains as an interpolation site
    ("aggregates2.py", "round((SELECT median(v) FROM pts p WHERE p.k = hit.k), 4) AS exact_p50"),
    # agg_describe: rounded q6 quartile value output on the cents lattice
    ("analytics.py", 'F.expr("percentile(x, array(0.25, 0.50, 0.75))").alias("qs"),'),
    # doc prose
    ("analytics.py", 'doc="weighted median (the lower weighted median: smallest x whose "'),
    ("analytics4.py", '"exact global median (rank rule on the cents lattice). The "'),
    # win_rolling_median: rounded q6 value output over a <=5-row frame
    ("windows.py", "median(value) OVER ("),
}


def test_no_unjustified_interpolated_percentiles():
    import os

    from cudf_spark.plans.audit import interpolated_percentile_sites

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "cudf_spark",
        "queries",
    )
    sites = set(interpolated_percentile_sites(qdir))
    unjustified = sites - ALLOWED_INTERPOLATED_PERCENTILES
    stale = ALLOWED_INTERPOLATED_PERCENTILES - sites
    assert unjustified == set(), unjustified
    assert stale == set(), f"allowlist entries no longer in source: {stale}"


def test_no_unjustified_persist_sites():
    """Round-8 lesson, mechanized: DataFrame persist() measured 2-4x the
    cost of localCheckpoint on this repo's reuse intermediates AND leaks
    CacheManager plan substitution across the driver session (full
    analysis: operators/dedup.py:lsh_candidate_pairs docstring). Any new
    .persist( call site fails here until it is measured at sf0.1 against
    the localCheckpoint form and justified in this allowlist (the
    SANCTIONED escape hatch — ADVICE r08; cluster deployments needing
    executor-loss recoverability should set a reliable checkpoint dir
    instead, per the dedup.py tradeoff note). The lint walks the AST, so
    docstrings/comments mentioning .persist( no longer false-positive."""
    import os

    from cudf_spark.plans.audit import persist_call_sites

    pkg = os.path.join(os.path.dirname(__file__), "..", "cudf_spark")
    allowed: set[tuple[str, str]] = set()  # none today — measurements say no
    sites = set(persist_call_sites(pkg))
    unjustified = sites - allowed
    assert unjustified == set(), (
        "new .persist( call sites need a measured justification: "
        f"{sorted(unjustified)}"
    )
