"""Regression tests for the round-11 fuzz-differential findings.

Each test replays the EXACT seed that exposed the defect (the generator
is fully seed-deterministic) restricted to the queries that failed, via
the harness's own runner — so a regression reproduces the original
MISMATCH/ERROR verbatim. Fixture trees are generated into a tmp dir and
removed; each seed runs in a couple of seconds at the generator's
~sf0.001 scale.

Findings covered (see scripts/fuzz_differential.py):
  seed 1  replace_nan_handling        oracle isnan(NULL) vs cudf BOOL8
  seed 1  misc_consistent_hash_ring   ANSI element_at on empty ring
  seed 2  stream_checkpoint_exactly_once  <2 part files assert, NULL xor
  seed 2  io_avro_roundtrip_agg       empty frame -> zero avro parts
  seed 4  stats_cramers_v             empty table chi2 0.0 vs NULL
  seed 5  win_rolling_mode            NULL tie order nulls-first/last
  seed 5  events_rfm_scores           NULL monetary rank fork
"""

from __future__ import annotations

import pytest

SEED_QUERIES = [
    (1, ["replace_nan_handling", "misc_consistent_hash_ring"]),
    (2, ["stream_checkpoint_exactly_once", "io_avro_roundtrip_agg"]),
    (4, ["stats_cramers_v"]),
    (5, ["win_rolling_mode", "events_rfm_scores"]),
    # second sweep (seeds 6-12):
    #   seed 8   ann_cosine_topk / ann_lsh_bucketed — empty embeddings
    #            made the one-row-query guard abort on ZERO rows
    #   seed 10  text_bigram_cond_entropy — empty-corpus fold 0.0 vs NULL
    #            stream_stateful_totals — all-null user: accumulator 0.0
    #            vs SQL-sum NULL (oracle now declares the zero start)
    (8, ["ann_cosine_topk", "ann_lsh_bucketed"]),
    (10, ["text_bigram_cond_entropy", "stream_stateful_totals"]),
]

# Third wave: hostile full-registry sweeps — the knob is pinned, the rest
# of the tree still varies with the seed.
HOSTILE = [
    (20, {"empty_table": "lineitem"},
     ["agg_grouping_sets", "agg_rollup", "agg_cube", "stream_dq_monitor"]),
    (21, {"empty_table": "events"},
     ["agg_hdr_latency_percentiles", "events_funnel_stages",
      "events_haar_wavelet_energy", "events_time_rollup",
      "events_time_to_convert", "stats_chi_square", "stats_ljung_box",
      "stream_table_fingerprint", "io_partitioned_write_pruning"]),
    (22, {"empty_table": "documents"},
     ["stats_theil_u", "text_vocab_stats", "text_bigram_cond_entropy"]),
    (23, {"p_null_value": 1.0}, ["stats_wilson_ci"]),
    (24, {"empty_table": "orders"},
     ["agg_benford_check", "dq_schema_drift"]),
    # seed 25 also reproduces the float-floordiv knife edge in
    # agg_linear_counting's rel_err (DuckDB CAST rounds, Spark div
    # truncates) on a NON-degenerate tree — pure oracle-arithmetic bug
    (25, {"empty_table": "customer"}, ["agg_linear_counting"]),
    # Fourth wave (end-of-round assurance sweep, seeds 50-52, cohort
    # 100): seed 51's all-null + 1-row-group tree made stats_wilson_ci's
    # s=0 lower bound a few ULPs below zero — the identical double on
    # both engines, but DuckDB's round keeps IEEE -0.0 where Spark's
    # BigDecimal round canonicalizes to +0.0 (oracle now adds the
    # + 0.0 idiom from math_trig_round). Seed 50's q09 mismatch is NOT
    # a defect and gets no fix: the group's exact profit sum is EXACTLY
    # 362253.695 (verified by rational arithmetic over the fixture), a
    # round(,2) half-boundary where float sum-order legitimately flips
    # the last cent — the documented accepted residual class of every
    # rounded float aggregate (test_scale_audit.py allowlist notes).
    (51, {"p_null_value": 1.0, "one_row_groups": True},
     ["stats_wilson_ci"]),
    # Fifth wave (third-session assurance sweep, seeds 60-66, cohort
    # 100 + one --all sweep): seed 62's NULL-bearing value column
    # exposed a NULL-ordering fork in stats_odds_ratio_mh's exact-median
    # window — Spark's ASC default is NULLS FIRST (the NULL histogram
    # group shifted every cumulative rank), DuckDB's is NULLS LAST; the
    # engine window now pins asc_nulls_last so both engines treat the
    # NULL group as +inf. Seed 66's q03 mismatch is NOT a defect and
    # gets no fix: order 232's exact revenue over the seed tree is
    # EXACTLY 289189.975 (verified by Fraction arithmetic on the
    # 2-decimal lattice), a round(,2) half-boundary where float
    # sum-order legitimately flips the last cent — the same accepted
    # residual class as seed 50's q09 above. Seeds 60/61/63(-all)/64/65
    # clean.
    (62, {"p_null_value": 0.08, "p_null_acctbal": 0.1,
          "p_null_props": 0.15},
     ["stats_odds_ratio_mh"]),
    # Sixth wave — the three dimension tables no prior sweep ever drew
    # empty (part/nation/region; the random knob chooser excludes them).
    # seed 67's empty part: misc_consistent_hash_ring's load-share
    # denominator (count of keys) hit Spark's ANSI `div` DIVIDE_BY_ZERO
    # abort where the 0-of-0 share should degrade to NULL — nullif on
    # both engines now (the agg_benford_check idiom). Empty nation
    # (seed 68) and empty region (seed 69) swept clean registry-wide.
    (67, {"empty_table": "part"}, ["misc_consistent_hash_ring"]),
]


@pytest.mark.parametrize("seed,knobs,names", HOSTILE, ids=lambda v: str(v))
def test_fuzz_hostile_tree(spark, seed, knobs, names):
    if not isinstance(seed, int):
        pytest.skip("param order")
    from scripts.fuzz_differential import run_seed

    report = run_seed(
        spark, seed, size=0, keep=False, only=set(names),
        knob_overrides=knobs,
    )
    assert report["mismatch"] == [], report["mismatch"]
    assert report["error"] == [], report["error"]
    assert report["ok"] == len(names)


@pytest.mark.parametrize("seed,names", SEED_QUERIES, ids=lambda v: str(v))
def test_fuzz_finding_seed(spark, seed, names):
    if isinstance(seed, list):  # parametrize id helper quirk guard
        pytest.skip("param order")
    from scripts.fuzz_differential import run_seed

    report = run_seed(spark, seed, size=0, keep=False, only=set(names))
    assert report["mismatch"] == [], report["mismatch"]
    assert report["error"] == [], report["error"]
    assert report["ok"] == len(names)
