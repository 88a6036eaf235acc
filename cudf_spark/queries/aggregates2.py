"""Quantile interpolation modes beyond LINEAR — cudf exposes five
(cudf/quantiles.hpp:50: LINEAR, LOWER, HIGHER, MIDPOINT, NEAREST);
``F.percentile`` only does linear, so the other four are rank-targeted
selections over a per-group sort.

Index convention: ``pos = q * (n - 1)`` computed directly in double — the
same arithmetic cudf's sort-based quantile kernel uses.  numpy's
``np.percentile`` round-trips the quantile through percent (``q*100/100``),
which can land an ULP away and flip lo/hi on adversarial inputs (e.g.
q=1/3, n=10); we deliberately do NOT follow that round-trip.  Both engines
below run the identical direct arithmetic, so parity is exact.

Scale design: exact non-linear quantiles need each group's order
statistics, but NOT the whole group in one array.  We rank with a windowed
``row_number`` (one keyed shuffle; the per-partition sort spills to disk
gracefully on skewed keys) and keep only the ≤3 rows per group whose ranks
are lo/hi/near — O(1) rows per group leave the window stage, and the final
groupBy reuses the same hash partitioning (no second exchange).  For
unbounded groups where even the sort is unwanted, the approx path is
``percentile_approx``/t-digest (agg_approx_sketches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.operators.sketches import cms_oracle_cell_sql, cms_oracle_cells_sql
from cudf_spark.queries.text import SQL_TOKS
from cudf_spark.queries.registry import register

_Q = 0.37  # deliberately lands between indices for every mode


@register(
    "agg_quantile_modes",
    oracle=f"""
    WITH g AS (
        -- NULL quantities are excluded (cudf/pandas quantile semantics);
        -- without the FILTER, DuckDB's list_sort puts NULLs LAST while
        -- Spark's row_number ranks them FIRST — divergent order stats
        SELECT l_returnflag,
               list_sort(list(l_quantity)
                         FILTER (WHERE l_quantity IS NOT NULL)) AS a,
               count(l_quantity) AS n
        FROM lineitem GROUP BY l_returnflag
        HAVING count(l_quantity) > 0),
    ix AS (
        SELECT l_returnflag, a,
               {_Q} * (n - 1)                          AS pos,
               CAST(floor({_Q} * (n - 1)) AS INT)       AS lo,
               CAST(ceil({_Q} * (n - 1)) AS INT)        AS hi,
               CAST(floor({_Q} * (n - 1) + 0.5) AS INT) AS near
        FROM g)
    SELECT l_returnflag,
           round(a[lo + 1] + (a[hi + 1] - a[lo + 1]) * (pos - lo), 4) AS q_linear,
           round(a[lo + 1], 4)                                        AS q_lower,
           round(a[hi + 1], 4)                                        AS q_higher,
           round((a[lo + 1] + a[hi + 1]) / 2, 4)                      AS q_midpoint,
           round(a[near + 1], 4)                                      AS q_nearest
    FROM ix ORDER BY l_returnflag
    """,
    doc="All five cudf quantile interpolation modes (quantiles.hpp:50) at "
    "q=0.37 per group — rank-targeted selection via windowed row_number; "
    "one keyed shuffle, O(1) rows per group out, no whole-group array.",
)
def agg_quantile_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quantiles ignore NULLs (cudf/pandas semantics) — and keeping them
    # would rank NULLs FIRST here vs LAST in the oracle's list_sort
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .filter(F.col("l_quantity").isNotNull())
    )
    part = Window.partitionBy("l_returnflag")
    # row_number ties are broken arbitrarily, which is fine: equal values
    # yield the same order statistic whichever one lands at the rank.
    ranked = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("v"),
        F.row_number().over(part.orderBy("l_quantity")).alias("rn"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    pos = F.lit(_Q) * (F.col("n").cast("double") - 1)
    ranked = ranked.select(
        "*",
        F.floor(pos).cast("int").alias("lo"),
        F.ceil(pos).cast("int").alias("hi"),
        F.floor(pos + F.lit(0.5)).cast("int").alias("near"),
    )
    i = F.col("rn") - 1
    picked = ranked.filter(
        (i == F.col("lo")) | (i == F.col("hi")) | (i == F.col("near"))
    )
    agg = picked.groupBy("l_returnflag").agg(
        F.min("n").alias("n"),
        F.min("lo").alias("lo"),
        F.min(F.when(i == F.col("lo"), F.col("v"))).alias("a_lo"),
        F.min(F.when(i == F.col("hi"), F.col("v"))).alias("a_hi"),
        F.min(F.when(i == F.col("near"), F.col("v"))).alias("a_near"),
    )
    pos_g = F.lit(_Q) * (F.col("n").cast("double") - 1)
    frac = pos_g - F.col("lo").cast("double")
    return agg.select(
        "l_returnflag",
        F.round(F.col("a_lo") + (F.col("a_hi") - F.col("a_lo")) * frac, 4).alias(
            "q_linear"
        ),
        F.round("a_lo", 4).alias("q_lower"),
        F.round("a_hi", 4).alias("q_higher"),
        F.round((F.col("a_lo") + F.col("a_hi")) / 2, 4).alias("q_midpoint"),
        F.round("a_near", 4).alias("q_nearest"),
    ).orderBy("l_returnflag")


_BINS = 256
_LO, _HI = 0.0, 110000.0  # l_extendedprice envelope; clamping keeps outliers


@register(
    "agg_sketch_merge",
    oracle=f"""
    WITH pts AS (
        SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v,
               l_orderkey % 2 AS run
        FROM lineitem),
    sk AS (
        SELECT run, k,
               least({_BINS - 1}, greatest(0,
                   CAST(floor((v - {_LO}) / {(_HI - _LO) / _BINS}) AS INT))) AS bin,
               count(*) AS cnt, min(v) AS v_min, max(v) AS v_max
        FROM pts GROUP BY run, k, bin),
    merged AS (
        SELECT k, bin, sum(cnt) AS cnt, min(v_min) AS v_min, max(v_max) AS v_max
        FROM sk GROUP BY k, bin),
    cum AS (
        SELECT k, bin, cnt, v_min, v_max,
               sum(cnt) OVER (PARTITION BY k ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY k) AS total
        FROM merged),
    tgt AS (
        SELECT *, CAST(floor(0.5 * (CAST(total AS DOUBLE) - 1)) AS BIGINT) + 1
                      AS target
        FROM cum),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY bin) AS rn
        FROM tgt WHERE cum >= target)
    SELECT k AS l_returnflag,
           round(v_min + (v_max - v_min) *
                 (CAST(target - (cum - cnt) - 1 AS DOUBLE)
                  / CAST(greatest(cnt - 1, 1) AS DOUBLE)), 4) AS est_p50,
           round((SELECT median(v) FROM pts p WHERE p.k = hit.k), 4) AS exact_p50
    FROM hit WHERE rn = 1
    ORDER BY l_returnflag
    """,
    doc="Persisted-sketch merge (aggregation.hpp:109-117 MERGE_TDIGEST / "
    "MERGE_HISTOGRAM): lineitem split into two 'runs' by orderkey parity, "
    "a mergeable histogram sketch built per run, merged (counts add, "
    "ranges combine - exact, unlike t-digest merges), median extracted "
    "from merged state only. exact_p50 alongside shows the error bound "
    "holds. Sketch state is a plain table - operators/sketches.py.",
)
def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.sketches import (
        histogram_sketch,
        merge_sketches,
        quantile_from_sketch,
    )

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("k"),
        F.col("l_extendedprice").cast("double").alias("v"),
        (F.col("l_orderkey") % 2).alias("run"),
    )
    # Both runs' sketches come from ONE corpus scan (run is just another
    # sketch key); the per-run split happens on the TINY sketch table, so
    # merge_sketches still sees two independent persisted-shaped inputs.
    # Checkpoint the sketch (<= runs*keys*bins rows) or the two filter
    # branches would each re-evaluate the scan (no cross-branch CSE).
    sk_all = histogram_sketch(
        li, ["run", "k"], "v", lo=_LO, hi=_HI, n_bins=_BINS
    ).localCheckpoint(eager=False)
    run_a = sk_all.filter(F.col("run") == 0).drop("run")
    run_b = sk_all.filter(F.col("run") == 1).drop("run")
    merged = merge_sketches([run_a, run_b], ["k"])
    est = quantile_from_sketch(merged, ["k"], 0.5)
    # Exact median via a two-level (value, count) aggregation + per-key
    # cumulative rank instead of F.median: the Percentile aggregate is an
    # ObjectHashAggregate that collects EVERY value into per-partition
    # object buffers, serializes them through the exchange and merges+
    # sorts per group single-threaded on one task — at 100 TB that is a
    # per-group value spool. Here only (k, v, c) rows cross the exchange
    # (bounded by the distinct-value domain, with map-side combine) and
    # the per-key work is a sort of distinct values. Matches Percentile's
    # exact semantics: 0-based position d = 0.5*(n-1), lower index
    # floor(d) -> rank lo1, upper index ceil(d) -> rank hi1, result
    # 0.5*v_lo + 0.5*v_hi (Percentile's lo*(ceil-d) + hi*(d-floor) with
    # d-floor in {0, 0.5}; for odd n, v_lo == v_hi and the sum is exact).
    # NULLs ride their own (k, NULL) count row so an all-NULL key still
    # yields a row with NULL exact, like F.median.
    from pyspark.sql import Window

    cnts = li.groupBy("k", "v").agg(F.count(F.lit(1)).alias("c"))
    nn_c = F.when(F.col("v").isNotNull(), F.col("c"))
    cum = cnts.withColumn(
        "cum",
        F.sum(F.coalesce(nn_c, F.lit(0))).over(
            Window.partitionBy("k")
            .orderBy(F.asc_nulls_last("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    nrows = cnts.groupBy("k").agg(F.sum(nn_c).alias("n"))
    exact = (
        cum.join(F.broadcast(nrows), "k")
        .groupBy("k")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n - 1) div 2 + 1"), F.col("v"))
            ).alias("v_lo"),
            F.min(
                F.when(F.col("cum") >= F.expr("n div 2 + 1"), F.col("v"))
            ).alias("v_hi"),
        )
        .select("k", (0.5 * F.col("v_lo") + 0.5 * F.col("v_hi")).alias("exact"))
    )
    return (
        est.join(exact, "k")
        .select(
            F.col("k").alias("l_returnflag"),
            F.round("q_est", 4).alias("est_p50"),
            F.round("exact", 4).alias("exact_p50"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_var_ddof",
    oracle="""
    SELECT l_linestatus,
           -- n <= ddof guards mirror the engine's F.when(n > ddof, ...):
           -- without them a small group flips var_d2 to a negative
           -- rescale (or -0.0) and std_d5's sqrt(-x) ABORTS in DuckDB
           round(CASE WHEN count(l_quantity) > 0
                      THEN var_pop(l_quantity) END, 6)           AS var_d0,
           round(CASE WHEN count(l_quantity) > 1
                      THEN var_pop(l_quantity) * count(l_quantity)
                           / (count(l_quantity) - 1) END, 6)     AS var_d1,
           round(CASE WHEN count(l_quantity) > 2
                      THEN var_pop(l_quantity) * count(l_quantity)
                           / (count(l_quantity) - 2) END, 6)     AS var_d2,
           round(CASE WHEN count(l_quantity) > 5
                      THEN sqrt(var_pop(l_quantity) * count(l_quantity)
                           / (count(l_quantity) - 5)) END, 6)    AS std_d5
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    doc="VARIANCE/STD with arbitrary ddof (aggregation.hpp "
    "make_variance_aggregation(ddof) - cudf accepts any ddof, Spark only "
    "0/1): rescale the population moment by n/(n-ddof); n<=ddof yields "
    "NULL like the reference. Stays on the built-in partial/merge M2 "
    "path (functions/stats.py).",
)
def agg_var_ddof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.stats import std_ddof, var_ddof

    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(var_ddof("l_quantity", 0), 6).alias("var_d0"),
            F.round(var_ddof("l_quantity", 1), 6).alias("var_d1"),
            F.round(var_ddof("l_quantity", 2), 6).alias("var_d2"),
            F.round(std_ddof("l_quantity", 5), 6).alias("std_d5"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "clean_winsorize",
    oracle="""
    WITH v AS (
        SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), hist AS (
        SELECT l_returnflag, cents, CAST(count(*) AS BIGINT) AS c
        FROM v GROUP BY l_returnflag, cents
    ), cum AS (
        SELECT l_returnflag, cents, c,
               CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY cents)
                    AS BIGINT) AS cum
        FROM hist
    ), th AS (
        -- linear-interpolation positions of q=0.05/0.95 on the cents
        -- lattice, held as exact integers: 0-indexed pos = q*(n-1) has
        -- denominator 20, so rank r = pos//1 + 1 and the fractional
        -- part g*20 are both integers
        SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n,
               (sum(c) - 1) // 20 + 1       AS r05,
               (sum(c) - 1) % 20            AS g05,
               (19 * (sum(c) - 1)) // 20 + 1 AS r95,
               (19 * (sum(c) - 1)) % 20      AS g95
        FROM hist GROUP BY l_returnflag
    ), bd AS (
        SELECT c.l_returnflag,
               min(CASE WHEN c.cum >= t.r05 THEN c.cents END)     AS a05,
               min(CASE WHEN c.cum >= t.r05 + 1 THEN c.cents END) AS b05,
               min(CASE WHEN c.cum >= t.r95 THEN c.cents END)     AS a95,
               min(CASE WHEN c.cum >= t.r95 + 1 THEN c.cents END) AS b95,
               min(t.g05) AS g05, min(t.g95) AS g95
        FROM cum c JOIN th t USING (l_returnflag) GROUP BY c.l_returnflag
    ), bounds AS (
        -- p = a + g*(b-a) in exact 20ths-of-cents
        SELECT l_returnflag,
               20 * a05 + g05 * (coalesce(b05, a05) - a05) AS p05_20,
               20 * a95 + g95 * (coalesce(b95, a95) - a95) AS p95_20
        FROM bd
    )
    SELECT l_orderkey, l_linenumber, l_returnflag, price,
           -- FLOOR division sign-safely: DuckDB // truncates toward
           -- zero, which would move an exact negative cent value (e.g.
           -- -0.55 -> -0.54); subtracting the non-negative pmod first
           -- makes w10 an exact multiple of 20, where trunc == floor
           CAST((w10 - ((w10 % 20) + 20) % 20) // 20 AS BIGINT) / 100.0
               AS winsorized,
           clamped
    FROM (
        SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
               round(l.l_extendedprice, 2) AS price,
               greatest(b.p05_20, least(b.p95_20, l.cents * 20)) + 10 AS w10,
               (l.cents * 20 < b.p05_20 OR l.cents * 20 > b.p95_20) AS clamped
        FROM v l JOIN bounds b USING (l_returnflag))
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="Per-group winsorization — the outlier-clamping cleanup a feature "
    "pipeline runs before training: exact linear-interpolated p05/p95 per "
    "group computed ENTIRELY on the integer cents lattice (position "
    "q*(n-1) has denominator 20, so the interpolated bound is an exact "
    "integer in 20ths-of-cents — the float-interpolated bounds this "
    "replaced made the `clamped` flag depend on float bit-parity between "
    "engine builds whenever a data value ties a bound, the "
    "agg_lorenz_curve_binned failure class), then an integer clamp. The "
    "bound machinery is a cents-histogram groupBy plus a group-KEYED "
    "cumsum window (never a global window) and a groups-sized bound "
    "table broadcast back onto the fact scan — one keyed aggregation "
    "plus one map-side join, no second shuffle of the fact table.",
)
def clean_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    hist = v.groupBy("l_returnflag", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wk = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wk).cast("bigint"))
    th = hist.groupBy("l_returnflag").agg(
        F.expr("(sum(c) - 1) div 20 + 1").alias("r05"),
        F.expr("(sum(c) - 1) % 20").alias("g05"),
        F.expr("(19 * (sum(c) - 1)) div 20 + 1").alias("r95"),
        F.expr("(19 * (sum(c) - 1)) % 20").alias("g95"),
    )
    bd = (
        cum.join(th, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("r05"), F.col("cents"))).alias("a05"),
            F.min(F.when(F.col("cum") >= F.col("r05") + 1, F.col("cents"))).alias("b05"),
            F.min(F.when(F.col("cum") >= F.col("r95"), F.col("cents"))).alias("a95"),
            F.min(F.when(F.col("cum") >= F.col("r95") + 1, F.col("cents"))).alias("b95"),
            F.min("g05").alias("g05"),
            F.min("g95").alias("g95"),
        )
    )
    bounds = bd.select(
        "l_returnflag",
        (
            20 * F.col("a05")
            + F.col("g05") * (F.coalesce("b05", "a05") - F.col("a05"))
        ).alias("p05_20"),
        (
            20 * F.col("a95")
            + F.col("g95") * (F.coalesce("b95", "a95") - F.col("a95"))
        ).alias("p95_20"),
    )
    c20 = F.col("cents") * 20
    win20 = F.greatest(F.col("p05_20"), F.least(F.col("p95_20"), c20))
    return (
        v.join(F.broadcast(bounds), "l_returnflag")
        .withColumn("win20", win20)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round(F.col("l_extendedprice"), 2).alias("price"),
            # half-up rounding of win20/20 to whole cents in pure integer
            # arithmetic, then ONE bigint->double division at the end.
            # FLOOR division, sign-safely: Spark `div` truncates toward
            # zero while the oracle's `//` floors — subtracting pmod
            # first makes the numerator an exact multiple of 20, where
            # the two agree for NEGATIVE values too (fixture prices are
            # positive, but a refund/credit feed is not; the
            # range_join_binned idiom)
            (
                F.expr(
                    "(win20 + 10 - pmod(win20 + 10, 20)) div 20"
                ).cast("bigint")
                / F.lit(100.0)
            ).alias("winsorized"),
            ((c20 < F.col("p05_20")) | (c20 > F.col("p95_20"))).alias("clamped"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "agg_cms_heavy_hitters",
    oracle=f"""
    WITH u AS (SELECT unnest({SQL_TOKS}) AS v FROM documents),
    exact AS (SELECT v, CAST(count(*) AS BIGINT) AS exact_cnt FROM u GROUP BY v),
    {cms_oracle_cells_sql()},
    top AS (
        SELECT v, exact_cnt, row_number() OVER (ORDER BY exact_cnt DESC, v) AS rk
        FROM exact QUALIFY rk <= 10),
    probe AS (
        SELECT top.v, top.exact_cnt, min(coalesce(cells.cnt, 0)) AS cms_est
        FROM top CROSS JOIN rows_
        LEFT JOIN cells ON cells.r = rows_.r
             AND cells.c = {cms_oracle_cell_sql('top.v')}
        GROUP BY 1, 2)
    SELECT v AS token, exact_cnt, cms_est
    FROM probe ORDER BY exact_cnt DESC, token
    """,
    doc="count-min heavy hitters (Cormode & Muthukrishnan 2005): build a "
    "4x1024 CMS over document tokens (operators/sketches.py:cms_build — "
    "one keyed count, sketch rows only persist/ship, exactly mergeable "
    "across runs), then estimate the true top-10 tokens' frequencies "
    "from the sketch next to their exact counts — the error envelope "
    "shown in-query like agg_sketch_merge. The estimate never "
    "underestimates; overshoot bounded by e*N/width per row with "
    "probability 1-e^-depth. The oracle's CMS replay comes from the "
    "shared cms_oracle_cells_sql fragment (single source with the "
    "streaming CMS query).",
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text, tokenize
    from cudf_spark.operators.sketches import cms_build, cms_estimate

    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokenize(normalize_text(F.col("text")))).alias("t"))
    tok = tok.localCheckpoint(eager=False)  # feeds both the sketch and the exact counts
    cms = cms_build(tok, [], "t")
    top = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "t")
        .limit(10)
    )
    est = cms_estimate(cms, top.select("t"), [], "t")
    return (
        top.join(est, "t")
        .select(F.col("t").alias("token"), "exact_cnt", F.col("est").alias("cms_est"))
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


@register(
    "agg_group_ols",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT)                          AS n,
               CAST(sum(hour(CAST(ts AS TIMESTAMP))) AS BIGINT)  AS sx,
               CAST(sum(hour(CAST(ts AS TIMESTAMP))
                        * hour(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sxx,
               sum(value)                                         AS sy,
               sum(hour(CAST(ts AS TIMESTAMP)) * value)           AS sxy
        FROM events GROUP BY event_type)
    SELECT event_type, n,
           -- degenerate group (all x equal) => denominator 0: NULL on
           -- BOTH engines (Spark ANSI mode would otherwise throw)
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(floor((n * sxy - sx * sy)
                                / (n * sxx - sx * sx) * 1000000) AS BIGINT)
           END AS beta_q6,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(floor((sy - (n * sxy - sx * sy)
                                      / (n * sxx - sx * sx) * sx) / n
                     * 1000000) AS BIGINT)
           END AS alpha_q6
    FROM s ORDER BY event_type
    """,
    doc="grouped closed-form OLS (value ~ hour-of-day per event_type): "
    "slope/intercept from the five classical sums — the groupby.corr/cov "
    "family (cudf groupby COVARIANCE/CORRELATION, aggregation.hpp) "
    "extended to the regression coefficients a reporting pipeline wants. "
    "ONE keyed groupBy computes all sums (map-side partial agg, "
    "skew-immune); integer x keeps Sx/Sxx exact; floor-quantized against "
    "sum-order ULP drift.",
)
def agg_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    x = F.hour("ts").cast("long")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum("value").alias("sy"),
        F.sum(x * F.col("value")).alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    alpha = (F.col("sy") - beta * F.col("sx")) / F.col("n")
    # degenerate group (all x equal) => denom 0: guard to NULL rather
    # than an ANSI DIVIDE_BY_ZERO crash (mirrors the oracle's CASE)
    return s.select(
        "event_type",
        "n",
        F.when(denom != 0, F.floor(beta * 1000000).cast("long")).alias("beta_q6"),
        F.when(denom != 0, F.floor(alpha * 1000000).cast("long")).alias("alpha_q6"),
    ).orderBy("event_type")


@register(
    "agg_equidepth_bins",
    oracle="""
    WITH t AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               ntile(8) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS tile
        FROM lineitem)
    SELECT l_returnflag, CAST(tile AS INT) AS tile,
           CAST(count(*) AS BIGINT) AS n,
           min(cents) AS lo_cents, max(cents) AS hi_cents
    FROM t GROUP BY l_returnflag, tile
    ORDER BY l_returnflag, tile
    """,
    doc="per-key equi-depth histogram (the statistics a range "
    "partitioner / OPTIMIZE-by-range writer consumes): ntile(8) within "
    "each l_returnflag partition — the window is PARTITIONED by the key "
    "so no global single-partition funnel (the global form of this "
    "query is what repartitionByRange's sampled boundaries replace at "
    "scale); bin edges in exact integer cents, deterministic full "
    "tie-break. Depth equality (n varies by at most 1 within a key) is "
    "visible in the output.",
)
def agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    t = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.ntile(8).over(w).alias("tile"),
    )
    return (
        t.groupBy("l_returnflag", F.col("tile").cast("int").alias("tile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("l_returnflag", "tile")
    )


@register(
    "agg_weighted_stats",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               sum(l_quantity * l_extendedprice)                  AS swx,
               sum(l_extendedprice)                               AS sw,
               sum(l_quantity * l_quantity * l_extendedprice)     AS swxx,
               CAST(count(*) AS BIGINT)                           AS n
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(floor(swx / sw * 1000000) AS BIGINT) AS wmean_q6,
           CAST(floor((swxx / sw - (swx / sw) * (swx / sw)) * 1000000) AS BIGINT)
               AS wvar_q6
    FROM s ORDER BY l_returnflag
    """,
    doc="price-weighted quantity statistics per return flag: weighted "
    "mean and weighted population variance from three sums in ONE keyed "
    "groupBy (the weighted-aggregate family pandas ships via np.average "
    "and cudf leaves to callers). Map-side partial agg, floor-quantized "
    "against fold-order drift.",
)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    x, w = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.sum(x * w).alias("swx"),
        F.sum(w).alias("sw"),
        F.sum(x * x * w).alias("swxx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    wmean = F.col("swx") / F.col("sw")
    wvar = F.col("swxx") / F.col("sw") - wmean * wmean
    return s.select(
        "l_returnflag",
        "n",
        F.floor(wmean * 1000000).cast("bigint").alias("wmean_q6"),
        F.floor(wvar * 1000000).cast("bigint").alias("wvar_q6"),
    ).orderBy("l_returnflag")


@register(
    "agg_bitmap_distinct",
    oracle="""
    WITH pos AS (
        SELECT event_type,
               user_id // 63 AS word,
               CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT) AS mask
        FROM events WHERE user_id >= 0),
    bm AS (
        SELECT event_type, word, bit_or(mask) AS bits
        FROM pos GROUP BY event_type, word),
    cnt AS (
        SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct,
               CAST(count(*) AS BIGINT) AS n_words
        FROM bm GROUP BY event_type),
    exact AS (
        -- same domain as the bitmap (which drops negative ids): without
        -- the filter a negative id would make `agrees` false and look
        -- like a sketch bug
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events WHERE user_id >= 0 GROUP BY event_type)
    SELECT c.event_type, c.n_distinct, c.n_words, e.n_exact,
           c.n_distinct = e.n_exact AS agrees
    FROM cnt c JOIN exact e ON c.event_type = e.event_type
    ORDER BY c.event_type
    """,
    doc="exact mergeable distinct-count bitmap (the roaring-bitmap "
    "aggregate ClickHouse/Iceberg expose; the EXACT counterpart of the "
    "HLL sketch): per-key 63-bit-word bitmaps via one keyed bit_or, "
    "distinct = sum of popcounts, losslessly OR-mergeable across runs "
    "(operators/sketches.py:bitmap_build/merge/count). The in-query "
    "cross-check against count(DISTINCT) proves exactness; n_words "
    "shows the state bound (max_id/63 words, only non-empty ones).",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.sketches import bitmap_build, bitmap_count

    ev = load(spark, sf_dir, "events")
    bm = bitmap_build(ev, ["event_type"], "user_id")
    cnt = bitmap_count(bm, ["event_type"]).join(
        bm.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_words")),
        "event_type",
    )
    exact = (
        ev.filter(F.col("user_id") >= 0)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        cnt.join(exact, "event_type")
        .select(
            "event_type",
            "n_distinct",
            "n_words",
            "n_exact",
            (F.col("n_distinct") == F.col("n_exact")).alias("agrees"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH t AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
    c AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
    r AS (
        SELECT l_returnflag, cents,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn
        FROM t),
    kept AS (
        -- trim n//10 from each tail; ties at the boundary don't matter:
        -- the kept MULTISET of values is rank-order independent
        SELECT r.l_returnflag, r.cents
        FROM r JOIN c USING (l_returnflag)
        WHERE r.rn > c.n // 10 AND r.rn <= c.n - c.n // 10)
    SELECT k.l_returnflag, c.n,
           CAST(count(*) AS BIGINT) AS n_kept,
           -- sum() is HUGEINT in DuckDB: the q6 scale-up cannot overflow
           -- and // stays true integer floor division (a DECIMAL cast
           -- here would ROUND to scale 0 before flooring — off by one
           -- whenever the true fraction is >= .5)
           CAST((sum(k.cents) * 10000) // count(*) AS BIGINT) AS trimmed_mean_q6
    FROM kept k JOIN c USING (l_returnflag)
    GROUP BY k.l_returnflag, c.n
    ORDER BY k.l_returnflag
    """,
    doc="10% two-sided trimmed mean per group (the robust-location "
    "aggregate reporting pipelines use when winsorize is too blunt — "
    "the rank-bounded cousin of the reference's MEAN/QUANTILE "
    "aggregation kinds, aggregation.hpp:72 + quantiles.hpp; "
    "scipy.stats.trim_mean semantics; complements clean_winsorize and "
    "events_anomaly_mad). Entirely on "
    "the integer cents lattice: the kept tail-trimmed multiset is "
    "rank-order independent, BIGINT sums are fold-order independent, "
    "and the mean is exact integer division — bit-identical cross-engine "
    "with zero float ops. Plan: one keyed count + one per-key window "
    "rank + keyed joins; no global sort. The q6 scale-up runs in "
    "DECIMAL(38,0): at ~5e6 cents/row, BIGINT sum(cents)*10000 would "
    "overflow near ~1.7e8 rows per group (lineitem SF~100) — far below "
    "100 TB.",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    c = t.groupBy("l_returnflag").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = t.withColumn(
        "rn", F.row_number().over(Window.partitionBy("l_returnflag").orderBy("cents"))
    )
    kept = r.join(c, "l_returnflag").filter(
        (F.col("rn") > F.expr("n div 10")) & (F.col("rn") <= F.expr("n - n div 10"))
    )
    return (
        kept.groupBy("l_returnflag", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            # DECIMAL(38,0) intermediate: BIGINT sum(cents)*10000
            # overflows near ~1.7e8 rows/group (ANSI abort; DuckDB's
            # HUGEINT sum is immune, so the engines would also split)
            F.expr(
                "(CAST(sum(cents) AS DECIMAL(38,0)) * 10000) DIV count(*)"
            )
            .cast("bigint")
            .alias("trimmed_mean_q6"),
        )
        .select("l_returnflag", "n", "n_kept", "trimmed_mean_q6")
        .orderBy("l_returnflag")
    )


@register(
    "agg_hll_error_envelope",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="HLL accuracy envelope under the HASH gate: the estimate itself "
    "is engine-specific (Spark HLL++ vs anything DuckDB would compute), "
    "so the contract-checkable output is the exact count plus the "
    "IN-QUERY assertion |hll - exact| <= 5%% of exact, computed on the "
    "Spark side with rsd=0.01 (the bound is 5 sigma — if HLL++ ever "
    "drifts past it on this deterministic data the query goes red "
    "instead of silently lying). Converts the approx-distinct family "
    "from a rows-only check into a hash-verified accuracy claim, the "
    "same pattern as dedup_minhash_estimate/ann_ivf_recall. Exact side "
    "is one keyed distinct; the HLL side is the map-side-mergeable "
    "sketch you'd actually ship at 100 TB.",
)
def agg_hll_error_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("hll"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("hll") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )
