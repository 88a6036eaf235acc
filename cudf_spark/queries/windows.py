"""Window-function coverage — the reference's rolling/ranking/analytic
surface (cpp/src/rolling/, cpp/include/cudf/rolling.hpp; RANK/ROW_NUMBER/
LEAD/LAG/NTH_ELEMENT aggregation kinds; grouped scans groupby.hpp:237 and
grouped replace_nulls groupby.hpp:367).

Determinism rules (Spark has no implicit row order, SURVEY §7):
- row_number/ntile only over totally-ordered keys (tie-broken by a unique
  column);
- rank/dense_rank/percent_rank/cume_dist may see ties (they're functions
  of the order *values*, so still deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.operators.windows import ewma, rolling_agg
from cudf_spark.queries.registry import register


@register(
    "win_row_number_ntile",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           row_number() OVER w AS rn,
           ntile(4)     OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    QUALIFY rn <= 50
    ORDER BY c_mktsegment, rn
    """,
    doc="ROW_NUMBER + NTILE over a totally-ordered window.",
)
def win_row_number_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 50)
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "win_rank_ties",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT) DESC)
    ORDER BY c_mktsegment, c_custkey
    """,
    doc="RANK family with ties (cudf::rank, sorting.hpp:222; rank methods "
    "min/dense → rank/dense_rank).",
)
def win_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000).cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy(bucket.desc())
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    ).orderBy("c_mktsegment", "c_custkey")


@register(
    "win_lead_lag",
    oracle="""
    SELECT event_id, user_id,
           round(value, 4)                         AS value,
           round(lag(value)  OVER w, 4)            AS prev_value,
           round(lead(value) OVER w, 4)            AS next_value,
           round(value - lag(value) OVER w, 4)     AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
    doc="LEAD/LAG kinds + grouped shift/diff (groupby.hpp:293).",
)
def win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    ).orderBy("event_id")


@register(
    "win_rolling_rows",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(avg(l_quantity) OVER w, 4) AS avg_qty_4,
           round(sum(l_quantity) OVER w, 2) AS sum_qty_4,
           round(min(l_quantity) OVER w, 2) AS min_qty_4,
           round(max(l_quantity) OVER w, 2) AS max_qty_4,
           CASE WHEN count(l_quantity) OVER w >= 2
                THEN round(avg(l_quantity) OVER w, 4) END AS avg_minp2
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    doc="Fixed rolling window with min_periods null semantics "
    "(rolling.hpp:194, window_bounds:126).",
)
def win_rolling_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # full unique order: (shipdate, orderkey, linenumber) ties at sf>=0.1
    part, order = ["l_suppkey"], ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"]
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(rolling_agg("l_quantity", "avg", part, order, 3), 4).alias("avg_qty_4"),
        F.round(rolling_agg("l_quantity", "sum", part, order, 3), 2).alias("sum_qty_4"),
        F.round(rolling_agg("l_quantity", "min", part, order, 3), 2).alias("min_qty_4"),
        F.round(rolling_agg("l_quantity", "max", part, order, 3), 2).alias("max_qty_4"),
        F.round(rolling_agg("l_quantity", "avg", part, order, 3, min_periods=2), 4).alias("avg_minp2"),
    )
    # No trailing global orderBy: on a per-row (full-table) result it adds a
    # range exchange whose sampling pass evaluates the window subtree twice,
    # and a 100 TB global sort besides — the comparator sorts rows itself.


@register(
    "win_range_time",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER w, 4) AS sum_1h,
           count(*)         OVER w     AS n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    doc="Grouped range (time-based) rolling window "
    "(grouped_range_rolling_window, rolling.hpp:563) — RANGE frame over "
    "microsecond epoch.",
)
def win_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
        F.count("*").over(w).alias("n_1h"),
    ).orderBy("event_id")


@register(
    "win_grouped_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           round(sum(l_quantity) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_qty,
           round(sum(l_quantity) OVER (PARTITION BY l_orderkey), 2)    AS total_qty,
           round(l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey), 6) AS qty_share
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
    """,
    doc="Grouped cumulative scan (groupby.hpp:237 scan) + share-of-group.",
)
def win_grouped_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures — partkey +
    # suppkey complete the deterministic scan order (SURVEY §7 hard-part 1).
    wcum = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.round(F.sum("l_quantity").over(wcum), 2).alias("cum_qty"),
        F.round(F.sum("l_quantity").over(wall), 2).alias("total_qty"),
        F.round(F.col("l_quantity") / F.sum("l_quantity").over(wall), 6).alias("qty_share"),
    ).orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")


@register(
    "win_fill_null",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 4) END AS v
        FROM events
    )
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
           first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
    FROM e
    ORDER BY event_id
    """,
    doc="Grouped replace_nulls ffill/bfill (groupby.hpp:367; replace.hpp:48 "
    "replace_policy) — last/first ignorenulls over one-sided frames.",
)
def win_fill_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    # when(== 'error', NULL).otherwise(...) — NOT when(!= 'error', ...):
    # the negated form also nulls rows whose event_type IS NULL, which
    # the oracle's CASE ... ELSE keeps (fixtures have no NULL types
    # today, but null-injection runs would split the engines)
    e = load(spark, sf_dir, "events").withColumn(
        "v",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.round("value", 4)
        ),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(fwd).alias("ffill"),
        F.first("v", ignorenulls=True).over(bwd).alias("bfill"),
    ).orderBy("event_id")


@register(
    "win_first_last_nth",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           first_value(c_name) OVER w AS seg_richest,
           last_value(c_name)  OVER w AS seg_poorest,
           nth_value(c_name, 2) OVER w AS seg_second
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY c_mktsegment, c_custkey
    """,
    doc="NTH_ELEMENT / first / last over the whole partition frame.",
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.first("c_name").over(w).alias("seg_richest"),
        F.last("c_name").over(w).alias("seg_poorest"),
        F.nth_value("c_name", 2).over(w).alias("seg_second"),
    ).orderBy("c_mktsegment", "c_custkey")


@register(
    "topk_per_group",
    oracle="""
    SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    QUALIFY row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) <= 3
    ORDER BY n_name, acctbal DESC, c_custkey
    """,
    doc="Segmented top-k (cudf sorting.hpp:455 segmented top_k) — window "
    "row_number <= k; global top-k is orderBy+limit (TakeOrderedAndProject).",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("n_name", F.desc("acctbal"), "c_custkey")
    )


@register(
    "ewma_per_user",
    # ROUND 10: engine moved from the applyInPandas grouped map to the
    # pure-JVM block scan (operators/windows.py:ewma_grouped_scan — no
    # Python workers; 4.79 -> ~2.4 s at sf0.1), so the oracle moved with
    # it from the pandas-kernel recursive-CTE replay to the SAME
    # closed-form block algebra the ewma_global_segmented oracle uses,
    # partitioned by user: within-block scaled cumsum (block = 256 rows;
    # 0.7^-255 is far inside double range), block-final carries composed
    # pairwise, geometric denominator. Values are mathematically
    # identical to the old recursion; round(,4) absorbs the fold-order
    # ULPs exactly as it does for the global query.
    oracle="""
    WITH r AS (
        -- NULL values are excluded on BOTH engines (pandas ewm skips NaN)
        SELECT user_id, event_id, value AS x,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1 AS i
        FROM events WHERE value IS NOT NULL),
    blk AS (
        SELECT user_id, event_id, x, i, i // 256 AS b, i % 256 AS p FROM r),
    loc AS (
        SELECT user_id, event_id, i, b, p,
               power(0.7, p) * sum(x * power(0.7, -p))
                   OVER (PARTITION BY user_id, b ORDER BY p) AS l
        FROM blk),
    fin AS (
        SELECT user_id, b, power(0.7, max(p)) * sum(x * power(0.7, -p)) AS f
        FROM blk GROUP BY user_id, b),
    carry AS (
        SELECT bb.user_id, bb.b,
               coalesce(sum(f.f * power(0.7, 256 * (bb.b - f.b - 1))), 0.0)
                   AS c
        FROM (SELECT DISTINCT user_id, b FROM blk) bb
        LEFT JOIN fin f ON f.user_id = bb.user_id AND f.b < bb.b
        GROUP BY bb.user_id, bb.b)
    SELECT loc.event_id, loc.user_id,
           round((loc.l + power(0.7, loc.p + 1) * carry.c)
                 / ((1.0 - power(0.7, loc.i + 1)) / 0.3), 4) AS ewma
    FROM loc JOIN carry ON carry.user_id = loc.user_id AND carry.b = loc.b
    ORDER BY loc.event_id
    """,
    doc="EWMA aggregation kind (aggregation.hpp:100), per-user — pure-JVM "
    "block-composed scan (operators/windows.py:ewma_grouped_scan, the "
    "grouped sibling of the segmented operator; pandas ewm adjust=True "
    "semantics verified to rtol 1e-9 against pandas on 60k rows x both "
    "adjust modes in tests/test_operators.py). No Python workers; "
    "whole-stage-codegen windows + one keyed join. Oracle: the identical "
    "closed-form block algebra in DuckDB SQL (the r5 recursive-CTE "
    "pandas-kernel replay is superseded — same values, non-recursive).",
)
def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.windows import ewma_grouped_scan

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())  # mirror the oracle's domain
        .select("event_id", "user_id", "ts", "value")
    )
    return (
        ewma_grouped_scan(e, ["user_id"], ["ts", "event_id"], "value", alpha=0.3)
        .select("event_id", "user_id", F.round("ewma", 4).alias("ewma"))
        .orderBy("event_id")
    )


@register(
    "ewma_global_segmented",
    # UPGRADED from rows-only in round 6: the per-user recursive-CTE
    # replay does not scale to ONE global 10k-row sequence (DuckDB
    # advances the working table one row per iteration and rescans the
    # input each time — measured 38 s at sf0.01), but the ENGINE side
    # is the closed-form segmented scan (N_t/W_t with scaled cumsums),
    # so the oracle uses the same math non-recursively: a within-block
    # scaled cumsum (block = 256 rows, so beta^-255 stays far inside
    # double range), block-final carries composed pairwise (nblocks^2
    # terms, trivial), and the closed-form geometric denominator.
    # Verified row-identical to the engine at sf0.001/0.01/0.1 after the
    # shared round(4).
    oracle="""
    WITH r AS (
        SELECT event_id, CAST(value AS DOUBLE) AS x,
               row_number() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   - 1 AS i
        FROM events WHERE value IS NOT NULL
    ), blk AS (
        SELECT event_id, x, i, i // 256 AS b, i % 256 AS p FROM r
    ), loc AS (
        SELECT event_id, x, i, b, p,
               power(0.7, p) * sum(x * power(0.7, -p))
                   OVER (PARTITION BY b ORDER BY p) AS l
        FROM blk
    ), fin AS (
        SELECT b, power(0.7, max(p)) * sum(x * power(0.7, -p)) AS f
        FROM blk GROUP BY b
    ), carry AS (
        SELECT bb.b,
               coalesce(sum(f.f * power(0.7, 256 * (bb.b - f.b - 1))), 0.0)
                   AS c
        FROM (SELECT DISTINCT b FROM blk) bb
        LEFT JOIN fin f ON f.b < bb.b GROUP BY bb.b
    )
    SELECT loc.event_id,
           round((loc.l + power(0.7, loc.p + 1) * carry.c)
                 / ((1.0 - power(0.7, loc.i + 1)) / 0.3), 4) AS ewma
    FROM loc JOIN carry ON carry.b = loc.b
    ORDER BY loc.event_id
    """,
    doc="Ungrouped/giant-group EWMA via pure-JVM three-level scan "
    "(operators/windows.py::ewma_segmented): 32 equi-width buckets on "
    "the ts range, so every output bit is the same on any cluster layout; "
    "keyed windows, fixed-L block scaled cumsums, exactly-truncated lag "
    "composition of block carries, one driver-composed summary row per "
    "bucket. No executor holds the whole sequence; pandas ewm semantics, "
    "adjust=True (verified to rtol 1e-9 against pandas on 1M rows in "
    "tests/test_operators.py).",
)
def ewma_global_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.windows import ewma_segmented

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())  # mirror the oracle's domain
        .select("event_id", "ts", "value")
    )
    return (
        ewma_segmented(e, ["ts", "event_id"], "value", alpha=0.3)
        .select("event_id", F.round("ewma", 4).alias("ewma"))
        .orderBy("event_id")
    )


@register(
    "win_rank_methods",
    oracle="""
    WITH b AS (
        SELECT c_custkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket
        FROM customer
    )
    SELECT c_custkey,
           rank()       OVER w                                    AS rank_min,
           dense_rank() OVER w                                    AS rank_dense,
           round((2.0 * rank() OVER w + count(*) OVER wp - 1) / 2, 1) AS rank_avg,
           rank() OVER w + count(*) OVER wp - 1                   AS rank_max
    FROM b
    WINDOW w  AS (PARTITION BY c_mktsegment ORDER BY bucket DESC),
           wp AS (PARTITION BY c_mktsegment, bucket)
    ORDER BY c_custkey
    """,
    doc="rank methods beyond SQL (cudf::rank sorting.hpp:222: "
    "average/max) — composed as rank + tie-group count: "
    "avg = (2*min_rank + ties - 1)/2, max = min_rank + ties - 1.",
)
def win_rank_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").withColumn(
        "bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("bucket"))
    wp = Window.partitionBy("c_mktsegment", "bucket")
    rank_min = F.rank().over(w)
    ties = F.count("*").over(wp)
    return c.select(
        "c_custkey",
        rank_min.alias("rank_min"),
        F.dense_rank().over(w).alias("rank_dense"),
        F.round((2.0 * rank_min + ties - 1) / 2, 1).alias("rank_avg"),
        (rank_min + ties - 1).alias("rank_max"),
    ).orderBy("c_custkey")


@register(
    "win_variable_offset",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ord, value,
               CASE event_type WHEN 'click' THEN 600 WHEN 'view' THEN 300
                               ELSE 120 END * 1000000::BIGINT AS prec,
               CASE event_type WHEN 'error' THEN 900 ELSE 60
                               END * 1000000::BIGINT AS foll
        FROM events)
    SELECT l.event_id,
           CAST(count(*) AS BIGINT)        AS n_in_window,
           round(sum(r.value), 4)          AS sum_value,
           round(min(r.value), 4)          AS min_value,
           round(max(r.value), 4)          AS max_value
    FROM e l JOIN e r
      ON l.user_id = r.user_id
     AND r.ord BETWEEN l.ord - l.prec AND l.ord + l.foll
    GROUP BY l.event_id
    ORDER BY l.event_id
    """,
    doc="Variable windows from offset columns (cudf rolling.hpp:194 "
    "overload — per-row preceding/following bounds, here derived from "
    "event_type): bounded range self-join + per-row aggregate; closes "
    "SURVEY §2.5's last unimplemented row.",
)
def win_variable_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.windows import variable_rolling_agg

    e = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros("ts").alias("ord"),
        (
            F.when(F.col("event_type") == "click", 600)
            .when(F.col("event_type") == "view", 300)
            .otherwise(120)
            .cast("bigint")
            * 1000000
        ).alias("prec"),
        (
            F.when(F.col("event_type") == "error", 900).otherwise(60).cast("bigint")
            * 1000000
        ).alias("foll"),
    )
    out = variable_rolling_agg(
        e,
        key_cols=["user_id"],
        order_col="ord",
        preceding_col="prec",
        following_col="foll",
        value_col="value",
        row_id="event_id",
    )
    return out.select(
        "event_id",
        "n_in_window",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    ).orderBy("event_id")


@register(
    "win_rolling_median",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, value,
               median(value) OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med,
               count(value) OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_win
        FROM events)
    SELECT event_id, user_id,
           CASE WHEN n_win >= 3 THEN round(med, 6) END AS med5,
           CAST(n_win AS INT) AS n_win
    FROM w ORDER BY event_id
    """,
    doc="rolling MEDIAN over a 5-row frame with min_periods=3 (cudf "
    "rolling supports MEDIAN — rolling.hpp; Spark windows have no "
    "percentile, so the frame collects into a <=5-element array and "
    "picks/interpolates the middle — bounded by the FRAME size, not by "
    "group size, so it is not the collect_list hazard). Nulls below "
    "min_periods, even-count interpolation matching DuckDB/pandas.",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.windows import rolling_median

    ev = load(spark, sf_dir, "events")
    med = rolling_median(
        "value", ["user_id"], [F.col("ts"), F.col("event_id")], 4, min_periods=3
    )
    n_win = F.count("value").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(med, 6).alias("med5"),
        n_win.cast("int").alias("n_win"),
    ).orderBy("event_id")


@register(
    "group_head_tail",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
        FROM events)
    SELECT user_id, event_id,
           CASE WHEN rn_a <= 2 THEN 'head' ELSE 'tail' END AS part,
           CAST(CASE WHEN rn_a <= 2 THEN rn_a ELSE rn_d END AS INT) AS n
    FROM ranked
    WHERE rn_a <= 2 OR rn_d <= 2
    ORDER BY user_id, event_id
    """,
    doc="GroupBy.head(2) + GroupBy.tail(2) (pandas/cudf GroupBy API; "
    "cudf groupby nth/head/tail): both ends of each user's timeline via "
    "two partitioned row_numbers over ONE shuffle's worth of "
    "partitioning — rows in both (short groups) tag as head, matching "
    "the pandas dedup behavior.",
)
def group_head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wa = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = ev.select(
        "user_id",
        "event_id",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        r.filter((F.col("rn_a") <= 2) | (F.col("rn_d") <= 2))
        .select(
            "user_id",
            "event_id",
            F.when(F.col("rn_a") <= 2, "head").otherwise("tail").alias("part"),
            F.when(F.col("rn_a") <= 2, F.col("rn_a"))
            .otherwise(F.col("rn_d"))
            .cast("int")
            .alias("n"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "win_pct_change",
    oracle="""
    WITH t AS (
        SELECT user_id, event_id, value,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        FROM events)
    SELECT user_id, event_id,
           CAST(CASE WHEN prev IS NOT NULL AND prev != 0
                     THEN floor((value / prev - 1.0) * 1000000) END AS BIGINT)
               AS pct_chg_q6
    FROM t ORDER BY user_id, event_id
    """,
    doc="Series.pct_change within groups (pandas/cudf API; grouped shift "
    "+ elementwise ratio): lag over the user timeline, NULL for the "
    "first row and zero denominators, floor-quantized ratio (one exact "
    "double division — no fold-order hazard).",
)
def win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    pct = F.when(
        prev.isNotNull() & (prev != 0),
        F.floor((F.col("value") / prev - 1.0) * 1000000),
    ).cast("bigint")
    return ev.select(
        "user_id", "event_id", pct.alias("pct_chg_q6")
    ).orderBy("user_id", "event_id")


@register(
    "win_cumulative_distinct",
    oracle="""
    WITH firsts AS (
        SELECT event_type, user_id,
               min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
        FROM events GROUP BY event_type, user_id),
    daily AS (
        SELECT event_type, first_day AS d,
               CAST(count(*) AS BIGINT) AS new_users
        FROM firsts GROUP BY event_type, first_day)
    SELECT event_type, d, new_users,
           CAST(sum(new_users) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS distinct_to_date
    FROM daily ORDER BY event_type, d
    """,
    doc="running DISTINCT count (unique users to date per event type) — "
    "window functions have no count(DISTINCT), so the standard rewrite: "
    "mark each user's FIRST day (one keyed min), count first "
    "occurrences per day (one keyed count), cumulative-sum over the "
    "day-grain frame. Both windows are partitioned by the key and the "
    "cumsum runs over the DAY table (bounded rows), never the raw "
    "events — the growth-accounting query every product warehouse runs.",
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy("event_type", F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("distinct_to_date"),
    ).orderBy("event_type", "d")


@register(
    "win_rolling_corr_exact",
    oracle="""
    WITH t AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
               CAST(round(l_quantity) AS BIGINT)             AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT)  AS y,
               l_shipdate
        FROM lineitem WHERE l_suppkey <= 400),
    w AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               row_number() OVER win AS rn,
               sum(x)     OVER win AS sx,
               sum(y)     OVER win AS sy,
               sum(x * x) OVER win AS sxx,
               sum(y * y) OVER win AS syy,
               sum(x * y) OVER win AS sxy
        FROM t
        -- l_partkey completes the total order: the TPC-H-ish fixture
        -- DOES collide on (orderkey, linenumber) — sf0.1 has a real
        -- same-(suppkey, shipdate, orderkey, linenumber) pair — and an
        -- ambiguous ROWS frame is engine-dependent (win_rolling_rows'
        -- established tie-break)
        WINDOW win AS (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN (5 * sxx - sx * sx) = 0 OR (5 * syy - sy * sy) = 0
                THEN NULL
                ELSE CAST(floor(
                    CAST(5 * sxy - sx * sy AS DOUBLE)
                    / (sqrt(CAST(5 * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(5 * syy - sy * sy AS DOUBLE)))
                    * 1000000) AS BIGINT)
           END AS corr_q6
    FROM w WHERE rn >= 5
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    doc="rolling Pearson correlation (quantity vs price cents, 5-row "
    "frame per supplier) — the cudf Rolling.corr / rolling COLLECT+"
    "COVARIANCE surface (rolling.hpp; aggregation.hpp CORRELATION) as a "
    "window op. EXACT by construction: both series live on integer "
    "lattices, so all five frame sums are BIGINT (integer addition is "
    "fold-order independent), the two variance terms get separate IEEE "
    "sqrts (exact-rounded — their product stays in double range where "
    "d1*d2 would overflow BIGINT), and the final floor acts on doubles "
    "that are bit-identical cross-engine. min_periods=5 via rn >= 5; "
    "zero-variance frames are NULL on both engines. One keyed window "
    "sort, no global sort (suppkey filter keeps the fixture output "
    "bounded; the plan is per-key at any scale).",
)
def win_rolling_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 400)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round("l_quantity", 0).cast("bigint").alias("x"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
            "l_shipdate",
        )
    )
    # l_partkey completes the total order — the fixture collides on
    # (orderkey, linenumber); see the oracle comment
    win = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey")
        .rowsBetween(-4, 0)
    )
    seq = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"
    )
    w = t.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(seq).alias("rn"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
    )
    d1 = 5 * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = 5 * F.col("syy") - F.col("sy") * F.col("sy")
    num = (5 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    corr = num / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double")))
    return (
        w.filter(F.col("rn") >= 5)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.when((d1 != 0) & (d2 != 0), F.floor(corr * 1000000).cast("bigint")).alias(
                "corr_q6"
            ),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )
