"""Analytics, part 4 — round-5 continuation: privacy auditing, heavy-tail
diagnostics, and causal-inference heads.

- ``dq_k_anonymity``: the privacy-risk audit (Sweeney 2002 k-anonymity +
  Machanavajjhala 2007 l-diversity) over quasi-identifier groups —
  every count is an exact integer; risk thresholds k<5 / l<3 are the
  conventional re-identification fences.

- ``stats_hill_tail_index``: Hill estimator of the power-law tail
  exponent over the per-user activity distribution — the heavy-tail
  diagnostic that decides whether mean-based capacity planning is even
  valid. Order statistics by exact rank; per-item log terms are
  log2-based (the cross-engine-proven log) scaled by ln 2 as a literal
  double and nano-quantized at ITEM grain so the sum is order-free.

- ``events_did_estimator``: difference-in-differences on the 2x2
  (treated x post) design with exact cent moments per cell and a
  pooled independent-means standard error in one identical double
  expression — the experimentation head beside stats_ab_welch_t and
  stats_ratio_delta_method.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.multimodal import audio_frame_energies, encode_fake_audio
from cudf_spark.operators.graphs import co_occurrence_edges
from cudf_spark.queries.registry import register
from cudf_spark.queries.text import _lang_scores_sql


@register(
    "dq_k_anonymity",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(round(value) AS BIGINT) // 10 AS vb,
               user_id
        FROM events
    ), grp AS (
        SELECT event_type, day, vb,
               CAST(count(*) AS BIGINT) AS k,
               CAST(count(DISTINCT user_id) AS BIGINT) AS l
        FROM q GROUP BY event_type, day, vb
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
               AS rows_at_k_risk,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_low_l
    FROM grp GROUP BY event_type ORDER BY event_type
    """,
    doc="k-anonymity / l-diversity privacy audit: quasi-identifier "
    "groups (event_type, day, value decile) scored by group size k and "
    "sensitive-attribute diversity l (distinct users); rows in groups "
    "with k < 5 are re-identifiable under the conventional fence, "
    "groups with l < 3 leak the sensitive value by elimination. One "
    "QI-keyed groupBy is the data pass; the audit is group grain. The "
    "release-gate check every anonymized-export pipeline runs.",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("CAST(round(value) AS BIGINT) div 10").alias("vb"),
        "user_id",
    )
    grp = q.groupBy("event_type", "day", "vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.countDistinct("user_id").cast("bigint").alias("l"),
    )
    return (
        grp.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_rows"),
            F.min("k").cast("bigint").alias("min_k"),
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_k_risk"),
            F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
            .cast("bigint")
            .alias("groups_low_l"),
        )
        .orderBy("event_type")
    )


_LN2 = 0.6931471805599453


@register(
    "stats_hill_tail_index",
    oracle=f"""
    WITH cnts AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ), ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rn,
               CAST((SELECT count(*) FROM cnts) AS BIGINT) AS n
        FROM cnts
    ), kk AS (
        SELECT least(100, n // 2) AS k, n FROM ranked LIMIT 1
    ), xmin AS (
        SELECT r.c AS xm FROM ranked r, kk WHERE r.rn = kk.k
    ), terms AS (
        SELECT CAST(floor(1000000000.0
                   * log2(CAST(r.c AS DOUBLE) / CAST(x.xm AS DOUBLE))
                   * {_LN2}) AS BIGINT) AS t9
        FROM ranked r, kk, xmin x
        WHERE r.rn < kk.k
    )
    SELECT kk.k, kk.n AS n_users, x.xm AS x_min,
           CAST(sum(t.t9) AS BIGINT) AS sum_ln_n9,
           CASE WHEN sum(t.t9) > 0
                THEN CAST((kk.k - 1) * 1000000000000000 // sum(t.t9)
                          AS BIGINT) END AS alpha_q6
    FROM terms t, kk, xmin x
    GROUP BY kk.k, kk.n, x.xm
    """,
    doc="Hill estimator of the power-law tail index over per-user "
    "activity counts (Hill 1975): alpha = (k-1) / sum ln(x_i/x_k) over "
    "the top-k order statistics (k = min(100, n/2), exact rank with "
    "user tiebreak). Log terms use log2 (the engine-proven log) scaled "
    "by ln2 as a shared double literal, nano-quantized at item grain "
    "so the sum is an order-free BIGINT; alpha by truncating integer "
    "division, NULL when the top-k plateau is flat (sum 0). User-grain "
    "count is the only data pass; k <= 100 so the panel is fetched with "
    "orderBy().limit(100) — TakeOrderedAndProject, a bounded per-"
    "partition heap + single merge, never a global sort — and the rank "
    "window runs on the <=100-row panel (already single-partition, no "
    "exchange); n comes from a separate merge agg.",
)
def stats_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cnts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = cnts.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # k = min(100, n div 2) <= 100, so every rank the estimator touches
    # (rn < k for the terms, rn == k for x_min) lives in the top-100
    # panel. TakeOrderedAndProject keeps a 100-row heap per partition and
    # merges once — no Exchange SinglePartition over the user table —
    # and the panel's output partitioning IS SinglePartition, so the
    # row_number window below plans with no exchange at all.
    panel = cnts.orderBy(F.desc("c"), "user_id").limit(100)
    rw = Window.orderBy(F.desc("c"), "user_id")
    ranked = panel.withColumn("rn", F.row_number().over(rw).cast("bigint"))
    kk = n.select(
        F.least(F.lit(100), F.expr("n div 2")).cast("bigint").alias("k"), "n"
    )
    xmin = ranked.crossJoin(F.broadcast(kk.select("k"))).filter(
        F.col("rn") == F.col("k")
    ).select(F.col("c").alias("xm"))
    t9 = F.floor(
        1000000000.0
        * F.log2(F.col("c").cast("double") / F.col("xm").cast("double"))
        * _LN2
    ).cast("bigint")
    terms = (
        ranked.crossJoin(F.broadcast(kk.select("k")))
        .crossJoin(F.broadcast(xmin))
        .filter(F.col("rn") < F.col("k"))
        .select(t9.alias("t9"))
    )
    return (
        terms.agg(F.sum("t9").cast("bigint").alias("sum_ln_n9"))
        .crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(xmin))
        .select(
            "k",
            F.col("n").alias("n_users"),
            F.col("xm").alias("x_min"),
            "sum_ln_n9",
            F.when(
                F.col("sum_ln_n9") > 0,
                F.expr("(k - 1) * 1000000000000000 div sum_ln_n9"),
            )
            .cast("bigint")
            .alias("alpha_q6"),
        )
    )


@register(
    "events_did_estimator",
    oracle="""
    WITH cells AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS treated,
               CASE WHEN day(CAST(ts AS TIMESTAMP)) >= 16 THEN 1 ELSE 0 END
                   AS post,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), m AS (
        SELECT treated, post,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS ss
        FROM cells GROUP BY treated, post
    ), wide AS (
        SELECT
            max(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s11,
            max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n11,
            max(CASE WHEN treated = 1 AND post = 1 THEN ss END) AS ss11,
            max(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s10,
            max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n10,
            max(CASE WHEN treated = 1 AND post = 0 THEN ss END) AS ss10,
            max(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s01,
            max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n01,
            max(CASE WHEN treated = 0 AND post = 1 THEN ss END) AS ss01,
            max(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s00,
            max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n00,
            max(CASE WHEN treated = 0 AND post = 0 THEN ss END) AS ss00
        FROM m
    )
    SELECT CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n_events,
           CAST(floor(CAST(s11 AS DOUBLE) / n11
                      - CAST(s10 AS DOUBLE) / n10
                      - CAST(s01 AS DOUBLE) / n01
                      + CAST(s00 AS DOUBLE) / n00) AS BIGINT) AS did_cents,
           CAST(floor(1000000.0 * sqrt(
                 (CAST(ss11 AS DOUBLE) / n11
                  - (CAST(s11 AS DOUBLE) / n11) * (CAST(s11 AS DOUBLE) / n11))
                     / n11
               + (CAST(ss10 AS DOUBLE) / n10
                  - (CAST(s10 AS DOUBLE) / n10) * (CAST(s10 AS DOUBLE) / n10))
                     / n10
               + (CAST(ss01 AS DOUBLE) / n01
                  - (CAST(s01 AS DOUBLE) / n01) * (CAST(s01 AS DOUBLE) / n01))
                     / n01
               + (CAST(ss00 AS DOUBLE) / n00
                  - (CAST(s00 AS DOUBLE) / n00) * (CAST(s00 AS DOUBLE) / n00))
                     / n00)) AS BIGINT) AS se_cents_q6
    FROM wide
    """,
    doc="difference-in-differences estimator on the 2x2 treated x post "
    "design (Card & Krueger's workhorse; treated = user parity, post = "
    "second half of the month — deterministic assignment for the "
    "gate): DiD = (T,post) - (T,pre) - (C,post) + (C,pre) on cell "
    "means from exact cent moments, pooled independent-means SE via "
    "the per-cell population variances in ONE identical double "
    "expression. One groupBy over 4 cells is the data pass. The "
    "pre-trend causal head beside stats_ab_welch_t.",
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = ev.select(
        (F.col("user_id") % 2).cast("bigint").alias("treated"),
        F.when(F.dayofmonth("ts") >= 16, 1).otherwise(0).alias("post"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    m = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )

    def cell(t, p, c):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(c))
        ).alias(f"{c}{t}{p}")

    wide = m.agg(
        *[cell(t, p, c) for t in (1, 0) for p in (1, 0) for c in ("s", "n", "ss")]
    )
    d = lambda c: F.col(c).cast("double")

    def mean(t, p):
        return d(f"s{t}{p}") / F.col(f"n{t}{p}")

    def varterm(t, p):
        mu = mean(t, p)
        return (d(f"ss{t}{p}") / F.col(f"n{t}{p}") - mu * mu) / F.col(f"n{t}{p}")

    did = F.floor(mean(1, 1) - mean(1, 0) - mean(0, 1) + mean(0, 0)).cast("bigint")
    se = F.floor(
        1000000.0
        * F.sqrt(varterm(1, 1) + varterm(1, 0) + varterm(0, 1) + varterm(0, 0))
    ).cast("bigint")
    return wide.select(
        (F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00"))
        .cast("bigint")
        .alias("n_events"),
        did.alias("did_cents"),
        se.alias("se_cents_q6"),
    )


@register(
    "ts_pinball_loss_eval",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), split AS (
        SELECT event_type,
               CAST(min(day) + CAST((max(day) - min(day)) // 2 AS INTEGER)
                    AS DATE) AS cut
        FROM daily GROUP BY event_type
    ), train AS (
        SELECT d.event_type, d.c FROM daily d
        JOIN split s ON s.event_type = d.event_type AND d.day <= s.cut
    ), pred AS (
        -- exact lower-rank p90 of the training days per type
        SELECT event_type, CAST(min(c) AS BIGINT) AS p90
        FROM (
            SELECT event_type, c,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS n
            FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
                  FROM train GROUP BY event_type, c))
        WHERE 10 * cum >= 9 * n GROUP BY event_type
    ), test AS (
        SELECT d.event_type, d.c, p.p90 FROM daily d
        JOIN split s ON s.event_type = d.event_type AND d.day > s.cut
        JOIN pred p ON p.event_type = d.event_type
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_test_days,
           CAST(min(p90) AS BIGINT) AS pred_p90,
           -- pinball loss at q=0.9, x10-scaled to stay integer:
           -- under-forecast costs 9*(y-f), over-forecast 1*(f-y)
           CAST(sum(CASE WHEN c >= p90 THEN 9 * (c - p90)
                         ELSE (p90 - c) END) AS BIGINT) AS pinball_x10,
           CAST(sum(CASE WHEN c > p90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exceed
    FROM test GROUP BY event_type ORDER BY event_type
    """,
    doc="quantile-forecast backtest with PINBALL LOSS (the proper "
    "scoring rule for quantile predictions — what M5/GEFCom grade on): "
    "train/test split at the midpoint date, the q=0.9 prediction is "
    "the exact 10*cum >= 9*n rank-rule p90 of training-day volumes, "
    "and the loss keeps the 0.9/0.1 asymmetry as INTEGER weights 9/1 "
    "(x10-scaled), so the whole backtest is exact arithmetic. Also "
    "reports the exceedance count — a calibrated p90 should be "
    "exceeded on ~10% of test days. Day-grain after one keyed count; "
    "leakage-safe by the <= cut / > cut split (the "
    "pipeline_temporal_split_guard discipline).",
)
def ts_pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    split = daily.groupBy("event_type").agg(
        F.expr(
            "CAST(min(day) + CAST(CAST(max(day) - min(day) AS INT) div 2"
            " AS INT) AS DATE)"
        ).alias("cut")
    )
    train = daily.join(split, "event_type").filter(F.col("day") <= F.col("cut"))
    hist = train.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    pred = (
        hist.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wall))
        .filter(10 * F.col("cum") >= 9 * F.col("n"))
        .groupBy("event_type")
        .agg(F.min("c").cast("bigint").alias("p90"))
    )
    test = (
        daily.join(split, "event_type")
        .filter(F.col("day") > F.col("cut"))
        .join(pred, "event_type")
    )
    return (
        test.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
            F.min("p90").cast("bigint").alias("pred_p90"),
            F.sum(
                F.when(
                    F.col("c") >= F.col("p90"), 9 * (F.col("c") - F.col("p90"))
                ).otherwise(F.col("p90") - F.col("c"))
            )
            .cast("bigint")
            .alias("pinball_x10"),
            F.sum(F.when(F.col("c") > F.col("p90"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exceed"),
        )
        .orderBy("event_type")
    )


@register(
    "text_stupid_backoff_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(
            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t,
               generate_subscripts(string_split(
            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), 1)
                   AS pos
        FROM documents
    ), big AS (
        SELECT a.doc_id, a.t AS x, b.t AS y
        FROM toks a JOIN toks b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        WHERE a.t != '' AND b.t != ''
    ), cxy AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY x, y
    ), uni AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks
        WHERE t != '' GROUP BY t
    ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    scored AS (
        SELECT b.doc_id,
               CASE WHEN p.c IS NOT NULL
                    THEN p.c * 1000000 // ux.c
                    ELSE 2 * uy.c * 1000000 // (5 * nn.n) END AS s_q6
        FROM big b
        LEFT JOIN cxy p ON p.x = b.x AND p.y = b.y
        JOIN uni ux ON ux.t = b.x
        JOIN uni uy ON uy.t = b.y
        CROSS JOIN nn
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(s_q6) AS BIGINT) AS score_sum_q6,
           CAST(sum(s_q6) // count(*) AS BIGINT) AS score_avg_q6
    FROM scored GROUP BY doc_id
    ORDER BY doc_id LIMIT 200
    """,
    doc="'stupid backoff' bigram LM scoring (Brants et al. 2007 — the "
    "smoothing DESIGNED for MapReduce-scale LMs: no normalization, "
    "score(y|x) = c(xy)/c(x), backing off to 0.4 * c(y)/N): every "
    "score is an exact micro-unit integer rational (0.4 = 2/5 keeps "
    "the backoff exact), summed per document — zero float end to end, "
    "unlike the perplexity head (ml_bigram_lm_perplexity) it "
    "complements. Counts are two keyed groupBys; scoring joins are "
    "token-keyed (the model table is NEVER broadcast-hinted — the "
    "sparse-cosine lesson).",
)
def text_stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias("pos", "t"),
    ).filter(F.col("t") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = toks.withColumn("y", F.lead("t").over(w)).filter(
        F.col("y").isNotNull()
    ).select("doc_id", F.col("t").alias("x"), "y")
    cxy = big.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    uni = toks.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    nn = uni.agg(F.sum("c").cast("bigint").alias("n"))
    ux = uni.select(F.col("t").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("t").alias("y"), F.col("c").alias("cy"))
    scored = (
        big.join(cxy, ["x", "y"], "left")
        .join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            F.when(
                F.col("cb").isNotNull(), F.expr("cb * 1000000 div cx")
            )
            .otherwise(F.expr("2 * cy * 1000000 div (5 * n)"))
            .cast("bigint")
            .alias("s_q6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("s_q6").cast("bigint").alias("score_sum_q6"),
        )
        .withColumn(
            "score_avg_q6",
            F.expr("score_sum_q6 div n_bigrams").cast("bigint"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


# SPRT log-likelihood increments for H0 p=0.5 vs H1 p=0.55, in nano-units
# (floor(1e9 * ln(p1/p0)) etc.) — precomputed constants so neither engine
# ever calls ln at runtime; both sides share the same literals.
_SPRT_W1 = 95310180  # floor(1e9 * ln(0.55/0.50))
_SPRT_W0 = -105360516  # floor(1e9 * ln(0.45/0.50))
_SPRT_A = 2944438979  # floor(1e9 * ln(19)) upper bound (alpha=beta=0.05)


@register(
    "stats_sprt_crossing",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n0
        FROM events GROUP BY 1
    ), walk AS (
        SELECT day, n1, n0,
               sum(n1 * {_SPRT_W1} + n0 * ({_SPRT_W0})) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr_n9
        FROM daily
    ), flagged AS (
        SELECT day, n1, n0, CAST(llr_n9 AS BIGINT) AS llr_n9,
               CASE WHEN llr_n9 >= {_SPRT_A} THEN 1
                    WHEN llr_n9 <= -{_SPRT_A} THEN -1 ELSE 0 END AS decision
        FROM walk
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(min(CASE WHEN decision != 0 THEN day END) AS VARCHAR)
               AS first_crossing_day,
           CAST(max(CASE WHEN decision != 0 THEN decision END) AS BIGINT)
               AS decision,
           CAST(min(llr_n9) AS BIGINT) AS min_llr_n9,
           CAST(max(llr_n9) AS BIGINT) AS max_llr_n9
    FROM flagged
    """,
    doc="sequential probability ratio test walk (Wald 1945 — the "
    "always-valid sequential A/B monitor): daily treatment/control "
    "assignment counts drive a cumulative log-likelihood ratio for "
    "H0 p=0.5 vs H1 p=0.55 with PRECOMPUTED nano-unit integer "
    "increments (ln ratios baked in as shared literals — no runtime "
    "log on either engine), Wald bounds ±ln(19) for alpha=beta=0.05. "
    "Reports the first boundary crossing and the walk envelope. "
    "Day-grain cumsum after one keyed count; the sequential decision "
    "is exact integer arithmetic.",
)
def stats_sprt_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = daily.withColumn(
        "llr_n9",
        F.sum(
            F.col("n1") * _SPRT_W1 + F.col("n0") * F.lit(_SPRT_W0)
        ).over(w).cast("bigint"),
    )
    flagged = walk.withColumn(
        "decision",
        F.when(F.col("llr_n9") >= _SPRT_A, 1)
        .when(F.col("llr_n9") <= -_SPRT_A, -1)
        .otherwise(0),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.min(F.when(F.col("decision") != 0, F.col("day")))
        .cast("string")
        .alias("first_crossing_day"),
        F.max(F.when(F.col("decision") != 0, F.col("decision")))
        .cast("bigint")
        .alias("decision"),
        F.min("llr_n9").cast("bigint").alias("min_llr_n9"),
        F.max("llr_n9").cast("bigint").alias("max_llr_n9"),
    )


_LC_M = 4096  # linear-counting bitmap bits


@register(
    "agg_linear_counting",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % {_LC_M} AS bit
        FROM events
    ), occ AS (SELECT CAST(count(*) AS BIGINT) AS n_set FROM h),
    exact AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
    )
    SELECT o.n_set, {_LC_M} AS m, e.n_exact,
           -- saturated bitmap (n_set = m): log2(0) is -inf and the
           -- BIGINT cast of +inf ABORTS both engines — linear counting
           -- is undefined there, so the estimate goes NULL (Whang's
           -- validity precondition V > 0)
           CASE WHEN o.n_set < {_LC_M} THEN
               CAST(floor(-{_LC_M}.0
                   * log2(CAST({_LC_M} - o.n_set AS DOUBLE) / {_LC_M}.0)
                   * 0.6931471805599453) AS BIGINT) END AS lc_estimate,
           -- inner CAST AS BIGINT before the division: DuckDB's floor()
           -- returns DOUBLE and `//` on a DOUBLE lhs does NOT floor, so
           -- the outer BIGINT cast then ROUNDS the quotient — one unit
           -- above Spark's truncating `div` whenever the fraction is
           -- >= .5 (r11 fuzz, seed 25 knife edge: 4140.79 -> 4141 vs
           -- 4140). All-integer arithmetic restores exact parity.
           CASE WHEN o.n_set < {_LC_M} AND e.n_exact > 0 THEN
               CAST(abs(CAST(floor(-{_LC_M}.0
                   * log2(CAST({_LC_M} - o.n_set AS DOUBLE) / {_LC_M}.0)
                   * 0.6931471805599453) AS BIGINT) - e.n_exact)
                   * 1000000 // e.n_exact AS BIGINT) END AS rel_err_q6
    FROM occ o CROSS JOIN exact e
    """,
    doc="linear counting cardinality estimate (Whang 1990 — the "
    "small-range complement to HLL, exact-ish while the bitmap is "
    "sparse): distinct users hash into a 4096-bit bitmap (hash60 mod "
    "m), estimate = -m ln(V) with V the empty fraction — ln as log2 * "
    "ln2 literal (the engine-proven log), floored once at the single "
    "scalar. The in-query accuracy envelope compares against the "
    "exact distinct (the agg_hll_error_envelope pattern). The bitmap "
    "'build' is one distinct + count — at scale it would be the "
    "bit_or word fold agg_bitmap_distinct already implements.",
)
def agg_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.hashing import hash60

    ev = load(spark, sf_dir, "events")
    h = ev.select(
        (hash60(F.col("user_id").cast("string")) % _LC_M).alias("bit")
    ).distinct()
    occ = h.agg(F.count(F.lit(1)).cast("bigint").alias("n_set"))
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    # saturation guard (n_set = m): log2(0) -> -inf, BIGINT cast of the
    # resulting +inf aborts under ANSI — estimate is NULL past Whang's
    # V > 0 validity bound; rel_err also guards the empty-table n_exact=0
    est = F.when(
        F.col("n_set") < _LC_M,
        F.floor(
            -float(_LC_M)
            * F.log2((_LC_M - F.col("n_set")).cast("double") / float(_LC_M))
            * 0.6931471805599453
        ).cast("bigint"),
    )
    return (
        occ.crossJoin(F.broadcast(exact))
        .select(
            "n_set",
            F.lit(_LC_M).cast("bigint").alias("m"),
            "n_exact",
            est.alias("lc_estimate"),
            F.when(
                (F.col("n_set") < _LC_M) & (F.col("n_exact") > 0),
                F.expr(
                    f"abs(CAST(floor(-{_LC_M}.0 * log2(CAST({_LC_M} - n_set AS"
                    f" DOUBLE) / {_LC_M}.0) * 0.6931471805599453) AS BIGINT)"
                    " - n_exact) * 1000000 div n_exact"
                ),
            )
            .cast("bigint")
            .alias("rel_err_q6"),
        )
    )


@register(
    "stats_capture_recapture",
    oracle="""
    WITH marked AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(('0x' || substr(md5('c1|' || CAST(event_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 2 = 0
    ), recapture AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(('0x' || substr(md5('c2|' || CAST(event_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 2 = 0
    ), m AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM marked) AS n1,
               (SELECT CAST(count(*) AS BIGINT) FROM recapture) AS n2,
               (SELECT CAST(count(*) AS BIGINT)
                FROM marked JOIN recapture USING (user_id)) AS overlap,
               (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
                   AS n_true
    )
    SELECT n1, n2, overlap, n_true,
           CASE WHEN overlap > 0
                THEN CAST(((n1 + 1) * (n2 + 1)) // (overlap + 1) - 1
                          AS BIGINT) END AS chapman_estimate
    FROM m
    """,
    doc="capture-recapture population estimation (Lincoln-Petersen with "
    "the Chapman bias correction — how a pipeline estimates the TRUE "
    "entity universe from two independent partial observations, e.g. "
    "two crawl passes): two deterministic event samples (seeded hash "
    "parities — independent 'sightings'), distinct users per sample, "
    "overlap via a user-keyed join, N-hat = (n1+1)(n2+1)/(m+1) - 1 in "
    "exact truncating integer arithmetic, NULL when no overlap. The "
    "in-query n_true column is the accuracy envelope. Three "
    "distinct-aggregates + one keyed join; no scale hazards.",
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.hashing import hash60

    ev = load(spark, sf_dir, "events")

    def sample(seed: str) -> DataFrame:
        return (
            ev.filter(
                hash60(
                    F.concat(F.lit(f"{seed}|"), F.col("event_id").cast("string"))
                )
                % 2
                == 0
            )
            .select("user_id")
            .distinct()
        )

    marked, recapture = sample("c1"), sample("c2")
    n1 = marked.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2 = recapture.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    ov = marked.join(recapture, "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("overlap")
    )
    nt = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_true"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(ov))
        .crossJoin(F.broadcast(nt))
        .select(
            "n1",
            "n2",
            "overlap",
            "n_true",
            F.when(
                F.col("overlap") > 0,
                F.expr("((n1 + 1) * (n2 + 1)) div (overlap + 1) - 1"),
            )
            .cast("bigint")
            .alias("chapman_estimate"),
        )
    )


_CARD_BUCKETS = 64


@register(
    "misc_join_cardinality_estimate",
    oracle=f"""
    WITH lh AS (
        SELECT l_partkey % {_CARD_BUCKETS} AS b,
               CAST(count(*) AS BIGINT) AS c,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS v
        FROM lineitem GROUP BY 1
    ), rh AS (
        SELECT p_partkey % {_CARD_BUCKETS} AS b,
               CAST(count(*) AS BIGINT) AS c,
               CAST(count(DISTINCT p_partkey) AS BIGINT) AS v
        FROM part GROUP BY 1
    ), est AS (
        SELECT CAST(sum(lh.c * rh.c // greatest(lh.v, rh.v)) AS BIGINT)
                   AS est_rows
        FROM lh JOIN rh ON rh.b = lh.b
    ), act AS (
        SELECT CAST(count(*) AS BIGINT) AS actual_rows
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT e.est_rows, a.actual_rows,
           CAST(abs(e.est_rows - a.actual_rows) * 1000000
                // a.actual_rows AS BIGINT) AS rel_err_q6
    FROM est e CROSS JOIN act a
    """,
    doc="optimizer-style equi-join cardinality estimation from "
    "per-bucket histograms (the System-R / Selinger formula every CBO "
    "uses: |A join B| ~ sum_b cA*cB / max(vA, vB) under the uniform-"
    "within-bucket + containment assumptions) validated IN-QUERY "
    "against the actual join count — the estimate-vs-reality check a "
    "planner regression suite runs. Histograms are two keyed "
    "groupBys; the estimate folds at bucket grain; all integer "
    "truncating arithmetic.",
)
def misc_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    lh = li.groupBy((F.col("l_partkey") % _CARD_BUCKETS).alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.countDistinct("l_partkey").cast("bigint").alias("v"),
    )
    rh = p.groupBy((F.col("p_partkey") % _CARD_BUCKETS).alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c2"),
        F.countDistinct("p_partkey").cast("bigint").alias("v2"),
    )
    est = (
        lh.join(rh, "b")
        .select(F.expr("c * c2 div greatest(v, v2)").alias("e"))
        .agg(F.sum("e").cast("bigint").alias("est_rows"))
    )
    act = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    return est.crossJoin(F.broadcast(act)).select(
        "est_rows",
        "actual_rows",
        F.expr("abs(est_rows - actual_rows) * 1000000 div actual_rows")
        .cast("bigint")
        .alias("rel_err_q6"),
    )


@register(
    "events_interval_union_merge",
    oracle="""
    WITH iv AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
               epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS en,
               event_id
        FROM events
    ), flagged AS (
        SELECT user_id, st, en, event_id,
               CASE WHEN st > coalesce(max(en) OVER (
                        PARTITION BY user_id ORDER BY st, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS brk
        FROM iv
    ), islands AS (
        -- island cumsum MUST replay the brk window's (st, event_id)
        -- total order: en = st + const gives no tiebreak, and two
        -- same-microsecond events would otherwise let the ROWS-frame
        -- cumsum absorb the brk=0 twin into the PRIOR island
        -- nondeterministically on both engines
        SELECT user_id, st, en,
               sum(brk) OVER (PARTITION BY user_id ORDER BY st, event_id
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), merged AS (
        SELECT user_id, island, min(st) AS m_st, max(en) AS m_en,
               CAST(count(*) AS BIGINT) AS n_src
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_merged,
           CAST(sum(n_src) AS BIGINT) AS n_source,
           CAST(sum(m_en - m_st) AS BIGINT) AS busy_us,
           CAST(max(m_en - m_st) AS BIGINT) AS longest_us
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
    doc="interval UNION merge ('merge overlapping intervals' — the "
    "coverage complement of join_interval_overlap): each event opens a "
    "5-minute window; per user, windows sorted by start chain into "
    "islands whenever the start does not clear the RUNNING MAX of "
    "prior ends (the running max — not lag(en) — is what makes nested "
    "intervals merge correctly), islands aggregate to merged busy "
    "periods. Output per user: merged-period count, source-interval "
    "count, total and longest busy time in exact microseconds. All "
    "windows user-keyed; one pass.",
)
def events_interval_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("st"),
        (F.unix_micros("ts") + 300_000_000).alias("en"),
        "event_id",
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("st", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "brk",
        F.when(
            F.col("st")
            > F.coalesce(F.max("en").over(wprev), F.lit(-(1 << 63))),
            1,
        ).otherwise(0),
    )
    # same (st, event_id) total order as the brk window — (st, en) has
    # no tiebreak (en = st + const) and same-µs twins would merge
    # nondeterministically
    wisl = (
        Window.partitionBy("user_id")
        .orderBy("st", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("brk").over(wisl))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("st").alias("m_st"),
        F.max("en").alias("m_en"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_merged"),
            F.sum("n_src").cast("bigint").alias("n_source"),
            F.sum(F.col("m_en") - F.col("m_st")).cast("bigint").alias("busy_us"),
            F.max(F.col("m_en") - F.col("m_st")).cast("bigint").alias("longest_us"),
        )
        .orderBy("user_id")
    )


@register(
    "stats_odds_ratio_mh",
    oracle="""
    WITH med AS (
        SELECT CAST(min(v) AS BIGINT) AS md FROM (
            SELECT v,
                   sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER () AS n
            FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                         CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1))
        WHERE 2 * cum >= n
    ), cells AS (
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS stratum,
               CAST(user_id % 2 AS BIGINT) AS exposed,
               CASE WHEN CAST(round(value * 100) AS BIGINT) > m.md
                    THEN 1 ELSE 0 END AS outcome
        FROM events CROSS JOIN med m
    ), strata AS (
        SELECT stratum,
               CAST(sum(CASE WHEN exposed = 1 AND outcome = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN exposed = 1 AND outcome = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(sum(CASE WHEN exposed = 0 AND outcome = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN exposed = 0 AND outcome = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM cells GROUP BY stratum
    ), terms AS (
        SELECT stratum,
               CAST(a * d * 1000000000 // n AS BIGINT) AS num9,
               CAST(b * c * 1000000000 // n AS BIGINT) AS den9
        FROM strata
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(num9) AS BIGINT) AS num_n9,
           CAST(sum(den9) AS BIGINT) AS den_n9,
           CASE WHEN sum(den9) > 0
                THEN CAST(sum(num9) * 1000000 // sum(den9) AS BIGINT) END
               AS or_mh_q6
    FROM terms
    """,
    doc="Mantel-Haenszel pooled odds ratio across day-of-week strata "
    "(Mantel & Haenszel 1959 — the stratified 2x2 combiner that "
    "controls confounding without modeling; exposure = user parity, "
    "outcome = above-median spend): per-stratum a*d/n and b*c/n terms "
    "are nano-quantized by TRUNCATING INTEGER division at stratum "
    "grain — never float — and the pooled ratio is one more integer "
    "division. Cell counts come from one keyed groupBy after the "
    "exact global median (rank rule on the cents lattice). The "
    "Simpson's-paradox-proof effect estimate an experimentation "
    "platform pools across segments.",
)
def stats_odds_ratio_mh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hist = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # NULLS LAST to match DuckDB's ASC default: under a NULL-bearing
    # value column (fuzz seed 62) Spark's NULLS-FIRST default shifts the
    # cumulative rank by the NULL-group count and moves the median; with
    # NULLS LAST both engines treat the NULL group as +inf (it inflates n
    # but never wins min(v)). No-op on NULL-free fixtures.
    wcum = Window.orderBy(F.asc_nulls_last("v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    med = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(wall))
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("v").cast("bigint").alias("md"))
    )
    cells = ev.crossJoin(F.broadcast(med)).select(
        F.dayofweek("ts").cast("bigint").alias("stratum"),
        (F.col("user_id") % 2).cast("bigint").alias("exposed"),
        F.when(
            F.round(F.col("value") * 100).cast("bigint") > F.col("md"), 1
        ).otherwise(0).alias("outcome"),
    )
    strata = cells.groupBy("stratum").agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    terms = strata.select(
        F.expr("a * d * 1000000000 div n").cast("bigint").alias("num9"),
        F.expr("b * c * 1000000000 div n").cast("bigint").alias("den9"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("num9").cast("bigint").alias("num_n9"),
        F.sum("den9").cast("bigint").alias("den_n9"),
    ).select(
        "n_strata",
        "num_n9",
        "den_n9",
        F.when(
            F.col("den_n9") > 0, F.expr("num_n9 * 1000000 div den_n9")
        )
        .cast("bigint")
        .alias("or_mh_q6"),
    )


_VAD_THRESH = 10 * 1024 * 1024  # 10-sample frame at half amplitude


@register(
    "mm_audio_vad_segments",
    oracle=f"""
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST((n_chars % 500) + 50 AS INT) AS n,
               doc_id % 4096 AS base
        FROM documents
    ), frames AS (
        SELECT asset_id, f.fi AS frame_idx,
               CAST(list_sum(list_transform(generate_series(0, 9),
                   j -> CAST((((base + 13 * (f.fi * 10 + j)) % 4096) - 2048)
                             AS BIGINT)
                        * (((base + 13 * (f.fi * 10 + j)) % 4096) - 2048)))
                    AS BIGINT) AS energy
        FROM params,
             LATERAL (SELECT unnest(generate_series(0, n // 10 - 1)) AS fi)
                 AS f
    ), act AS (
        SELECT asset_id, frame_idx,
               CASE WHEN energy > {_VAD_THRESH} THEN 1 ELSE 0 END AS a
        FROM frames
    ), brk AS (
        SELECT asset_id, frame_idx, a,
               CASE WHEN a = 1 AND coalesce(lag(a) OVER (
                        PARTITION BY asset_id ORDER BY frame_idx), 0) = 0
                    THEN 1 ELSE 0 END AS seg_start
        FROM act
    ), segs AS (
        SELECT asset_id, frame_idx, a,
               sum(seg_start) OVER (PARTITION BY asset_id ORDER BY frame_idx
                                    ROWS UNBOUNDED PRECEDING) AS seg
        FROM brk
    ), seg_len AS (
        SELECT asset_id, seg, CAST(count(*) AS BIGINT) AS len
        FROM segs WHERE a = 1 GROUP BY asset_id, seg
    )
    SELECT s.asset_id,
           CAST(max(s.frame_idx) + 1 AS BIGINT) AS n_frames,
           CAST(sum(s.a) AS BIGINT) AS n_active,
           CAST(coalesce(l.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(coalesce(l.longest, 0) AS BIGINT) AS longest_frames
    FROM segs s
    LEFT JOIN (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_segments,
                      CAST(max(len) AS BIGINT) AS longest
               FROM seg_len GROUP BY asset_id) l
      ON l.asset_id = s.asset_id
    GROUP BY s.asset_id, l.n_segments, l.longest
    ORDER BY s.asset_id
    """,
    doc="voice-activity detection segments over the fake-PCM corpus: the "
    "Arrow mapInPandas kernel (multimodal.audio_frame_energies — the "
    "same codec seam as mm_audio_features) emits exact int64 10-sample "
    "frame energies; Spark-side thresholding + gaps-and-islands (lag "
    "start-flag, asset-keyed windows) merge active frames into speech "
    "segments. The oracle recomputes every frame arithmetically, so "
    "the hash gate proves byte plumbing, frame math, AND the island "
    "logic. Output per asset: frame/active counts, segment count, "
    "longest segment.",
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = encode_fake_audio(load(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    # checkpoint the frame table: the segment branch and the per-asset
    # totals branch both consume it, and their exchanges differ enough
    # that runtime reuse doesn't collapse them — the encode+energies
    # Python chain ran TWICE per query (measured 2x input rows through
    # the Arrow boundary at sf0.01; 1x after).
    frames = audio_frame_energies(assets, frame=10).localCheckpoint(eager=False)
    act = frames.select(
        "asset_id",
        "frame_idx",
        F.when(F.col("energy") > _VAD_THRESH, 1).otherwise(0).alias("a"),
    )
    wlag = Window.partitionBy("asset_id").orderBy("frame_idx")
    brk = act.withColumn(
        "seg_start",
        F.when(
            (F.col("a") == 1)
            & (F.coalesce(F.lag("a").over(wlag), F.lit(0)) == 0),
            1,
        ).otherwise(0),
    )
    wcum = Window.partitionBy("asset_id").orderBy("frame_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    segs = brk.withColumn("seg", F.sum("seg_start").over(wcum))
    seg_len = (
        segs.filter(F.col("a") == 1)
        .groupBy("asset_id", "seg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    seg_agg = seg_len.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("len").cast("bigint").alias("longest"),
    )
    return (
        segs.groupBy("asset_id")
        .agg(
            (F.max("frame_idx") + 1).cast("bigint").alias("n_frames"),
            F.sum("a").cast("bigint").alias("n_active"),
        )
        .join(seg_agg, "asset_id", "left")
        .select(
            "asset_id",
            "n_frames",
            "n_active",
            F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
            F.coalesce("longest", F.lit(0)).cast("bigint").alias("longest_frames"),
        )
        .orderBy("asset_id")
    )


@register(
    "join_bitemporal_asof",
    oracle="""
    WITH versions AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + (event_id % 7) * 300000000 AS tx_from,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), probes AS (
        SELECT u.user_id, p.probe_id,
               epoch_us(CAST(make_timestamp(2024, 1, p.dd, 23, 59, 59)
                             AS TIMESTAMP)) AS pv,
               epoch_us(CAST(make_timestamp(2024, 1, p.dd, 23, 59, 59)
                             AS TIMESTAMP)) + 600000000 AS ptx
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (VALUES (1, 10), (2, 20), (3, 30)) AS p(probe_id, dd)
    ), hits AS (
        SELECT pr.user_id, pr.probe_id, v.event_id, v.cents,
               row_number() OVER (
                   PARTITION BY pr.user_id, pr.probe_id
                   ORDER BY v.valid_from DESC, v.event_id DESC) AS rn
        FROM probes pr
        JOIN versions v
          ON v.user_id = pr.user_id
         AND v.valid_from <= pr.pv
         AND v.tx_from <= pr.ptx
    )
    SELECT p.user_id, CAST(p.probe_id AS BIGINT) AS probe_id,
           CAST(h.event_id AS BIGINT) AS ans_event_id,
           CAST(h.cents AS BIGINT) AS ans_cents
    FROM probes p
    LEFT JOIN hits h
      ON h.user_id = p.user_id AND h.probe_id = p.probe_id AND h.rn = 1
    ORDER BY p.user_id, p.probe_id
    """,
    doc="BITEMPORAL as-of lookup (valid time x transaction time — the "
    "temporal-database primitive SQL:2011 system-versioned tables "
    "implement; one dimension past join_scd2_pit_lookup): versions "
    "carry valid_from (event time) and tx_from (when the system "
    "learned it, the deterministic ingest delay from "
    "stream_late_arrival_audit), and a probe (pv, ptx) answers 'what "
    "was the latest value valid at pv, AS KNOWN at ptx' — filter both "
    "axes, rank by (valid_from desc, event_id desc). The join is "
    "user-keyed with range residuals (never a BNLJ); probes are a "
    "bounded spine LEFT-joined so never-seen users surface as NULLs.",
)
def join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    versions = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("valid_from"),
        (F.unix_micros("ts") + (F.col("event_id") % 7) * 300_000_000).alias(
            "tx_from"
        ),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    users = ev.select("user_id").distinct()
    pdays = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "probe_id int, dd int"
    )
    probes = users.crossJoin(F.broadcast(pdays)).select(
        "user_id",
        "probe_id",
        F.unix_micros(
            F.make_timestamp(
                F.lit(2024), F.lit(1), F.col("dd"), F.lit(23), F.lit(59), F.lit(59)
            )
        ).alias("pv"),
    ).withColumn("ptx", F.col("pv") + 600_000_000)
    hits = (
        probes.join(versions, "user_id")
        .filter(
            (F.col("valid_from") <= F.col("pv"))
            & (F.col("tx_from") <= F.col("ptx"))
        )
    )
    rw = Window.partitionBy("user_id", "probe_id").orderBy(
        F.desc("valid_from"), F.desc("event_id")
    )
    best = (
        hits.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("user_id", "probe_id", "event_id", "cents")
    )
    return (
        probes.select("user_id", "probe_id")
        .join(best, ["user_id", "probe_id"], "left")
        .select(
            "user_id",
            F.col("probe_id").cast("bigint").alias("probe_id"),
            F.col("event_id").cast("bigint").alias("ans_event_id"),
            F.col("cents").cast("bigint").alias("ans_cents"),
        )
        .orderBy("user_id", "probe_id")
    )


@register(
    "dedup_dup_coverage_ratio",
    oracle="""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 19)) AS pos
        FROM documents),
    grams AS (
        SELECT doc_id, CAST(pos AS INT) AS pos,
               substr(text, CAST(pos AS INT), 20) AS gram FROM pos),
    dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(*) > 1 AND count(*) <= 10000),
    anchors AS (
        SELECT g.doc_id, g.pos FROM grams g
        WHERE g.gram IN (SELECT gram FROM dup)),
    islands AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM anchors),
    spans AS (
        SELECT doc_id,
               CAST(max(pos) - min(pos) + 20 AS BIGINT) AS span_len
        FROM islands GROUP BY doc_id, island),
    cov AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(span_len) AS BIGINT) AS dup_chars
        FROM spans GROUP BY doc_id)
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           coalesce(c.n_spans, 0) AS n_spans,
           coalesce(c.dup_chars, 0) AS dup_chars,
           CAST(coalesce(c.dup_chars, 0) * 1000 // length(d.text) AS BIGINT)
               AS coverage_pm
    FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id
    ORDER BY coverage_pm DESC, d.doc_id LIMIT 50
    """,
    doc="duplicate-coverage ratio per document (the 'how much of this "
    "page is boilerplate/duplicated material' score curation pipelines "
    "threshold on — the document-level rollup of "
    "dedup_substring_spans): maximal dup spans are disjoint within a "
    "doc by construction (gaps-and-islands merge), so coverage = "
    "sum(span_len) in exact chars, reported per-mille by truncating "
    "division over the doc length. The LEFT join from the full corpus "
    "keeps zero-duplication docs visible. Top-50 most-duplicated "
    "(coverage desc, doc_id). Same three keyed shuffles as the span "
    "detector; the rollup is span grain.",
)
def dedup_dup_coverage_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.substrings import duplicate_spans

    docs = load(spark, sf_dir, "documents")
    spans = duplicate_spans(
        docs, "doc_id", "text", min_length=20, max_gram_freq=10000
    )
    cov = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("dup_chars"),
    )
    return (
        docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
            F.expr("coalesce(dup_chars, 0) * 1000 div n_chars")
            .cast("bigint")
            .alias("coverage_pm"),
        )
        .orderBy(F.desc("coverage_pm"), "doc_id")
        .limit(50)
    )


@register(
    "win_stochastic_oscillator",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS c,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
        FROM events
    ), frames AS (
        SELECT user_id, event_id, c,
               min(c) OVER w AS lo, max(c) OVER w AS hi,
               count(*) OVER w AS nf
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), k AS (
        SELECT user_id, event_id, nf,
               CASE WHEN hi > lo
                    THEN CAST((c - lo) * 1000000 // (hi - lo) AS BIGINT)
                    END AS k_q6
        FROM frames
    )
    SELECT user_id, event_id, CAST(nf AS BIGINT) AS n_frame, k_q6,
           CASE WHEN count(k_q6) OVER d = 3
                THEN CAST(sum(k_q6) OVER d // 3 AS BIGINT) END AS d_q6
    FROM k
    WINDOW d AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc="stochastic oscillator %K/%D (Lane's momentum indicator — the "
    "range-position rolling statistic beside win_bollinger_bands and "
    "win_max_drawdown): %K = (close - 14-frame low) / (high - low) in "
    "exact integer cents with truncating micro-quantization (flat "
    "frames yield NULL, not a division error — the agg_group_ols guard "
    "discipline), %D = 3-period simple average of %K (integer mean of "
    "already-quantized values, so no float anywhere; NULL until the "
    "%D frame is full). All windows user-keyed; one pass.",
)
def win_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wrn = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    v = ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        F.row_number().over(wrn).alias("rn"),
    )
    wf = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-13, 0)
    frames = v.select(
        "user_id",
        "event_id",
        "c",
        F.min("c").over(wf).alias("lo"),
        F.max("c").over(wf).alias("hi"),
        F.count(F.lit(1)).over(wf).alias("nf"),
    )
    k = frames.select(
        "user_id",
        "event_id",
        "nf",
        F.when(
            F.col("hi") > F.col("lo"),
            F.expr("(c - lo) * 1000000 div (hi - lo)"),
        )
        .cast("bigint")
        .alias("k_q6"),
    )
    wd = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    return (
        k.select(
            "user_id",
            "event_id",
            F.col("nf").cast("bigint").alias("n_frame"),
            "k_q6",
        )
        .withColumn(
            "d_q6",
            F.when(
                F.count("k_q6").over(wd) == 3,
                F.floor(F.sum("k_q6").over(wd) / 3).cast("bigint"),
            ),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "graph_rich_club_coefficient",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), eu AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM eu UNION ALL SELECT v FROM eu)
        GROUP BY node
    ), ks AS (
        SELECT q, CAST(min(d) AS BIGINT) AS k FROM (
            SELECT d, q,
                   sum(c) OVER (PARTITION BY q ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER (PARTITION BY q) AS n
            FROM (SELECT d, CAST(count(*) AS BIGINT) AS c
                  FROM deg GROUP BY d)
            CROSS JOIN (VALUES (50), (90)) AS t(q))
        WHERE 100 * cum >= q * n GROUP BY q
    ), rich AS (
        SELECT ks.q, ks.k, deg.node
        FROM ks JOIN deg ON deg.d > ks.k
    ), stats AS (
        -- LEFT from ks: an empty club must still emit its row
        SELECT ks.q, ks.k,
               CAST(coalesce(r.n_rich, 0) AS BIGINT) AS n_rich
        FROM ks LEFT JOIN (
            SELECT q, CAST(count(*) AS BIGINT) AS n_rich
            FROM rich GROUP BY q) r ON r.q = ks.q
    ), re AS (
        SELECT r1.q, CAST(count(*) AS BIGINT) AS e_rich
        FROM eu
        JOIN rich r1 ON r1.node = eu.u
        JOIN rich r2 ON r2.node = eu.v AND r2.q = r1.q
        GROUP BY r1.q
    )
    SELECT s.q AS pct, s.k, s.n_rich,
           CAST(coalesce(re.e_rich, 0) AS BIGINT) AS e_rich,
           CASE WHEN s.n_rich > 1
                THEN CAST(2 * coalesce(re.e_rich, 0) * 1000000
                          // (s.n_rich * (s.n_rich - 1)) AS BIGINT) END
               AS phi_q6
    FROM stats s LEFT JOIN re ON re.q = s.q
    ORDER BY s.q
    """,
    doc="rich-club coefficient (Zhou & Mondragon 2004): among nodes "
    "whose degree exceeds the exact p50 / p90 degree thresholds (rank "
    "rule on the degree histogram), the realized edge density phi(k) = "
    "2*E/(N*(N-1)) — hubs-link-hubs quantified, the companion to "
    "graph_assortativity's correlation view. Degree thresholds, rich "
    "sets and within-club edge counts are all exact integers; phi by "
    "truncating micro-division with the N<=1 guard. Joins are "
    "node-keyed; the histogram rank rule runs at degree-lattice grain.",
)
def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    eu = co_occurrence_edges(li, "l_orderkey", "l_partkey", checkpoint=True)
    deg = (
        eu.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    dh = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    qs = spark.createDataFrame([(50,), (90,)], "q int")
    wcum = Window.partitionBy("q").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("q")
    ks = (
        dh.crossJoin(F.broadcast(qs))
        .withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(wall))
        .filter(100 * F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("d").cast("bigint").alias("k"))
    )
    # theta join with a 2-row build side: broadcast it so Spark plans a
    # BroadcastNestedLoopJoin (bounded replication) instead of falling
    # back to CartesianProduct
    rich = F.broadcast(ks).join(deg, deg.d > ks.k).select("q", "k", "node")
    # LEFT from ks: an empty club must still emit its row (n_rich = 0)
    stats = ks.join(
        rich.groupBy("q").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rich")
        ),
        "q",
        "left",
    ).select("q", "k", F.coalesce("n_rich", F.lit(0)).cast("bigint").alias("n_rich"))
    r1 = rich.select(F.col("q"), F.col("node").alias("u"))
    r2 = rich.select(F.col("q").alias("q2"), F.col("node").alias("v2"))
    re = (
        eu.join(r1, "u")
        .join(r2, (F.col("q2") == F.col("q")) & (F.col("v2") == F.col("v")))
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_rich"))
    )
    return (
        stats.join(re, "q", "left")
        .select(
            F.col("q").alias("pct"),
            "k",
            "n_rich",
            F.coalesce("e_rich", F.lit(0)).cast("bigint").alias("e_rich"),
            F.when(
                F.col("n_rich") > 1,
                F.expr(
                    "2 * coalesce(e_rich, 0) * 1000000"
                    " div (n_rich * (n_rich - 1))"
                ),
            )
            .cast("bigint")
            .alias("phi_q6"),
        )
        .orderBy("pct")
    )


def _haar_oracle() -> str:
    stages = [
        """
    daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), d0 AS (
        SELECT s.idx, coalesce(d.c, 0) AS v
        FROM (SELECT unnest(generate_series(0, 31)) AS idx) s
        LEFT JOIN (SELECT day - (SELECT min(day) FROM daily) AS idx, c
                   FROM daily) d ON d.idx = s.idx
    )"""
    ]
    for lv in range(1, 6):
        stages.append(
            f"""
    p{lv} AS MATERIALIZED (
        SELECT idx // 2 AS idx,
               max(CASE WHEN idx % 2 = 0 THEN v END)
                   + max(CASE WHEN idx % 2 = 1 THEN v END) AS v,
               max(CASE WHEN idx % 2 = 0 THEN v END)
                   - max(CASE WHEN idx % 2 = 1 THEN v END) AS w
        FROM d{lv - 1} GROUP BY idx // 2
    ), d{lv} AS (SELECT idx, v FROM p{lv})"""
        )
    levels = " UNION ALL ".join(
        f"SELECT {lv} AS level, CAST(count(*) AS BIGINT) AS n_coeffs, "
        f"CAST(sum(w * w) AS BIGINT) AS energy FROM p{lv}"
        for lv in range(1, 6)
    )
    return (
        "WITH "
        + ",".join(stages)
        + f""",
    lvls AS ({levels}),
    tot AS (SELECT CAST(sum(v * v) AS BIGINT) AS e FROM d0)
    SELECT l.level, l.n_coeffs, l.energy,
           -- nullif: a zero-energy (empty/constant-zero) series has no
           -- defined shares (r11 fuzz: integer-div-by-zero both engines)
           CAST(l.energy * 1000000 // nullif(t.e, 0) AS BIGINT) AS share_q6
    FROM lvls l CROSS JOIN tot t
    ORDER BY l.level
    """
    )


@register(
    "events_haar_wavelet_energy",
    oracle=_haar_oracle(),
    doc="Haar wavelet energy decomposition of the daily volume series "
    "(the multi-resolution spectral profile WITHOUT trigonometry — "
    "pairwise sum/difference cascades are exact integers, so unlike an "
    "FFT this decomposition is engine-exact): the 30-day series "
    "zero-pads to 32, five levels of (a+b, a-b) pair reduction; detail "
    "energy per level = sum of squared wavelet coefficients, share "
    "against total signal energy (Parseval up to the unnormalized "
    "Haar scaling — documented, deterministic). Level k energy "
    "localizes variance at the 2^k-day scale: weekly seasonality "
    "concentrates in levels 2-3. Day-grain throughout after one keyed "
    "count; 5 rounds at <=32-row grain.",
)
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    mind = daily.agg(F.min("day").alias("m0"))
    idxd = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("day", "m0").cast("bigint").alias("idx"), "c"
    )
    spine = spark.range(32).select(F.col("id").cast("bigint").alias("idx"))
    # checkpoint (round 9): the base level feeds tot + all 5 pyramid
    # levels, and each level's `pairs` feeds its energy row AND the next
    # level — unmaterialized, the events daily-count subtree re-nests
    # once per level into the final union (the emb_pca_power_iter
    # finding; every materialized table here is <= 32 rows)
    level = spine.join(idxd, "idx", "left").select(
        "idx", F.coalesce("c", F.lit(0)).cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    tot = level.agg(F.sum(F.col("v") * F.col("v")).cast("bigint").alias("e"))
    outs = []
    for lv in range(1, 6):
        pairs = level.groupBy(F.expr("idx div 2").alias("idx")).agg(
            (
                F.max(F.when(F.col("idx") % 2 == 0, F.col("v")))
                + F.max(F.when(F.col("idx") % 2 == 1, F.col("v")))
            ).alias("v"),
            (
                F.max(F.when(F.col("idx") % 2 == 0, F.col("v")))
                - F.max(F.when(F.col("idx") % 2 == 1, F.col("v")))
            ).alias("w"),
        )
        pairs = pairs.localCheckpoint(eager=False)
        outs.append(
            pairs.agg(
                F.lit(lv).cast("bigint").alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
                F.sum(F.col("w") * F.col("w")).cast("bigint").alias("energy"),
            )
        )
        level = pairs.select("idx", "v")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return (
        res.crossJoin(F.broadcast(tot))
        .select(
            "level",
            "n_coeffs",
            "energy",
            F.expr("energy * 1000000 div nullif(e, 0)")
            .cast("bigint")
            .alias("share_q6"),
        )
        .orderBy("level")
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH uni AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                AS t
            FROM documents) WHERE t != '' GROUP BY t
    ), ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rk
        FROM uni
    ), pts AS (
        SELECT CAST(floor(1000000.0 * log2(CAST(rk AS DOUBLE))) AS BIGINT)
                   AS x,
               CAST(floor(1000000.0 * log2(CAST(c AS DOUBLE))) AS BIGINT)
                   AS y
        FROM ranked WHERE rk <= 50
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT n,
           -- degenerate corpus (n <= 1 rank point: zero x-variance):
           -- the OLS denominator is 0 and the NaN/Infinity -> BIGINT
           -- cast would abort; slope/intercept are undefined -> NULL
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
           CAST(floor(1000000.0
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
           END AS slope_q6,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
           CAST(floor((CAST(sy AS DOUBLE)
               - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)
           END AS intercept_q6
    FROM m
    """,
    doc="Zipf rank-frequency fit: log-log OLS over the top-50 word "
    "ranks — a healthy natural-language corpus slopes near -1, and "
    "drift in the slope is a corpus-quality signal (template spam "
    "flattens it). log2 points are floor-quantized PER RANK into "
    "exact integers first (the established per-item discipline), so "
    "the OLS moment sums are order-free BIGINTs and only the final "
    "slope/intercept touch doubles (identical expressions). One "
    "tokenize groupBy; the fit runs on the bounded rank panel.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text

    d = load(spark, sf_dir, "documents")
    uni = (
        d.select(
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rw = Window.orderBy(F.desc("c"), "t")
    pts = (
        uni.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= 50)
        .select(
            F.floor(1000000.0 * F.log2(F.col("rk").cast("double")))
            .cast("bigint")
            .alias("x"),
            F.floor(1000000.0 * F.log2(F.col("c").cast("double")))
            .cast("bigint")
            .alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d_ = lambda c: F.col(c).cast("double")
    slope = (d_("n") * d_("sxy") - d_("sx") * d_("sy")) / (
        d_("n") * d_("sxx") - d_("sx") * d_("sx")
    )
    # degenerate corpus (<= 1 rank point): zero x-variance makes the OLS
    # denominator 0 — undefined fit goes NULL instead of an ANSI abort
    ok = d_("n") * d_("sxx") - d_("sx") * d_("sx") > 0
    return m.select(
        "n",
        F.when(ok, F.floor(1000000.0 * slope).cast("bigint")).alias("slope_q6"),
        F.when(ok, F.floor((d_("sy") - slope * d_("sx")) / d_("n")).cast("bigint"))
        .alias("intercept_q6"),
    )


@register(
    "stats_youden_j_threshold",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS actual,
               {_lang_scores_sql()}
        FROM documents
    ), conf AS (
        SELECT
           CASE WHEN (CASE
                WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es >= greatest(s_de, s_fr, s_zh)       THEN 'es'
                WHEN s_de >= greatest(s_fr, s_zh)             THEN 'de'
                WHEN s_fr >= s_zh                             THEN 'fr'
                ELSE 'zh' END) = actual THEN 1 ELSE 0 END AS correct,
           CASE WHEN s_en + s_es + s_de + s_fr + s_zh > 0
                THEN CAST(greatest(s_en, s_es, s_de, s_fr, s_zh) AS BIGINT)
                     * 1000000 // (s_en + s_es + s_de + s_fr + s_zh)
                ELSE 200000 END AS conf_q6
        FROM scored
    ), hist AS (
        SELECT conf_q6, CAST(sum(correct) AS BIGINT) AS n_corr,
               CAST(count(*) - sum(correct) AS BIGINT) AS n_inc
        FROM conf GROUP BY conf_q6
    ), tot AS (
        SELECT CAST(sum(n_corr) AS BIGINT) AS p,
               CAST(sum(n_inc) AS BIGINT) AS neg
        FROM hist
    ), sweep AS (
        SELECT conf_q6 AS threshold,
               sum(n_corr) OVER (ORDER BY conf_q6 DESC
                                 ROWS UNBOUNDED PRECEDING) AS tp,
               sum(n_inc) OVER (ORDER BY conf_q6 DESC
                                ROWS UNBOUNDED PRECEDING) AS fp
        FROM hist
    ), j AS (
        -- a degenerate predictor (zero positives or zero negatives)
        -- must yield a 0 rate term, not a DIVIDE_BY_ZERO abort
        SELECT s.threshold, CAST(s.tp AS BIGINT) AS tp,
               CAST(s.fp AS BIGINT) AS fp,
               CAST(CASE WHEN t.p > 0 THEN s.tp * 1000000 // t.p ELSE 0 END
                    - CASE WHEN t.neg > 0 THEN s.fp * 1000000 // t.neg
                           ELSE 0 END AS BIGINT) AS j_q6,
               t.p, t.neg
        FROM sweep s CROSS JOIN tot t
    )
    SELECT threshold, tp, fp, p AS n_pos, neg AS n_neg, j_q6
    FROM (SELECT *, row_number() OVER (
              ORDER BY j_q6 DESC, threshold) AS rk FROM j)
    WHERE rk = 1
    """,
    doc="optimal operating threshold by Youden's J (sensitivity + "
    "specificity - 1; the ROC-analysis head for picking a confidence "
    "cutoff): sweep every value on the lang-id confidence lattice, "
    "TP/FP as suffix cumsums over the score histogram, J in exact "
    "micro-units (two truncating integer divisions — zero float), "
    "argmax with the deterministic (J desc, threshold asc) rank. One "
    "corpus scan; the sweep runs at confidence-lattice grain — the "
    "way a curation pipeline tunes its accept threshold.",
)
def stats_youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.queries.text import lang_conf, lang_pred, lang_scores

    d = load(spark, sf_dir, "documents")
    sc = lang_scores(F.col("text"))
    pred = lang_pred(sc)
    mx, total = lang_conf(sc)
    base = d.select(
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("correct"),
        mx.cast("bigint").alias("mx"),
        total.cast("bigint").alias("tt"),
    )
    conf = base.select(
        "correct",
        F.when(F.col("tt") > 0, F.expr("mx * 1000000 div tt"))
        .otherwise(F.lit(200000))
        .cast("bigint")
        .alias("conf_q6"),
    )
    hist = conf.groupBy("conf_q6").agg(
        F.sum("correct").cast("bigint").alias("n_corr"),
        (F.count(F.lit(1)) - F.sum("correct")).cast("bigint").alias("n_inc"),
    )
    tot = hist.agg(
        F.sum("n_corr").cast("bigint").alias("p"),
        F.sum("n_inc").cast("bigint").alias("neg"),
    )
    wdesc = Window.orderBy(F.desc("conf_q6")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = hist.select(
        F.col("conf_q6").alias("threshold"),
        F.sum("n_corr").over(wdesc).cast("bigint").alias("tp"),
        F.sum("n_inc").over(wdesc).cast("bigint").alias("fp"),
    )
    # degenerate predictor (p = 0 or neg = 0): rate term is 0, never an
    # ANSI DIVIDE_BY_ZERO abort — mirrors the oracle's CASE guards
    j = sweep.crossJoin(F.broadcast(tot)).select(
        "threshold",
        "tp",
        "fp",
        F.col("p").alias("n_pos"),
        F.col("neg").alias("n_neg"),
        (
            F.when(F.col("p") > 0, F.expr("tp * 1000000 div p")).otherwise(0)
            - F.when(F.col("neg") > 0, F.expr("fp * 1000000 div neg")).otherwise(0)
        )
        .cast("bigint")
        .alias("j_q6"),
    )
    rw = Window.orderBy(F.desc("j_q6"), "threshold")
    return (
        j.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") == 1)
        .select("threshold", "tp", "fp", "n_pos", "n_neg", "j_q6")
    )


def _er_cluster_oracle() -> str:
    from cudf_spark.queries.analytics3 import _soundex_sql

    return f"""
    WITH RECURSIVE names AS (
        SELECT DISTINCT p_name AS name,
               string_split(p_name, ' ')[1] AS w1
        FROM part
    ), blocked AS (
        SELECT name, {_soundex_sql('w1')} AS block FROM names
    ), pairs AS (
        SELECT a.name AS na, b.name AS nb
        FROM blocked a JOIN blocked b
          ON b.block = a.block AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 3
    ), edges AS (
        SELECT na AS u, nb AS v FROM pairs
        UNION ALL SELECT nb, na FROM pairs
    ), reach AS (
        SELECT u AS node, u AS label FROM edges
        UNION
        SELECT e.v AS node, r.label
        FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.label < e.v
    ), membership AS (
        SELECT node, min(label) AS entity FROM reach GROUP BY node
    )
    SELECT entity,
           CAST(count(*) AS BIGINT) AS n_names,
           string_agg(node, '|' ORDER BY node) AS members
    FROM membership GROUP BY entity
    ORDER BY entity
    """


@register(
    "er_cluster_entities",
    oracle=_er_cluster_oracle(),
    doc="entity-resolution TRANSITIVE CLOSURE — the end of the linkage "
    "pipeline er_blocked_linkage starts: soundex-blocked Levenshtein "
    "match pairs chain into entities via min-label connected "
    "components (operators/graphs.py connected_components — the same "
    "keyed-propagation engine the dedup clusters use; string labels "
    "propagate by lexicographic min). Entity id = canonical "
    "(minimum) name; members listed sorted. The oracle closes the "
    "identical pair graph with a recursive CTE. Match graphs are "
    "bounded by the blocking, so CC rounds stay shallow.",
)
def er_cluster_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.graphs import connected_components

    p = load(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct().select(
        "name", F.split("name", " ").getItem(0).alias("w1")
    )
    blocked = names.select("name", F.soundex("w1").alias("block"))
    a = blocked.select("block", F.col("name").alias("na"))
    b = blocked.select(F.col("block").alias("b2"), F.col("name").alias("nb"))
    pairs = (
        a.join(b, (F.col("block") == F.col("b2")) & (F.col("na") < F.col("nb")))
        .filter(F.levenshtein("na", "nb") <= 3)
        .select("na", "nb")
    )
    cc = connected_components(pairs, "na", "nb")
    return (
        cc.groupBy(F.col("component").alias("entity"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_names"),
            F.array_join(F.array_sort(F.collect_list("node")), "|").alias(
                "members"
            ),
        )
        .orderBy("entity")
    )


@register(
    "mining_association_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), n AS (
        SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM baskets
    ), supp AS (
        SELECT p, CAST(count(*) AS BIGINT) AS s FROM baskets GROUP BY p
    ), pairs AS (
        SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c
        FROM baskets a JOIN baskets b ON b.o = a.o AND a.p < b.p
        GROUP BY a.p, b.p
    ), rules AS (
        SELECT pa AS ante, pb AS cons, c FROM pairs WHERE c >= 2
        UNION ALL
        SELECT pb AS ante, pa AS cons, c FROM pairs WHERE c >= 2
    )
    SELECT r.ante, r.cons, r.c AS n_both,
           CAST(r.c * 1000000 // sa.s AS BIGINT) AS conf_q6,
           CAST(r.c * n.n_orders * 1000000 // (sa.s * sc.s) AS BIGINT)
               AS lift_q6
    FROM rules r
    JOIN supp sa ON sa.p = r.ante
    JOIN supp sc ON sc.p = r.cons
    CROSS JOIN n
    ORDER BY lift_q6 DESC, r.ante, r.cons LIMIT 20
    """,
    doc="market-basket association rules (Agrawal & Srikant 1994 — "
    "support/confidence/lift over order baskets, the retail data-"
    "mining classic and the transactional sibling of "
    "text_pmi_collocations): pair supports from one order-keyed "
    "self-join on the distinct basket table, directed rules both "
    "ways at min support 2 (see in-code note on threshold scaling), confidence c/supp(ante) and lift "
    "N*c/(supp_a*supp_c) entirely in TRUNCATING INTEGER micro-units "
    "(c*N*1e6 stays under 2^63 at any per-pair support the basket "
    "model can produce). Top-20 by (lift desc, rule). Scale: basket "
    "self-join fan-out is bounded by basket size squared; every "
    "shuffle keys on order or part.",
)
def mining_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = baskets.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    supp = baskets.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # floor 2 = the minimum co-occurrence evidence. This fixture's
        # basket model DILUTES pair support as scale grows (key space
        # outpaces orders: max pair count is 5/5/3 at the three SFs), so
        # any higher absolute — or even relative — floor silently empties
        # at sf0.1 (the SKILL.md degenerate-threshold lesson, caught by
        # the 3-SF sweep). Production sets relative min-support on real
        # baskets, where support grows with scale.
        .filter(F.col("c") >= 2)
    )
    rules = pairs.select(
        F.col("pa").alias("ante"), F.col("pb").alias("cons"), "c"
    ).unionByName(
        pairs.select(F.col("pb").alias("ante"), F.col("pa").alias("cons"), "c")
    )
    sa = supp.select(F.col("p").alias("ante"), F.col("s").alias("s_a"))
    sc = supp.select(F.col("p").alias("cons"), F.col("s").alias("s_c"))
    return (
        rules.join(sa, "ante")
        .join(sc, "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            F.col("c").alias("n_both"),
            F.expr("c * 1000000 div s_a").cast("bigint").alias("conf_q6"),
            F.expr("c * n_orders * 1000000 div (s_a * s_c)")
            .cast("bigint")
            .alias("lift_q6"),
        )
        .orderBy(F.desc("lift_q6"), "ante", "cons")
        .limit(20)
    )


@register(
    "stats_friedman_test",
    oracle="""
    WITH daily AS (
        SELECT (day(CAST(ts AS TIMESTAMP)) - 1) // 7 AS blk,
               CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS c
        FROM events
        WHERE day(CAST(ts AS TIMESTAMP)) <= 28
        GROUP BY 1, 2
    ), ranked AS (
        -- x2-scaled midranks within each week block (exact on ties)
        SELECT blk, dow,
               CAST((SELECT count(*) FROM daily i
                     WHERE i.blk = daily.blk AND i.c < daily.c)
                    + (SELECT count(*) FROM daily i
                       WHERE i.blk = daily.blk AND i.c <= daily.c)
                    + 1 AS BIGINT) AS r2
        FROM daily
    ), sums AS (
        SELECT dow, CAST(sum(r2) AS BIGINT) AS rj2 FROM ranked GROUP BY dow
    ), m AS (
        SELECT CAST(count(DISTINCT blk) AS BIGINT) AS n,
               CAST(count(DISTINCT dow) AS BIGINT) AS k
        FROM daily
    )
    SELECT m.n AS n_blocks, m.k,
           CAST(floor(1000000.0 * (
               12.0 * sum(CAST(s.rj2 AS DOUBLE) * CAST(s.rj2 AS DOUBLE))
                   / (4.0 * CAST(m.n AS DOUBLE) * CAST(m.k AS DOUBLE)
                      * (CAST(m.k AS DOUBLE) + 1.0))
               - 3.0 * CAST(m.n AS DOUBLE) * (CAST(m.k AS DOUBLE) + 1.0)))
               AS BIGINT) AS q_q6
    FROM sums s CROSS JOIN m
    GROUP BY m.n, m.k
    """,
    doc="Friedman rank test across day-of-week treatments in complete "
    "week blocks (Friedman 1937 — the nonparametric repeated-measures "
    "ANOVA; blocks = the month's four full weeks, k = 7 weekdays): "
    "within-block midranks kept x2-SCALED so ties stay exact integers "
    "(the stats_spearman_rho discipline), rank sums in BIGINT, and "
    "only the final Q = 12/(nk(k+1)) * sum R_j^2 - 3n(k+1) touches "
    "doubles in one identical expression (the /4 folds the x2 "
    "scaling). Day-of-week aligned +1 to Spark's convention (the "
    "agg_entropy_gini lesson). Day-grain after one keyed count.",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.dayofmonth("ts") <= 28)
        .groupBy(
            F.expr("(day(ts) - 1) div 7").alias("blk"),
            F.dayofweek("ts").cast("bigint").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # midrank2 via conditional counts inside one block-keyed self-join
    d2 = daily.select(
        F.col("blk").alias("b2"), F.col("c").alias("c2")
    )
    ranked = (
        daily.join(d2, F.col("b2") == F.col("blk"))
        .groupBy("blk", "dow", "c")
        .agg(
            (
                F.sum(F.when(F.col("c2") < F.col("c"), 1).otherwise(0))
                + F.sum(F.when(F.col("c2") <= F.col("c"), 1).otherwise(0))
                + 1
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    sums = ranked.groupBy("dow").agg(F.sum("r2").cast("bigint").alias("rj2"))
    m = daily.agg(
        F.countDistinct("blk").cast("bigint").alias("n"),
        F.countDistinct("dow").cast("bigint").alias("k"),
    )
    d_ = lambda c: F.col(c).cast("double")
    return (
        sums.crossJoin(F.broadcast(m))
        .groupBy("n", "k")
        .agg(
            F.floor(
                1000000.0
                * (
                    12.0
                    * F.sum(d_("rj2") * d_("rj2"))
                    / (4.0 * d_("n") * d_("k") * (d_("k") + 1.0))
                    - 3.0 * d_("n") * (d_("k") + 1.0)
                )
            )
            .cast("bigint")
            .alias("q_q6")
        )
        .select(F.col("n").alias("n_blocks"), "k", "q_q6")
    )


_IO_AGG_ORACLE = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(sum(event_id) AS BIGINT) AS sum_eid
        FROM events GROUP BY event_type
"""


@register(
    "io_avro_roundtrip_agg",
    oracle=f"""
    SELECT * FROM ({_IO_AGG_ORACLE}) ORDER BY event_type
    """,
    doc="the spec Avro reader+WRITER (sources/avro.py — the writer "
    "exceeds reference parity: cpp/include/cudf/io/avro.hpp is "
    "read-only) proven under the DRIVER's hash gate, not just pytest: "
    "the builder projects events to primitives, writes spec-conformant "
    "OCF part-files (one per partition, deflate codec) to a temp dir "
    "through the distributed mapInPandas sink, reads them back through "
    "the byte-range distributed reader, and aggregates — the "
    "oracle computes the same aggregate straight from parquet, so any "
    "encode/decode corruption (varint, zigzag, sync markers, codec) "
    "hash-mismatches. Temp dir removed in a finally.",
)
def io_avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from cudf_spark.sources.avro import read_avro, write_avro_dataframe

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    tmp = tempfile.mkdtemp(prefix="avro_rt_")
    try:
        write_avro_dataframe(ev, tmp, codec="deflate")
        back = read_avro(spark, tmp)
        out = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                F.sum("event_id").cast("bigint").alias("sum_eid"),
            )
            .orderBy("event_type")
        )
        rows = out.collect()  # materialize before the dir disappears
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n bigint, sum_cents bigint, sum_eid bigint"
    ).orderBy("event_type")


@register(
    "io_multiformat_roundtrip",
    oracle=f"""
    WITH agg AS ({_IO_AGG_ORACLE})
    SELECT f.fmt, a.event_type, a.n, a.sum_cents, a.sum_eid
    FROM agg a
    CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
    ORDER BY f.fmt, a.event_type
    """,
    doc="CSV / JSON / ORC round-trips under the DRIVER's hash gate (the "
    "builtin-source family previously proven only in pytest): the "
    "builder writes the primitive projection through each format's "
    "Spark sink with an explicit read-back schema (CSV and JSON are "
    "schemaless on disk — the read supplies the DDL), aggregates each "
    "read-back, and emits one row set per format; the oracle expects "
    "every format to reproduce the parquet-derived aggregate exactly. "
    "A type-coercion bug in any lane (CSV integer parsing, JSON "
    "field ordering, ORC nulls) breaks that lane's rows only, so the "
    "mismatch localizes. Temp dirs removed in a finally.",
)
def io_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    ddl = "event_id long, user_id long, event_type string, cents long, us long"
    tmp = tempfile.mkdtemp(prefix="multifmt_rt_")
    try:
        outs = []
        for fmt in ("csv", "json", "orc"):
            path = os.path.join(tmp, fmt)
            w = ev.write.mode("overwrite")
            if fmt == "csv":
                w.option("header", "true").csv(path)
                back = spark.read.schema(ddl).option("header", "true").csv(path)
            elif fmt == "json":
                w.json(path)
                back = spark.read.schema(ddl).json(path)
            else:
                w.orc(path)
                back = spark.read.orc(path)
            outs.append(
                back.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                    F.sum("event_id").cast("bigint").alias("sum_eid"),
                )
                .withColumn("fmt", F.lit(fmt))
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        rows = res.select(
            "fmt", "event_type", "n", "sum_cents", "sum_eid"
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "fmt string, event_type string, n bigint, sum_cents bigint,"
        " sum_eid bigint",
    ).orderBy("fmt", "event_type")


@register(
    "io_parquet_codec_roundtrip",
    oracle=f"""
    WITH agg AS ({_IO_AGG_ORACLE})
    SELECT f.codec, a.event_type, a.n, a.sum_cents, a.sum_eid
    FROM agg a
    CROSS JOIN (VALUES ('gzip'), ('snappy'), ('zstd')) AS f(codec)
    ORDER BY f.codec, a.event_type
    """,
    doc="parquet compression codecs under the driver's hash gate "
    "(snappy/gzip/zstd — the cpp/src/io compression surface's Spark "
    "counterpart): write the primitive projection once per codec, read "
    "back, aggregate; every lane must reproduce the parquet-source "
    "aggregate bit-for-bit. Complements io_multiformat_roundtrip "
    "(formats) with the codec axis; temp dirs removed in a finally.",
)
def io_parquet_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    tmp = tempfile.mkdtemp(prefix="codec_rt_")
    try:
        outs = []
        for codec in ("gzip", "snappy", "zstd"):
            path = os.path.join(tmp, codec)
            ev.write.mode("overwrite").option("compression", codec).parquet(path)
            back = spark.read.parquet(path)
            outs.append(
                back.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                    F.sum("event_id").cast("bigint").alias("sum_eid"),
                )
                .withColumn("codec", F.lit(codec))
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        rows = res.select(
            "codec", "event_type", "n", "sum_cents", "sum_eid"
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "codec string, event_type string, n bigint, sum_cents bigint,"
        " sum_eid bigint",
    ).orderBy("codec", "event_type")


@register(
    "io_partitioned_write_pruning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type ORDER BY event_type
    """,
    doc="hive-style partitioned write + partition-PRUNED read under the "
    "driver gate: the builder writes events partitionBy(event_type) to "
    "a temp dir, reads back with an IN filter on the partition column "
    "and aggregates — correctness here plus the plan pin in "
    "tests/test_plans.py (the filtered scan must list only the two "
    "matching partition directories) together prove the No.1 100 TB "
    "scan-cost lever end-to-end: a pruned read touches 2/5ths of the "
    "files, and a value bug in the partition-column round-trip "
    "(type coercion of partition values is a classic Hive trap) "
    "hash-mismatches.",
)
def io_partitioned_write_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="part_prune_")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        # explicit read schema: an EMPTY input writes no partition dirs
        # and schema inference then fails with UNABLE_TO_INFER_SCHEMA
        # (r11 fuzz) — the producer's schema is known, so state it; the
        # partition-pruned plan shape is unchanged (tests/test_plans.py)
        back = spark.read.schema(ev.schema).parquet(tmp).filter(
            F.col("event_type").isin("click", "purchase")
        )
        rows = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n bigint, sum_cents bigint"
    ).orderBy("event_type")


@register(
    "io_bucketed_join_agg",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    ), cl AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS clicks
        FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(pu.cents) AS BIGINT) AS total_cents,
           CAST(sum(cl.clicks) AS BIGINT) AS total_clicks
    FROM pu JOIN cl ON cl.user_id = pu.user_id
    """,
    doc="bucketed-table CO-LOCATED join under the driver gate: two "
    "per-user aggregates write as bucketed saveAsTable tables (8 "
    "buckets on user_id) and join bucket-to-bucket — "
    "tests/test_plans.py pins that THIS join plans as a SortMergeJoin "
    "with NO Exchange on either side (the shuffle the bucketing "
    "pre-paid, the core co-location lever for repeated joins at "
    "100 TB), while the hash gate proves the bucketed write/read "
    "didn't disturb a single row. Tables dropped in a finally.",
)
def io_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("cents")
    )
    cl = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("clicks"))
    )
    tag = uuid.uuid4().hex[:8]
    t1, t2 = f"bkt_pu_{tag}", f"bkt_cl_{tag}"
    try:
        pu.write.bucketBy(8, "user_id").sortBy("user_id").mode(
            "overwrite"
        ).saveAsTable(t1)
        cl.write.bucketBy(8, "user_id").sortBy("user_id").mode(
            "overwrite"
        ).saveAsTable(t2)
        j = spark.table(t1).join(spark.table(t2), "user_id")
        rows = j.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum("clicks").cast("bigint").alias("total_clicks"),
        ).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")
    return spark.createDataFrame(
        rows, "n_users bigint, total_cents bigint, total_clicks bigint"
    )


@register(
    "io_schema_evolution_merge",
    oracle="""
    WITH half AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_id % 2 = 0 THEN user_id END AS uid_new
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(count(uid_new) AS BIGINT) AS n_with_new,
           CAST(sum(coalesce(uid_new, 0)) AS BIGINT) AS sum_new
    FROM half GROUP BY event_type ORDER BY event_type
    """,
    doc="parquet SCHEMA EVOLUTION under the driver gate: generation 1 "
    "(odd event ids) writes WITHOUT the uid_new column, generation 2 "
    "(even ids) writes WITH it; a mergeSchema read unions the files "
    "and the old generation's rows must surface the added column as "
    "NULL — count(uid_new) therefore counts exactly the new-generation "
    "rows. The add-a-column migration every long-lived table goes "
    "through, proven by value hash: a reader that defaulted the "
    "missing column to 0 instead of NULL, or misaligned columns by "
    "position, mismatches. Temp dir removed in a finally.",
)
def io_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "user_id",
    )
    tmp = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        gen1 = ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "cents"
        )
        gen2 = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id",
            "event_type",
            "cents",
            F.col("user_id").alias("uid_new"),
        )
        gen1.write.mode("overwrite").parquet(os.path.join(tmp, "g=1"))
        gen2.write.mode("overwrite").parquet(os.path.join(tmp, "g=2"))
        back = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(tmp, "g=1"), os.path.join(tmp, "g=2")
        )
        rows = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                F.count("uid_new").cast("bigint").alias("n_with_new"),
                F.sum(F.coalesce("uid_new", F.lit(0)))
                .cast("bigint")
                .alias("sum_new"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n bigint, sum_cents bigint, n_with_new bigint,"
        " sum_new bigint",
    ).orderBy("event_type")


@register(
    "stream_checkpoint_exactly_once",
    oracle="""
    WITH h AS (
        SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' ||
                    CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           -- coalesce: the engine's XOR accumulator starts at 0, so an
           -- empty table fingerprints as 0, not NULL (r11 fuzz, seed 2)
           CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS fingerprint,
           CAST(2 AS BIGINT) AS n_runs
    FROM h
    """,
    doc="CHECKPOINT RECOVERY exactly-once proof: the events table lands "
    "as four files; run 1 starts an availableNow stream with a "
    "checkpointLocation while only files 1-2 exist, terminates, files "
    "3-4 arrive, and run 2 RESUMES FROM THE SAME CHECKPOINT — the "
    "file-source offset log must replay nothing and skip nothing, so "
    "the (count, XOR-fingerprint) accumulated across both runs equals "
    "the one-shot batch value the oracle pins. A duplicated or dropped "
    "batch flips the fingerprint (XOR is its own inverse — one row off "
    "is visible). This is the restart-safety guarantee the streaming "
    "family's availableNow proofs assumed; here it is the subject.",
)
def stream_checkpoint_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from cudf_spark.functions.hashing import hash60

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    tmp = tempfile.mkdtemp(prefix="ckpt_once_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(src)
    state = {"n": 0, "x": 0, "runs": 0}
    try:
        # stage the four files outside the source dir first
        stage = os.path.join(tmp, "stage")
        ev.repartition(4).write.mode("overwrite").parquet(stage)
        parts = sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        # r11 fuzz finding (seed 2, empty events table): repartition(4)
        # of an EMPTY frame writes a single (or zero) part file and the
        # former `assert len(parts) >= 2` aborted the query. The proof
        # degrades gracefully instead: run 1 sees the first half (which
        # may be everything, or nothing), run 2 the remainder — an
        # availableNow restart over zero new files is itself a valid
        # exactly-once case (offset log replays nothing, skips nothing).
        half = max(1, len(parts) // 2) if parts else 0

        def per_batch(bdf, _bid):
            row = bdf.select(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(h)").alias("x"),
            ).collect()[0]
            if row["n"]:
                state["n"] += int(row["n"])
                state["x"] ^= int(row["x"] or 0)

        def run_once():
            stream = (
                spark.readStream.schema("event_id long, user_id long")
                .parquet(src)
                .select(
                    hash60(
                        F.concat_ws(
                            "|",
                            F.col("event_id").cast("string"),
                            F.col("user_id").cast("string"),
                        )
                    ).alias("h")
                )
            )
            q = (
                stream.writeStream.foreachBatch(per_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "checkpoint-recovery stream did not finish in 300s"
                )
            state["runs"] += 1

        for f in parts[:half]:
            shutil.copyfile(os.path.join(stage, f), os.path.join(src, f))
        run_once()
        for f in parts[half:]:
            shutil.copyfile(os.path.join(stage, f), os.path.join(src, f))
        run_once()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(state["n"], state["x"], state["runs"])],
        "n_rows bigint, fingerprint bigint, n_runs bigint",
    )


@register(
    "stats_meta_fixed_effect",
    oracle="""
    WITH cells AS (
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS stratum,
               CAST(user_id % 2 AS BIGINT) AS grp,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), m AS (
        SELECT stratum, grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS ss
        FROM cells GROUP BY stratum, grp
    ), wide AS (
        SELECT stratum,
               max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 1 THEN s END) AS s1,
               max(CASE WHEN grp = 1 THEN ss END) AS ss1,
               max(CASE WHEN grp = 0 THEN n END) AS n0,
               max(CASE WHEN grp = 0 THEN s END) AS s0,
               max(CASE WHEN grp = 0 THEN ss END) AS ss0
        FROM m GROUP BY stratum
    ), per AS (
        -- per-stratum effect (mean diff, cents) and its variance; both
        -- quantized AT STRATUM GRAIN so pooled sums are order-free
        SELECT stratum,
            CAST(floor(1000000.0 * (CAST(s1 AS DOUBLE) / n1
                                    - CAST(s0 AS DOUBLE) / n0)) AS BIGINT)
                AS eff_q6,
            CAST(floor(1000000000.0 / (
                  (CAST(ss1 AS DOUBLE) / n1 - (CAST(s1 AS DOUBLE) / n1)
                       * (CAST(s1 AS DOUBLE) / n1)) / n1
                + (CAST(ss0 AS DOUBLE) / n0 - (CAST(s0 AS DOUBLE) / n0)
                       * (CAST(s0 AS DOUBLE) / n0)) / n0)) AS BIGINT)
                AS w_n9
        FROM wide
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(w_n9) AS BIGINT) AS sum_w_n9,
           CAST(sum(CAST(eff_q6 AS HUGEINT) * w_n9)
                // sum(w_n9) AS BIGINT) AS pooled_eff_q6
    FROM per
    """,
    doc="fixed-effect (inverse-variance weighted) meta-analysis of the "
    "per-stratum treatment effect (Cochran — the continuous-outcome "
    "companion to stats_odds_ratio_mh): per day-of-week stratum the "
    "mean difference and its variance come from exact cent moments, "
    "both floor-quantized AT STRATUM GRAIN (effect in micro-cents, "
    "weight = 1/Var in nano-units) so the pooled numerator and "
    "denominator are order-free integer sums; the pooled effect is "
    "one truncating division (numerator product needs 128-bit — "
    "DuckDB HUGEINT / Spark DECIMAL(38,0), the agg gini discipline). "
    "One groupBy over 14 cells is the data pass.",
)
def stats_meta_fixed_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = ev.select(
        F.dayofweek("ts").cast("bigint").alias("stratum"),
        (F.col("user_id") % 2).cast("bigint").alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    m = cells.groupBy("stratum", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )

    def cell(g, c):
        return F.max(F.when(F.col("grp") == g, F.col(c))).alias(f"{c}{g}")

    wide = m.groupBy("stratum").agg(
        *[cell(g, c) for g in (1, 0) for c in ("n", "s", "ss")]
    )
    d = lambda c: F.col(c).cast("double")
    eff = F.floor(
        1000000.0 * (d("s1") / F.col("n1") - d("s0") / F.col("n0"))
    ).cast("bigint")
    var = (
        (d("ss1") / F.col("n1") - (d("s1") / F.col("n1")) * (d("s1") / F.col("n1")))
        / F.col("n1")
        + (d("ss0") / F.col("n0") - (d("s0") / F.col("n0")) * (d("s0") / F.col("n0")))
        / F.col("n0")
    )
    per = wide.select(
        "stratum",
        eff.alias("eff_q6"),
        F.floor(1000000000.0 / var).cast("bigint").alias("w_n9"),
    )
    dec = "decimal(38,0)"
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("w_n9").cast("bigint").alias("sum_w_n9"),
        F.expr(
            f"CAST(sum(CAST(eff_q6 AS {dec}) * w_n9)"
            f" div CAST(sum(w_n9) AS {dec}) AS BIGINT)"
        ).alias("pooled_eff_q6"),
    )


@register(
    "text_readability_fk",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        FROM documents
    ), feats AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(nt, ' '), w -> w != ''))
                    AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(nt, '[.!?]')), 1)
                    AS BIGINT) AS n_sents,
               CAST(list_sum(list_transform(
                   list_filter(string_split(nt, ' '), w -> w != ''),
                   w -> CAST(greatest(
                       len(regexp_extract_all(w, '[aeiouy]+')), 1)
                       AS BIGINT))) AS BIGINT) AS n_syll
        FROM d
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           CAST(39 * n_words * 1000000 // (100 * n_sents)
                + 118 * n_syll * 1000000 // (10 * n_words)
                - 15590000 AS BIGINT) AS fk_grade_q6
    FROM feats ORDER BY doc_id LIMIT 200
    """,
    doc="Flesch-Kincaid grade level (Kincaid 1975) with the vowel-group "
    "syllable heuristic: syllables per word = count of maximal "
    "[aeiouy]+ runs (min 1), sentences = terminal-punctuation count "
    "(min 1), and the grade 0.39*(W/S) + 11.8*(Syl/W) - 15.59 "
    "evaluated as EXACT RATIONALS (39/100, 118/10, 1559/100 — the "
    "coefficients are decimal literals, so truncating integer "
    "micro-division reproduces them with zero float). The "
    "readability gate curation pipelines run beside the Gopher "
    "heuristics; one tokenize pass, all codegen.",
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text

    d = load(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("nt")
    )
    words = F.filter(F.split(F.col("nt"), " "), lambda w: w != "")
    syll = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
            F.lit(1),
        ).cast("bigint"),
    )
    feats = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("nt"), F.lit("[.!?]"), F.lit(0))),
            F.lit(1),
        )
        .cast("bigint")
        .alias("n_sents"),
        syll.alias("n_syll"),
    )
    return (
        feats.select(
            "doc_id",
            "n_words",
            "n_sents",
            "n_syll",
            F.expr(
                "39 * n_words * 1000000 div (100 * n_sents)"
                " + 118 * n_syll * 1000000 div (10 * n_words)"
                " - 15590000"
            )
            .cast("bigint")
            .alias("fk_grade_q6"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@register(
    "ml_pr_auc",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS actual,
               {_lang_scores_sql()}
        FROM documents
    ), conf AS (
        SELECT
           CASE WHEN (CASE
                WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es >= greatest(s_de, s_fr, s_zh)       THEN 'es'
                WHEN s_de >= greatest(s_fr, s_zh)             THEN 'de'
                WHEN s_fr >= s_zh                             THEN 'fr'
                ELSE 'zh' END) = actual THEN 1 ELSE 0 END AS pos,
           CASE WHEN s_en + s_es + s_de + s_fr + s_zh > 0
                THEN CAST(greatest(s_en, s_es, s_de, s_fr, s_zh) AS BIGINT)
                     * 1000000 // (s_en + s_es + s_de + s_fr + s_zh)
                ELSE 200000 END AS conf_q6
        FROM scored
    ), hist AS (
        SELECT conf_q6, CAST(sum(pos) AS BIGINT) AS np,
               CAST(count(*) AS BIGINT) AS nt
        FROM conf GROUP BY conf_q6
    ), tot AS (SELECT CAST(sum(np) AS BIGINT) AS p FROM hist),
    sweep AS (
        SELECT conf_q6,
               sum(np) OVER (ORDER BY conf_q6 DESC
                             ROWS UNBOUNDED PRECEDING) AS tp,
               sum(nt) OVER (ORDER BY conf_q6 DESC
                             ROWS UNBOUNDED PRECEDING) AS n_pred
        FROM hist
    ), steps AS (
        SELECT conf_q6, tp, n_pred,
               coalesce(lag(tp) OVER (ORDER BY conf_q6 DESC), 0) AS tp_prev,
               coalesce(lag(n_pred) OVER (ORDER BY conf_q6 DESC), 0)
                   AS np_prev
        FROM sweep
    ), areas AS (
        -- trapezoid in recall (x) - precision (y); each step's area is
        -- quantized to nano-units AT STEP GRAIN, then summed order-free.
        -- p = 0 (a predictor with zero positives) would make recall
        -- 0/0 = NaN and abort the BIGINT cast — the curve is undefined,
        -- so the area goes NULL instead
        SELECT CASE WHEN t.p > 0 THEN
               CAST(floor(1000000000.0
              * ((CAST(tp AS DOUBLE) - tp_prev) / t.p)
              * ((CAST(tp AS DOUBLE) / n_pred
                  + CASE WHEN np_prev > 0
                         THEN CAST(tp_prev AS DOUBLE) / np_prev
                         ELSE CAST(tp AS DOUBLE) / n_pred END) / 2.0))
              AS BIGINT) END AS a9
        FROM steps CROSS JOIN tot t
    )
    SELECT (SELECT p FROM tot) AS n_pos,
           CAST(sum(a9) AS BIGINT) AS auc_n9,
           CAST(sum(a9) // 1000 AS BIGINT) AS pr_auc_q6
    FROM areas
    """,
    doc="area under the precision-recall curve by the trapezoid rule "
    "over the confidence-lattice sweep (the ranking-quality companion "
    "to stats_youden_j_threshold's single-point J; Davis & Goadrich "
    "2006): TP / predicted-positive cumsums over the score histogram, "
    "per-step trapezoid area floor-quantized to nano-units AT STEP "
    "GRAIN (identical double expression, zero-denominator first step "
    "falls back to the right precision) so the AUC sum is order-free. "
    "One corpus scan; the sweep is lattice grain.",
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.queries.text import lang_conf, lang_pred, lang_scores

    d = load(spark, sf_dir, "documents")
    sc = lang_scores(F.col("text"))
    pred = lang_pred(sc)
    mx, total = lang_conf(sc)
    base = d.select(
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("pos"),
        mx.cast("bigint").alias("mx"),
        total.cast("bigint").alias("tt"),
    )
    conf = base.select(
        "pos",
        F.when(F.col("tt") > 0, F.expr("mx * 1000000 div tt"))
        .otherwise(F.lit(200000))
        .cast("bigint")
        .alias("conf_q6"),
    )
    hist = conf.groupBy("conf_q6").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.count(F.lit(1)).cast("bigint").alias("nt"),
    )
    tot = hist.agg(F.sum("np").cast("bigint").alias("p"))
    wdesc = Window.orderBy(F.desc("conf_q6")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = hist.select(
        "conf_q6",
        F.sum("np").over(wdesc).alias("tp"),
        F.sum("nt").over(wdesc).alias("n_pred"),
    )
    wlag = Window.orderBy(F.desc("conf_q6"))
    steps = sweep.select(
        "tp",
        "n_pred",
        F.coalesce(F.lag("tp").over(wlag), F.lit(0)).alias("tp_prev"),
        F.coalesce(F.lag("n_pred").over(wlag), F.lit(0)).alias("np_prev"),
    )
    d_ = lambda c: F.col(c).cast("double")
    prec_prev = F.when(
        F.col("np_prev") > 0, d_("tp_prev") / F.col("np_prev")
    ).otherwise(d_("tp") / F.col("n_pred"))
    # p = 0 (zero positives): recall is 0/0 = NaN and floor(NaN) aborts
    # the BIGINT cast under ANSI — the PR curve is undefined, area NULL
    a9 = F.when(
        F.col("p") > 0,
        F.floor(
            1000000000.0
            * ((d_("tp") - F.col("tp_prev")) / F.col("p"))
            * ((d_("tp") / F.col("n_pred") + prec_prev) / 2.0)
        ).cast("bigint"),
    )
    areas = steps.crossJoin(F.broadcast(tot)).select(a9.alias("a9"))
    return areas.agg(F.sum("a9").cast("bigint").alias("auc_n9")).crossJoin(
        F.broadcast(tot)
    ).select(
        F.col("p").alias("n_pos"),
        "auc_n9",
        F.expr("auc_n9 div 1000").cast("bigint").alias("pr_auc_q6"),
    )


_FEISTEL_ROUNDS = 4
_FEISTEL_BITS = 10  # 20-bit domain: two 10-bit halves


@register(
    "misc_feistel_permutation",
    oracle=f"""
    WITH ids AS (
        SELECT event_id AS x,
               event_id // {1 << _FEISTEL_BITS} AS l0,
               event_id % {1 << _FEISTEL_BITS} AS r0
        FROM events
    ), f1 AS (
        SELECT x, r0 AS l1,
               xor(l0, CAST(('0x' || substr(md5('f1|' ||
                   CAST(r0 AS VARCHAR)), 1, 15)) AS BIGINT)
                   & {(1 << _FEISTEL_BITS) - 1}) AS r1
        FROM ids
    ), f2 AS (
        SELECT x, r1 AS l2,
               xor(l1, CAST(('0x' || substr(md5('f2|' ||
                   CAST(r1 AS VARCHAR)), 1, 15)) AS BIGINT)
                   & {(1 << _FEISTEL_BITS) - 1}) AS r2
        FROM f1
    ), f3 AS (
        SELECT x, r2 AS l3,
               xor(l2, CAST(('0x' || substr(md5('f3|' ||
                   CAST(r2 AS VARCHAR)), 1, 15)) AS BIGINT)
                   & {(1 << _FEISTEL_BITS) - 1}) AS r3
        FROM f2
    ), f4 AS (
        SELECT x, r3 AS l4,
               xor(l3, CAST(('0x' || substr(md5('f4|' ||
                   CAST(r3 AS VARCHAR)), 1, 15)) AS BIGINT)
                   & {(1 << _FEISTEL_BITS) - 1}) AS r4
        FROM f3
    ), perm AS (
        SELECT x, l4 * {1 << _FEISTEL_BITS} + r4 AS y FROM f4
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT y) AS BIGINT) AS n_distinct,
           CAST(min(y) AS BIGINT) AS min_y,
           CAST(max(y) AS BIGINT) AS max_y,
           CAST(sum(CASE WHEN y = x THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fixed_points,
           CAST(bit_xor(y) AS BIGINT) AS perm_xor
    FROM perm
    """,
    doc="format-preserving PSEUDORANDOM PERMUTATION via a 4-round "
    "balanced Feistel network on the 2^20 id domain (Luby-Rackoff "
    "1988 — the id-anonymization / deterministic-reshuffle primitive: "
    "a keyed bijection with no collision possible BY CONSTRUCTION, "
    "unlike hashing): round function = hash60 of the right half with "
    "a round-tagged seed, masked to 10 bits, XOR-mixed. "
    "n_distinct == n is the bijectivity witness the query itself "
    "carries; fixed points and the XOR of images pin the exact "
    "mapping. Pure codegen integer ops, map-only — the zero-shuffle "
    "way to shuffle data.",
)
def misc_feistel_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.hashing import hash60

    bits = _FEISTEL_BITS
    mask = (1 << bits) - 1
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("x"),
        F.expr(f"event_id div {1 << bits}").alias("l"),
        (F.col("event_id") % (1 << bits)).alias("r"),
    )
    cur = ev
    for rnd in range(1, _FEISTEL_ROUNDS + 1):
        fh = hash60(
            F.concat(F.lit(f"f{rnd}|"), F.col("r").cast("string"))
        ).bitwiseAND(F.lit(mask))
        cur = cur.select(
            "x",
            F.col("r").alias("l"),
            F.col("l").bitwiseXOR(fh).alias("r"),
        )
    perm = cur.select("x", (F.col("l") * (1 << bits) + F.col("r")).alias("y"))
    return perm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("y").cast("bigint").alias("n_distinct"),
        F.min("y").cast("bigint").alias("min_y"),
        F.max("y").cast("bigint").alias("max_y"),
        F.sum(F.when(F.col("y") == F.col("x"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fixed_points"),
        F.expr("bit_xor(y)").cast("bigint").alias("perm_xor"),
    )


@register(
    "events_price_elasticity",
    oracle="""
    WITH binned AS (
        SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS pb,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1
    ), pts AS (
        SELECT CAST(floor(1000000.0 * log2(CAST(pb * 5000 + 2500 AS DOUBLE)))
                    AS BIGINT) AS x,
               CAST(floor(1000000.0 * log2(CAST(qty AS DOUBLE))) AS BIGINT)
                   AS y
        FROM binned WHERE pb >= 0 AND qty > 0
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT n,
           -- single-band degenerate (zero x-variance): slope undefined,
           -- NULL — never a NaN/Infinity -> BIGINT abort
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
           CAST(floor(1000000.0
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
           END AS elasticity_q6
    FROM m
    """,
    doc="price elasticity of demand by log-log regression over the "
    "price-band lattice (the econometrics workhorse: elasticity = "
    "d ln Q / d ln P, estimated as the OLS slope of log quantity on "
    "log band-midpoint price): per-band quantities from one keyed "
    "groupBy, per-band log2 points floor-quantized into exact "
    "integers (the text_zipf_fit discipline — log2, never ln), OLS "
    "moments as BIGINTs, slope in one identical double expression. "
    "Band grain everywhere after the single scan.",
)
def events_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    binned = li.groupBy(
        F.floor(F.col("l_extendedprice") / 5000.0).cast("bigint").alias("pb")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    pts = binned.filter((F.col("pb") >= 0) & (F.col("qty") > 0)).select(
        F.floor(
            1000000.0
            * F.log2((F.col("pb") * 5000 + 2500).cast("double"))
        )
        .cast("bigint")
        .alias("x"),
        F.floor(1000000.0 * F.log2(F.col("qty").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d_ = lambda c: F.col(c).cast("double")
    slope = (d_("n") * d_("sxy") - d_("sx") * d_("sy")) / (
        d_("n") * d_("sxx") - d_("sx") * d_("sx")
    )
    # single-band degenerate: zero x-variance -> slope undefined -> NULL
    return m.select(
        "n",
        F.when(
            d_("n") * d_("sxx") - d_("sx") * d_("sx") > 0,
            F.floor(1000000.0 * slope).cast("bigint"),
        ).alias("elasticity_q6"),
    )


@register(
    "graph_transitivity_global",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), eu AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM eu UNION ALL SELECT v FROM eu)
        GROUP BY node
    ), tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM eu e1
        JOIN eu e2 ON e2.u = e1.v
        JOIN eu e3 ON e3.u = e1.u AND e3.v = e2.v
    ), wedges AS (
        SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg
    )
    SELECT t.t AS n_triangles, w.w AS n_wedges,
           CASE WHEN w.w > 0
                THEN CAST(3 * t.t * 1000000 // w.w AS BIGINT) END
               AS transitivity_q6
    FROM tri t CROSS JOIN wedges w
    """,
    doc="global clustering coefficient (transitivity = 3*triangles / "
    "wedges; Newman 2003 — the one-number cohesion summary over the "
    "same co-ordered graph graph_triangle_count ranks locally): "
    "triangles by the degree-oriented edge-iterator intersection "
    "(operators/graphs.py:triangle_witnesses, round 10 — replaces the "
    "r9 wedge join whose ~36M-row wedge table was the plan's largest "
    "intermediate; each triangle is witnessed once at its lowest-rank "
    "edge, so the count is sum(size(w)); the oracle keeps the naive "
    "triple join as the cross-proof), wedges as the exact sum of "
    "d*(d-1)/2 over the degree table, ratio in truncating micro-units "
    "with the zero-wedge guard.",
)
def graph_transitivity_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.graphs import degree_oriented_edges, triangle_witnesses

    li = load(spark, sf_dir, "lineitem")
    eu = co_occurrence_edges(li, "l_orderkey", "l_partkey", checkpoint=True)
    deg = (
        eu.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    tri = triangle_witnesses(degree_oriented_edges(eu)).agg(
        # coalesce: an empty witnessed set sums to NULL where the old
        # count(*) (and the oracle's triple-join count) gives 0
        F.coalesce(F.sum(F.size("w")), F.lit(0)).cast("bigint").alias("t")
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("w")
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.col("t").alias("n_triangles"),
        F.col("w").alias("n_wedges"),
        F.when(F.col("w") > 0, F.expr("3 * t * 1000000 div w"))
        .cast("bigint")
        .alias("transitivity_q6"),
    )


@register(
    "agg_hdr_latency_percentiles",
    oracle="""
    WITH lat AS (
        -- synthetic latency: microseconds between consecutive events per
        -- user (the interarrival stream re-read as a latency series)
        SELECT us - lag(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS v
        FROM (SELECT user_id, event_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
    ), pos AS (SELECT v FROM lat WHERE v IS NOT NULL AND v > 0),
    bucketed AS (
        -- HdrHistogram bucketing: exponent = floor(log2 v) via bit
        -- length, 8 sub-buckets per octave (3 significant bits)
        SELECT CAST(length(bin(v)) AS BIGINT) AS exponent,
               CAST(CASE WHEN length(bin(v)) <= 3 THEN 0
                    ELSE (v >> (length(bin(v)) - 4)) & 7 END AS BIGINT)
                   AS sub,
               v
        FROM pos
    ), hist AS (
        SELECT exponent, sub, CAST(count(*) AS BIGINT) AS c,
               CAST(min(v) AS BIGINT) AS lo
        FROM bucketed GROUP BY exponent, sub
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cum AS (
        SELECT exponent, sub, lo,
               sum(c) OVER (ORDER BY exponent, sub
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist
    ), picks AS (
        SELECT q.pm,
               (SELECT CAST(min(lo) AS BIGINT) FROM cum, tot
                WHERE 1000 * cum.cum >= q.pm * tot.n) AS bucket_lo
        FROM (VALUES (500), (990), (999)) AS q(pm)
    )
    SELECT pm AS percentile_pm, bucket_lo,
           (SELECT CAST(n AS BIGINT) FROM tot) AS n_samples
    FROM picks ORDER BY pm
    """,
    doc="HdrHistogram-style latency percentiles (Tene's High Dynamic "
    "Range histogram — THE latency-SLO data structure: log2 octaves x "
    "8 sub-buckets give ~12% worst-case relative error at any "
    "magnitude with a few hundred fixed buckets): inter-event gaps as "
    "the latency series, bucket = (bit length, top-3-bits sub-bucket) "
    "in pure integer shift/mask codegen, p50/p99/p999 by the exact "
    "rank rule over the bucket cumsum, reported as the bucket's "
    "observed floor. The fixed bucket table is what makes the sketch "
    "mergeable across runs at 100 TB (the sketches-family contract); "
    "one keyed lag + one groupBy is the data pass.",
)
def agg_hdr_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lat = ev.select((F.col("us") - F.lag("us").over(w)).alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") > 0)
    )
    blen = F.length(F.bin("v")).cast("bigint")
    # the python shiftrightunsigned only takes a literal shift — the SQL
    # form accepts a column expression
    sub = (
        F.when(blen <= 3, F.lit(0))
        .otherwise(
            F.expr(
                "shiftrightunsigned(v, CAST(length(bin(v)) - 4 AS INT)) & 7"
            )
        )
        .cast("bigint")
    )
    bucketed = lat.select(blen.alias("exponent"), sub.alias("sub"), "v")
    hist = bucketed.groupBy("exponent", "sub").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.min("v").cast("bigint").alias("lo"),
    )
    tot = hist.agg(F.sum("c").cast("bigint").alias("n"))
    wcum = Window.orderBy("exponent", "sub").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    qs = spark.createDataFrame([(500,), (990,), (999,)], "pm int")
    hits = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(qs))
        .filter(1000 * F.col("cum") >= F.col("pm") * F.col("n"))
        .groupBy("pm")
        .agg(F.min("lo").cast("bigint").alias("bucket_lo"))
    )
    # left join from the request rows: an EMPTY latency series still
    # answers all three percentile requests (NULL bucket_lo), matching
    # the oracle's VALUES-driven shape — the former filter+groupBy
    # emitted zero rows there (r11 fuzz, hostile empty-events tree)
    picks = qs.join(hits, "pm", "left")
    return (
        picks.crossJoin(F.broadcast(tot))
        .select(
            F.col("pm").alias("percentile_pm"),
            "bucket_lo",
            F.col("n").cast("bigint").alias("n_samples"),
        )
        .orderBy("percentile_pm")
    )


@register(
    "stats_dispersion_index",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(c * c) AS BIGINT) AS ss
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n, s AS total,
           -- dispersion D = Var/Mean as an exact rational on the count
           -- lattice: D = n*(n*ss - s*s) / ((n-1) * n * s) -> micro-units
           CAST((n * ss - s * s) * 1000000 // ((n - 1) * s) AS BIGINT)
               AS dispersion_q6
    FROM m WHERE n > 1 AND s > 0 ORDER BY event_type
    """,
    doc="index of dispersion (variance-to-mean ratio of daily volumes — "
    "the Poisson-ness check that decides count-model choice: D ~ 1 "
    "Poisson, D >> 1 overdispersed/bursty, D < 1 regular): the "
    "sample-variance/mean ratio collapses to the exact integer "
    "rational (n*ss - s^2) / ((n-1)*s), one truncating micro-division, "
    "ZERO float. Guards empty/degenerate groups. Day grain after one "
    "keyed count — the companion diagnostic to "
    "events_interarrival_burstiness.",
)
def stats_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    return (
        m.filter((F.col("n") > 1) & (F.col("s") > 0))
        .select(
            "event_type",
            "n",
            F.col("s").alias("total"),
            F.expr("(n * ss - s * s) * 1000000 div ((n - 1) * s)")
            .cast("bigint")
            .alias("dispersion_q6"),
        )
        .orderBy("event_type")
    )


@register(
    "text_msttr_lexical_diversity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(
            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t,
               generate_subscripts(string_split(
            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), 1)
                   AS pos
        FROM documents
    ), chunked AS (
        SELECT doc_id, (pos - 1) // 25 AS chunk, t
        FROM toks WHERE t != ''
    ), per_chunk AS (
        -- only FULL 25-token chunks count (MSTTR's defining fix for the
        -- length bias of raw TTR)
        SELECT doc_id, chunk,
               CAST(count(DISTINCT t) AS BIGINT) AS types,
               CAST(count(*) AS BIGINT) AS n
        FROM chunked GROUP BY doc_id, chunk
        HAVING count(*) = 25
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(types) AS BIGINT) AS sum_types,
           CAST(sum(types) * 1000000 // (25 * count(*)) AS BIGINT)
               AS msttr_q6
    FROM per_chunk GROUP BY doc_id
    ORDER BY doc_id LIMIT 200
    """,
    doc="MSTTR lexical diversity (mean segmental type-token ratio, "
    "Johnson 1944 — the length-unbiased TTR every text-quality stack "
    "reports; raw TTR falls with document length, segmenting fixes "
    "it): 25-token disjoint chunks, distinct-type counts per chunk, "
    "mean ratio in exact micro-units (partial tail chunks excluded by "
    "the HAVING — the defining MSTTR rule). One tokenize pass; "
    "chunking is integer position arithmetic; the distinct count is "
    "(doc, chunk)-keyed.",
)
def text_msttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias(
            "pos0", "t"
        ),
    ).filter(F.col("t") != "")
    chunked = toks.select(
        "doc_id", F.expr("pos0 div 25").alias("chunk"), "t"
    )
    per_chunk = (
        chunked.groupBy("doc_id", "chunk")
        .agg(
            F.countDistinct("t").cast("bigint").alias("types"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") == 25)
    )
    return (
        per_chunk.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("types").cast("bigint").alias("sum_types"),
        )
        .withColumn(
            "msttr_q6",
            F.expr("sum_types * 1000000 div (25 * n_chunks)").cast("bigint"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@register(
    "stats_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), idx AS (
        SELECT row_number() OVER (ORDER BY day) AS i, c FROM daily
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
        FROM idx
    ), dev AS (
        -- deviations x1000 kept integer: d = 1000*c*n - 1000*s stays on
        -- the integer lattice scaled by n
        SELECT i, c FROM idx
    ), lags AS (
        SELECT l.lag,
               CAST(sum((a.c * m.n - m.s) * (b.c * m.n - m.s)) AS HUGEINT)
                   AS num,
               (SELECT CAST(sum((x.c * m2.n - m2.s)
                               * (x.c * m2.n - m2.s)) AS HUGEINT)
                FROM dev x, m m2) AS den
        FROM (VALUES (1), (2), (3), (4), (5)) AS l(lag)
        JOIN dev a ON TRUE
        JOIN dev b ON b.i = a.i + l.lag
        CROSS JOIN m
        GROUP BY l.lag
    ), rho AS (
        -- zero-variance series (all daily counts equal): den = 0, rho
        -- undefined -> NULL explicitly (DuckDB already NULLs x/0; Spark
        -- would reach floor(Infinity) -> BIGINT abort without the guard)
        SELECT lag,
               CASE WHEN den > 0 THEN
               CAST(floor(1000000.0 * CAST(num AS DOUBLE)
                          / CAST(den AS DOUBLE)) AS BIGINT) END AS rho_q6
        FROM lags
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM m) AS n_days,
           CAST(count(*) AS BIGINT) AS n_lags,
           -- LAG-ORDERED fold of the five double terms (the repo's
           -- float-sum discipline): an unordered sum(...) could
           -- associate differently across engines and flip floor() by
           -- one when Q sits within an ULP of an integer
           CAST(floor((SELECT n FROM m) * ((SELECT n FROM m) + 2.0)
               * list_reduce(list((rho_q6 / 1000000.0)
                                  * (rho_q6 / 1000000.0)
                                  / ((SELECT n FROM m) - lag)
                                  ORDER BY lag),
                             (a, b) -> a + b)) AS BIGINT) AS q_stat
    FROM rho
    """,
    doc="Ljung-Box portmanteau test over lags 1-5 of the daily volume "
    "series (Ljung & Box 1978 — the 'is there ANY autocorrelation "
    "left' residual check; generalizes win_autocorr_lag's single "
    "lag): mean-centered products kept exact by scaling deviations by "
    "n (c*n - s is integer; products need 128-bit — HUGEINT/"
    "DECIMAL(38,0)), per-lag rho floor-quantized, and "
    "Q = n(n+2) sum rho_k^2/(n-k) evaluated on the QUANTIZED rhos so "
    "both engines square identical integers. Day grain throughout.",
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wrn = Window.orderBy("day")
    idx = daily.select(F.row_number().over(wrn).alias("i"), "c")
    m = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    dec = "decimal(38,0)"
    dev = idx.crossJoin(F.broadcast(m)).select(
        "i", F.expr("c * n - s").alias("d"), "n"
    )
    den = dev.agg(
        F.expr(f"sum(CAST(d AS {dec}) * d)").alias("den")
    )
    lags = spark.createDataFrame([(k,) for k in range(1, 6)], "lag int")
    a = dev.select(F.col("i").alias("ia"), F.col("d").alias("da"))
    b = dev.select(F.col("i").alias("ib"), F.col("d").alias("db"))
    nums = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ib") == F.col("ia") + F.col("lag"))
        .groupBy("lag")
        .agg(F.expr(f"sum(CAST(da AS {dec}) * db)").alias("num"))
    )
    # zero-variance series: den = 0 -> rho NULL (mirrors the oracle's
    # CASE; unguarded, floor(Infinity) -> BIGINT aborts under ANSI)
    rho = nums.crossJoin(F.broadcast(den)).select(
        "lag",
        F.when(
            F.col("den") > 0,
            F.floor(
                1000000.0
                * F.col("num").cast("double")
                / F.col("den").cast("double")
            ).cast("bigint"),
        ).alias("rho_q6"),
    )
    # global agg (NOT a groupBy on the broadcast scalar): an EMPTY daily
    # series must still emit its one (0, 0, NULL) row like the oracle's
    # global aggregate does — groupBy("n") over zero rows emitted nothing
    # (r11 fuzz, hostile empty-events tree)
    fold = (
        rho.crossJoin(F.broadcast(m))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lags"),
            # lag-ordered fold of the 5 double terms, mirroring the
            # oracle's list_reduce(... ORDER BY lag) — never an
            # unordered float sum in front of a floor()
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("lag").alias("lag"),
                            (
                                (F.col("rho_q6") / 1000000.0)
                                * (F.col("rho_q6") / 1000000.0)
                                / (F.col("n") - F.col("lag"))
                            ).alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["t"],
            ).alias("qsum"),
        )
    )
    return (
        fold.crossJoin(F.broadcast(m))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            "n_lags",
            F.when(
                F.col("n_lags") > 0,
                F.floor(F.col("n") * (F.col("n") + 2.0) * F.col("qsum"))
                .cast("bigint"),
            ).alias("q_stat"),
        )
    )


@register(
    "pipeline_curriculum_phases",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(len(list_filter(string_split(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                   w -> w != '')) AS BIGINT) AS n_words
        FROM documents
    ), scored AS (
        -- difficulty = chars-per-word in micro-units (longer words ->
        -- harder), deterministic doc tiebreak
        SELECT doc_id, n_chars, n_words,
               CAST(n_chars * 1000000 // greatest(n_words, 1) AS BIGINT)
                   AS difficulty_q6
        FROM feats
    ), phased AS (
        SELECT doc_id, difficulty_q6,
               ntile(4) OVER (ORDER BY difficulty_q6, doc_id) AS phase
        FROM scored
    )
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(difficulty_q6) AS BIGINT) AS min_difficulty_q6,
           CAST(max(difficulty_q6) AS BIGINT) AS max_difficulty_q6,
           CAST(sum(doc_id) AS BIGINT) AS docid_sum
    FROM phased GROUP BY phase ORDER BY phase
    """,
    doc="curriculum-learning phase assignment (Bengio 2009 — order "
    "training data easy-to-hard): difficulty = chars-per-word in "
    "exact micro-units (the cheap fluency proxy; swap in "
    "text_readability_fk's grade for the full score), phases = "
    "equi-depth quartiles over the deterministic (difficulty, doc_id) "
    "order — NO global sort at doc grain: each doc's global rank is "
    "reconstructed as (docs with strictly smaller difficulty, from the "
    "cumsum of the difficulty-value histogram — a bounded lattice, "
    "never doc rows) + (row_number within its difficulty group, a "
    "difficulty-keyed window), and the phase comes from the exact "
    "ntile rank rule applied to that rank. Output per phase: size, "
    "difficulty range, membership checksum — identical to ntile(4) by "
    "construction, which is what the oracle pins.",
)
def pipeline_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text

    d = load(spark, sf_dir, "documents")
    words = F.filter(
        F.split(normalize_text(F.col("text")), " "), lambda w: w != ""
    )
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(words).cast("bigint").alias("n_words"),
    ).select(
        "doc_id",
        F.expr("n_chars * 1000000 div greatest(n_words, 1)")
        .cast("bigint")
        .alias("difficulty_q6"),
    )
    # rank rule on the difficulty histogram: `base` = docs strictly
    # easier, via a cumsum on the VALUE lattice (one row per distinct
    # difficulty — bounded by the quantization range, not by doc count)
    hist = scored.groupBy("difficulty_q6").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wlat = Window.orderBy("difficulty_q6").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base = hist.select(
        "difficulty_q6",
        (F.sum("c").over(wlat) - F.col("c")).cast("bigint").alias("base"),
    )
    n = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # within-difficulty tiebreak rank: difficulty-keyed window, doc_id
    # order — groups are tiny under micro-unit quantization
    wgrp = Window.partitionBy("difficulty_q6").orderBy("doc_id")
    ranked = (
        scored.withColumn("grn", F.row_number().over(wgrp).cast("bigint"))
        .join(base, "difficulty_q6")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.col("base") + F.col("grn"))
    )
    # exact ntile(4) arithmetic from the global rank: the first n%4
    # buckets take ceil(n/4) rows, the rest floor(n/4)
    phased = ranked.withColumn(
        "phase",
        F.expr(
            "CASE WHEN rn <= (n % 4) * (n div 4 + 1)"
            "     THEN (rn + n div 4) div (n div 4 + 1)"
            "     ELSE n % 4 + (rn - (n % 4) * (n div 4 + 1) + n div 4 - 1)"
            "          div (n div 4) END"
        ).cast("bigint"),
    )
    return (
        phased.groupBy(F.col("phase").cast("bigint").alias("phase"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("difficulty_q6").cast("bigint").alias("min_difficulty_q6"),
            F.max("difficulty_q6").cast("bigint").alias("max_difficulty_q6"),
            F.sum("doc_id").cast("bigint").alias("docid_sum"),
        )
        .orderBy("phase")
    )
