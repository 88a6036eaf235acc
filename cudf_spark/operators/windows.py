"""Window operators beyond Spark's built-in frame/agg surface.

Covers the reference's rolling/EWM family (cpp/include/cudf/rolling.hpp;
python/cudf/cudf/core/window/rolling.py:64, ewm.py) where Spark lacks a
single primitive:

- ``rolling_agg`` — fixed windows with cudf's ``min_periods`` semantics
  (rolling.hpp:194: result is null until the window holds >= min_periods
  observations).
- ``ewma`` — exponentially weighted mean (aggregation.hpp:100 EWMA kind).
  No Spark builtin (SURVEY §7 hard-part 6): implemented as an Arrow-batched
  grouped map (`applyInPandas`). One shuffle on the group key; each *group*
  (not partition) must fit in executor memory — right for per-key time
  series, the overwhelmingly common case.
- ``ewma_segmented`` — the ungrouped / giant-group scale path: two-pass
  segmented scan (per-partition fold → exact carry composition on the
  driver → rescan with carry-in), so no executor ever holds the sequence.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rolling_agg(
    value: Column | str,
    agg: str,
    partition_by: list,
    order_by: list,
    preceding: int,
    following: int = 0,
    min_periods: int = 1,
) -> Column:
    """Fixed-size rolling aggregate with cudf ``min_periods`` null semantics."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-preceding, following)
    )
    col = F.col(value) if isinstance(value, str) else value
    result = getattr(F, agg)(col).over(w)
    if min_periods > 1:
        result = F.when(F.count(col).over(w) >= min_periods, result)
    return result


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    *,
    alpha: float,
    adjust: bool = True,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-group exponentially weighted moving average (pandas ``ewm`` semantics)."""
    import pandas as pd  # noqa: F401 (arrow batch path)

    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` double"]
    )

    def per_group(pdf):
        pdf = pdf.sort_values(order_cols)
        pdf[out_col] = pdf[value_col].ewm(alpha=alpha, adjust=adjust).mean()
        return pdf

    return df.groupBy(*key_cols).applyInPandas(per_group, schema=out_schema)


def _check_alpha(alpha: float) -> None:
    """pandas ``ewm``'s domain check, with its message (NaN is rejected
    too; pandas lets it through)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must satisfy: 0 < alpha <= 1")


def ewma_grouped_scan(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    *,
    alpha: float,
    adjust: bool = True,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-group EWMA as a pure-JVM block-composed scan — the grouped
    sibling of :func:`ewma_segmented` (round 10; same VERDICT r08 item-3
    motivation: the ``applyInPandas`` path in :func:`ewma` spends most of
    its wall-clock forking Arrow workers, ~4.8 s vs ~2.4 s at sf0.1 for
    the identical per-user result).

    Identical machinery to ewma_segmented steps 2-3 with the GROUP KEYS
    as the partition: fixed-``L`` blocks inside each group, a keyed ROWS
    window computes the within-block scaled cumsum, and block carries
    compose through an exactly-truncated lag window (terms stop where
    ``q^(k-1)`` underflows — where the sequential recurrence's own terms
    die). No driver composition at all: there is no cross-GROUP carry,
    so the whole operator is whole-stage-codegen windows + one keyed
    join. adjust=False is the same linear scan with the first element of
    each group unscaled (y_0 = x_0 then folds at weight alpha) —
    linearity carries it through the identical block algebra.

    Falls back to the exact Arrow grouped map when beta is so close to 1
    that exact truncation would need > 32 lag terms, same as the
    segmented operator. alpha outside (0, 1] raises pandas' ``ValueError``.
    """
    import math

    _check_alpha(alpha)
    beta = 1.0 - alpha
    if beta == 0.0:  # alpha == 1: no memory, ewma == x
        return df.withColumn(out_col, F.col(value_col).cast("double"))
    L = max(2, min(65536, int(200.0 / max(1e-12, -math.log10(beta)))))
    q = beta**L
    lags, qk = 1, q
    while qk != 0.0 and lags <= 32:
        lags += 1
        qk *= q
    if lags > 32:
        return ewma(
            df, key_cols, order_cols, value_col,
            alpha=alpha, adjust=adjust, out_col=out_col,
        )

    fields = [f.name for f in df.schema.fields]
    wk = Window.partitionBy(*key_cols).orderBy(*order_cols)
    # adjust=False: y_t = beta^t*x_0 + sum_{i>=1} alpha*beta^(t-i)*x_i —
    # exactly the adjust=True numerator with x_0 unscaled and later
    # elements scaled by alpha, and no denominator.
    if adjust:
        xs = F.col(value_col).cast("double")
    else:
        xs = F.col(value_col).cast("double") * F.when(
            F.col("_p") == 0, F.lit(1.0)
        ).otherwise(F.lit(alpha))
    rows = (
        df.withColumn("_p", F.row_number().over(wk) - F.lit(1))
        .withColumn("_blk", (F.col("_p") / L).cast("long"))
        .withColumn("_pos", F.col("_p") % L)
    )
    rows = rows.withColumn("_xs", xs)
    w_blk = (
        Window.partitionBy(*key_cols, "_blk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    contrib = F.col("_xs") * F.pow(F.lit(beta), -F.col("_pos"))
    # checkpoint: rows feeds the per-block finals AND the final join
    rows = rows.withColumn(
        "_l", F.pow(F.lit(beta), F.col("_pos")) * F.sum(contrib).over(w_blk)
    ).localCheckpoint(eager=False)
    # all blocks of a group except its LAST are full (length exactly L)
    # by construction, and the last block is never a lag source for a
    # later one — so the gap exponent q^(k-1) is exact, as in
    # ewma_segmented.
    blocks = rows.groupBy(*key_cols, "_blk").agg(
        (F.pow(F.lit(beta), F.max("_pos")) * F.sum(contrib)).alias("_f")
    )
    w_lag = Window.partitionBy(*key_cols).orderBy("_blk")
    cin = F.lit(0.0)
    for k in range(1, lags + 1):
        cin = cin + F.coalesce(
            F.lag("_f", k).over(w_lag), F.lit(0.0)
        ) * F.lit(q ** (k - 1))
    blocks = blocks.withColumn("_cin", cin).drop("_f")
    joined = rows.join(blocks, [*key_cols, "_blk"])
    num = F.col("_l") + F.pow(F.lit(beta), F.col("_pos") + 1) * F.col("_cin")
    if adjust:
        den = (F.lit(1.0) - F.pow(F.lit(beta), F.col("_p") + 1)) / F.lit(
            1.0 - beta
        )
        out = num / den
    else:
        out = num
    return joined.withColumn(out_col, out).select(*fields, out_col)


def variable_rolling_agg(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    preceding_col: str,
    following_col: str,
    value_col: str,
    row_id: str,
) -> DataFrame:
    """Variable windows from offset COLUMNS (cudf rolling.hpp:194 overload:
    per-row preceding/following window bounds).

    Spark's Window only takes literal frame bounds, so per-row bounds
    become a bounded range self-join: each row aggregates peers in the
    same key group with ``order ∈ [order − preceding, order + following]``.
    Returns (row_id, n_in_window, sum_value, min_value, max_value).

    Scale: shuffles both sides on the key columns (equi-join) with the
    range predicate as residual — never a cartesian (pinned in
    tests/test_plans.py). Cost ∝ Σ window sizes — the same work the
    reference's kernel does; AQE splits skewed keys. Per-row fan-out is
    capped by data rate × window width.
    """
    left = df.select(
        *key_cols,
        F.col(row_id).alias("__rid"),
        F.col(order_col).alias("__ord"),
        F.col(preceding_col).alias("__prec"),
        F.col(following_col).alias("__foll"),
    )
    right = df.select(
        *[F.col(k).alias(f"__r_{k}") for k in key_cols],
        F.col(order_col).alias("__r_ord"),
        F.col(value_col).alias("__peer"),
    )
    cond = (F.col("__r_ord") >= F.col("__ord") - F.col("__prec")) & (
        F.col("__r_ord") <= F.col("__ord") + F.col("__foll")
    )
    for k in key_cols:
        cond = (F.col(k) == F.col(f"__r_{k}")) & cond
    return (
        left.join(right, cond)
        .groupBy(F.col("__rid").alias(row_id))
        .agg(
            F.count("*").alias("n_in_window"),
            F.sum("__peer").alias("sum_value"),
            F.min("__peer").alias("min_value"),
            F.max("__peer").alias("max_value"),
        )
    )


def _ewma_num_scan(x, beta: float, carry: float):
    """Vectorized linear-recurrence scan: out[t] = beta^(t+1)*carry +
    sum_{i<=t} beta^(t-i) * x[i].

    Chunked scaled-cumsum: within a chunk, out = bpow * (beta*carry +
    cumsum(x/bpow)). The chunk length is capped so beta^-i stays in
    double range; the chunk boundary re-bases the exponent (the carry
    re-enters at scale beta^1), so arbitrarily long sequences never
    overflow. Returns (out_array, final_carry).
    """
    import math

    import numpy as np

    n = len(x)
    out = np.empty(n, dtype="float64")
    if n == 0:
        return out, carry
    # beta^-i must stay finite alongside |x|: budget ~10^200 of headroom.
    chunk = max(1, min(4096, int(200 / max(1e-12, -math.log10(beta)))))
    for s in range(0, n, chunk):
        xa = np.asarray(x[s : s + chunk], dtype="float64")
        bpow = beta ** np.arange(len(xa), dtype="float64")
        seg = bpow * (beta * carry + np.cumsum(xa / bpow))
        out[s : s + len(xa)] = seg
        carry = float(seg[-1])
    return out, carry


# Equi-width buckets of ewma_segmented. A fixed count keeps the bucketing a
# function of the data alone: a count derived from the cluster (e.g. floored
# at defaultParallelism) would change the result's low bits with the core
# count.
_EWMA_BUCKETS = 32


def ewma_segmented(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    *,
    alpha: float,
    adjust: bool = True,
    out_col: str = "ewma",
) -> DataFrame:
    """GLOBAL (ungrouped / giant-group) EWMA — the segmented-scan scale
    path the grouped ``ewma`` above cannot cover: no single executor ever
    holds the sequence. pandas ``ewm(alpha=alpha, adjust=adjust).mean()``
    semantics for non-null doubles, both adjust modes; alpha outside
    (0, 1] raises pandas' ``ValueError``.

    Rows split into ``_EWMA_BUCKETS`` equi-width buckets on the global
    min/max of the first order key: two deterministic scalars, so the
    bucketing (hence every output BIT) is identical on any cluster layout.
    A heavily skewed order key concentrates rows in few buckets (the
    within-bucket window partition grows).

    Pure-JVM three-level scan (no Python workers: whole-stage-codegen end
    to end, the same block-composed cumsum the DuckDB oracle uses):

    1. equi-width cuts bucket rows order-contiguously (``cumsum_two_level``
       idiom — the cuts only steer partitioning, any values give identical
       results);
    2. within each bucket, rows split into fixed ``L``-row blocks with
       ``L`` chosen so ``beta**-(L-1)`` stays far inside double range;
       a keyed ROWS window computes the within-block scaled cumsum
       ``l = beta^pos * sum(x*scale*beta^-pos)`` — exact, never a global
       window;
    3. block carries compose via a lag window over the per-(bucket,block)
       summary table: ``cin = sum_k lag(f,k) * q^(k-1)`` with
       ``q = beta**L``. The truncation depth is EXACT, not approximate —
       lags stop where ``q^(k-1)`` underflows to 0.0 in IEEE double, i.e.
       exactly where the sequential recurrence's own terms vanish;
    4. per-bucket summaries (one row per bucket) collect to the driver and
       compose exactly.

    The adjust=False first-element y_0 = x_0 convention is injected via
    bucket 0's carry; the adjust=True denominator is the closed-form
    geometric sum of the GLOBAL prefix length (off_b + p).

    For beta so close to 1 that the lag truncation would need > 32 terms
    (alpha below ~1e-3 at the 64k block cap — decay horizon beyond any
    block budget), falls back to the exact Arrow two-pass implementation
    below.
    """
    import math

    _check_alpha(alpha)
    beta = 1.0 - alpha
    if beta == 0.0:  # alpha == 1: no memory, ewma == x
        return df.withColumn(out_col, F.col(value_col).cast("double"))
    # Block length: beta^-(L-1) <= ~1e200 so the scaled cumsum never
    # overflows next to |x| (same headroom budget as _ewma_num_scan);
    # capped so one block is always a bounded window partition.
    L = max(2, min(65536, int(200.0 / max(1e-12, -math.log10(beta)))))
    q = beta**L
    lags, qk = 1, q
    while qk != 0.0 and lags <= 32:
        lags += 1
        qk *= q
    if lags > 32:  # decay horizon too long for exact truncation
        return _ewma_segmented_arrow(
            df, order_cols, value_col, alpha=alpha, adjust=adjust,
            out_col=out_col,
        )

    sess = df.sparkSession
    scale = 1.0 if adjust else alpha
    fields = [f.name for f in df.schema.fields]

    # 1. order-contiguous equi-width buckets (min/max collected once so
    # every consumer sees identical cuts; the cuts only steer
    # partitioning, the checkpoint below pins everything value-bearing)
    skey = F.col(order_cols[0]).cast("double")
    lo_hi = df.agg(F.min(skey).alias("lo"), F.max(skey).alias("hi")).first()
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    if lo is None or hi is None or lo == hi:
        cuts = []
    else:
        cuts = [lo + (hi - lo) * i / _EWMA_BUCKETS for i in range(1, _EWMA_BUCKETS)]
    bucket = F.lit(0)
    for s in sorted(set(cuts)):
        bucket = bucket + F.when(skey > F.lit(s), 1).otherwise(0)

    # 2. within-bucket positions and within-block scaled cumsum
    w_b = Window.partitionBy("_b").orderBy(*order_cols)
    rows = (
        df.withColumn("_b", bucket)
        .withColumn("_p", F.row_number().over(w_b) - F.lit(1))
        .withColumn("_blk", (F.col("_p") / L).cast("long"))
        .withColumn("_pos", F.col("_p") % L)
        .withColumn(
            "_xs", F.col(value_col).cast("double") * F.lit(float(scale))
        )
    )
    w_blk = (
        Window.partitionBy("_b", "_blk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    contrib = F.col("_xs") * F.pow(F.lit(beta), -F.col("_pos"))
    rows = rows.withColumn(
        "_l", F.pow(F.lit(beta), F.col("_pos")) * F.sum(contrib).over(w_blk)
    )

    # 3. block finals f and lag-composed within-bucket block carry-ins.
    # All blocks between two blocks of the same bucket are FULL (length
    # exactly L) by construction, so the gap exponent is q^(k-1) exactly.
    blocks = rows.groupBy("_b", "_blk").agg(
        (F.pow(F.lit(beta), F.max("_pos")) * F.sum(contrib)).alias("_f")
    )
    w_lag = Window.partitionBy("_b").orderBy("_blk")
    cin = F.lit(0.0)
    for k in range(1, lags + 1):
        cin = cin + F.coalesce(
            F.lag("_f", k).over(w_lag), F.lit(0.0)
        ) * F.lit(q ** (k - 1))
    blocks = blocks.withColumn("_cin", cin).drop("_f")

    # numerator local to the bucket (zero bucket carry); checkpointed so
    # the bucket-summary collect and the final projection read ONE
    # materialization (localCheckpoint over persist — measured round 8,
    # operators/dedup.py tradeoff note; executor loss => job retry).
    numloc = (
        rows.join(blocks, ["_b", "_blk"])
        .withColumn(
            "_numloc",
            F.col("_l")
            + F.pow(F.lit(beta), F.col("_pos") + 1) * F.col("_cin"),
        )
        .localCheckpoint(eager=False)
    )

    # 4. one summary row per bucket -> exact driver composition
    summaries = numloc.groupBy("_b").agg(
        F.count("*").alias("n"),
        F.max_by("_numloc", "_p").alias("s_fin"),
        F.min_by(F.col(value_col).cast("double"), "_p").alias("first"),
    ).collect()  # <= _EWMA_BUCKETS rows

    carries = []
    S, N = 0.0, 0
    for i, r in enumerate(sorted(summaries, key=lambda r: r["_b"])):
        if not adjust and i == 0:
            # pandas adjust=False pins y_0 = x_0: carry x_0 into
            # y_0 = beta*carry + alpha*x_0 reproduces it exactly.
            carries.append((r["_b"], r["first"], 0))
            S = r["s_fin"] + (beta ** r["n"]) * r["first"]
        else:
            carries.append((r["_b"], S, N))
            S = r["s_fin"] + (beta ** r["n"]) * S
        N += r["n"]
    if not carries:  # empty input
        return df.withColumn(out_col, F.lit(None).cast("double"))
    cdf = sess.createDataFrame(carries, "_b int, _carry double, _off long")

    num = F.col("_numloc") + F.pow(F.lit(beta), F.col("_p") + 1) * F.col(
        "_carry"
    )
    if adjust:
        t = F.col("_off") + F.col("_p") + 1  # global 1-based prefix length
        den = (F.lit(1.0) - F.pow(F.lit(beta), t)) / F.lit(1.0 - beta)
        out = num / den
    else:
        out = num
    return (
        numloc.join(F.broadcast(cdf), "_b")
        .withColumn(out_col, out)
        .select(*fields, out_col)
    )


def _ewma_segmented_arrow(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    *,
    alpha: float,
    adjust: bool = True,
    out_col: str = "ewma",
) -> DataFrame:
    """Exact Arrow two-pass fallback for beta outside the JVM path's
    truncation envelope (alpha ~< 1e-3).

    Classic two-pass parallel scan over a linear recurrence
    (state_t = a_t + beta * state_{t-1} composes associatively across
    segments as S_p = beta^n_p * S_{p-1} + local_p):

    1. range-partition (``defaultParallelism`` ranges) + sort on
       ``order_cols`` so partitions are ordered runs of the sequence;
    2. pass 1 (mapInPandas): each partition folds its values with zero
       initial state and emits ONE summary row (pid, n, local_final,
       first_value) — driver receives #partitions rows, composes the
       prefix carries exactly, and broadcasts them;
    3. pass 2 (mapInPandas): each partition rescans with its true carry-in
       and emits every row's EWMA.

    The numerator scan is the chunked scaled cumsum above; the
    adjust=True denominator is the closed-form geometric sum of the
    GLOBAL prefix length, so it costs nothing.

    The range-partitioned layout is materialized once (localCheckpoint):
    RangePartitioner SAMPLES to pick bounds, so two independent
    evaluations would land different partition boundaries and pass 2's
    carries would not match pass 1's partitions. Materializing pins one
    layout for both passes (and avoids recomputing the sort). Same
    executor-loss caveat as lsh_candidate_pairs: blocks are not
    recoverable from lineage; job retry is the recovery path.
    """
    import numpy as np
    import pandas as pd

    sess = df.sparkSession
    beta = 1.0 - alpha
    sorted_df = (
        df.repartitionByRange(sess.sparkContext.defaultParallelism, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )

    scale = 1.0 if adjust else alpha

    def summarize(batches):
        pid, n, acc, first = None, 0, 0.0, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            x = pdf[value_col].to_numpy(dtype="float64")
            if first is None:
                first = float(x[0])
            _, acc = _ewma_num_scan(x * scale, beta, acc)
            n += len(x)
        if pid is not None:
            yield pd.DataFrame(
                {"pid": [pid], "n": [n], "acc": [acc], "first": [first]}
            )

    summaries = sorted(
        sorted_df.mapInPandas(
            summarize, "pid int, n long, acc double, first double"
        ).collect(),  # ONE row per partition — bounded by cluster width
        key=lambda r: r["pid"],
    )

    # Exact prefix composition of (carry, global offset) per partition.
    carries: dict[int, tuple[float, int]] = {}
    S, N = 0.0, 0
    for i, r in enumerate(summaries):
        if not adjust and i == 0:
            # pandas adjust=False pins y_0 = x_0; feeding y_in = x_0 into
            # y_0 = beta*y_in + alpha*x_0 reproduces it exactly.
            carries[r["pid"]] = (r["first"], 0)
            S = r["acc"] + (beta ** r["n"]) * r["first"]
        else:
            carries[r["pid"]] = (S, N)
            S = r["acc"] + (beta ** r["n"]) * S
        N += r["n"]
    bc = sess.sparkContext.broadcast(carries)

    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in sorted_df.schema.fields
        if f.name != "__pid"
    )

    def apply(batches):
        state = None  # (carry, rows_seen_globally_before_next_row)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            if state is None:
                state = bc.value[pid]
            carry, offset = state
            x = pdf[value_col].to_numpy(dtype="float64")
            num, carry = _ewma_num_scan(x * scale, beta, carry)
            t = offset + np.arange(1, len(x) + 1, dtype="float64")
            if adjust:
                vals = num / ((1.0 - beta**t) / (1.0 - beta))
            else:
                vals = num
            state = (carry, offset + len(x))
            yield pdf.drop(columns="__pid").assign(**{out_col: vals})

    return sorted_df.mapInPandas(apply, f"{out_fields}, `{out_col}` double")


def bounded_global_rank(
    df: DataFrame, n: int, order: Sequence[Column], rank_col: str = "rnk"
) -> DataFrame:
    """Global top-n WITH rank numbers, without the single-partition funnel.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY shuffles the
    ENTIRE input into one task — the classic scale killer for "rank then
    keep top-n". Instead: ``orderBy(...).limit(n)`` plans as
    TakeOrderedAndProject (each partition keeps its local top-n, the
    driver-side merge sees n rows per partition max), and only the
    <= n surviving rows pass through the ranking window — a bounded
    single partition by construction. Identical output to rank-then-
    filter whenever ``order`` is a total order (deterministic ties).
    """
    bounded = df.orderBy(*order).limit(n)
    w = Window.orderBy(*order)
    return bounded.withColumn(rank_col, F.row_number().over(w).cast("int"))


def cumsum_two_level(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    *,
    num_buckets: int = 32,
    accuracy: int = 10_000,
) -> DataFrame:
    """Global running sum of ``value_col`` ordered by ``order_col`` WITHOUT
    the single-partition window funnel (the reference's inclusive-scan,
    cpp/include/cudf/reductions.hpp scan; segmented two-pass form).

    ``sum() OVER (ORDER BY ...)`` with no PARTITION BY plans as
    ``Exchange SinglePartition`` + Window — every row through ONE task,
    the classic scale killer. Two-level form instead:

    1. one bounded pre-pass collects <= ``num_buckets``-1 approximate
       equi-depth cuts of ``order_col`` (``percentile_approx`` sketch; a
       1-row driver collect, same bounded-collect idiom as the streaming
       batch cuts). Collecting — rather than cross-joining the 1-row
       agg — guarantees both consumers below see IDENTICAL cuts; as two
       plan subtrees the sketch could merge partials in
       different orders and disagree;
    2. rows bucket by cut comparisons (buckets are order-CONTIGUOUS:
       x <= y implies bucket(x) <= bucket(y), ties share a bucket), and a
       KEYED window cumsums within each bucket — ``num_buckets``-way
       parallel;
    3. per-bucket totals (<= ``num_buckets`` rows) broadcast-join as
       prior-bucket offsets.

    Output is identical to the global window for any cut values — the
    cuts only steer partitioning, so ``percentile_approx``'s
    approximation can never change a result. Degenerate inputs fall back
    gracefully: constant/tiny ``order_col`` yields one bucket (the data
    itself is that small or that skewed). ``order_col`` must be non-null;
    ties are deterministic because the frame is RANGE-based — every row
    of a tie group gets the post-group total (sum over all keys <=
    current key), independent of physical row order. Callers cumsumming
    a value histogram (distinct keys) see the classic running sum.
    """

    # three consumers read df (the cut collect below, then the
    # keyed-window branch AND the bucket-totals branch of the returned
    # plan — Catalyst has no cross-branch CSE): checkpoint so the
    # upstream pipeline computes once (localCheckpoint over persist —
    # measured round 8, operators/dedup.py tradeoff note)
    df = df.localCheckpoint(eager=False)
    probs = [i / num_buckets for i in range(1, num_buckets)]
    row = df.agg(
        F.percentile_approx(order_col, probs, accuracy).alias("s")
    ).first()
    cuts = sorted(set(row["s"] or []))
    bucket = F.lit(0)
    for s in cuts:
        bucket = bucket + F.when(F.col(order_col) > F.lit(s), 1).otherwise(0)
    b = df.withColumn("_bucket", bucket)
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy(order_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("_lcum", F.sum(value_col).over(w_in))
    btot = b.groupBy("_bucket").agg(F.sum(value_col).alias("_ptot"))
    prior = btot.select(F.col("_bucket").alias("_b2"), "_ptot")
    off = (
        btot.select("_bucket")
        .join(F.broadcast(prior), F.col("_b2") < F.col("_bucket"), "left")
        .groupBy("_bucket")
        .agg(F.sum("_ptot").alias("_off"))
    )
    return (
        local.join(F.broadcast(off), "_bucket", "left")
        .withColumn(out_col, F.col("_lcum") + F.coalesce(F.col("_off"), F.lit(0)))
        .drop("_bucket", "_lcum", "_off")
    )


def rolling_median(
    value: Column | str,
    partition_by: list,
    order_by: list,
    preceding: int,
    *,
    min_periods: int = 1,
) -> Column:
    """Fixed-size rolling MEDIAN (cudf rolling supports every aggregation
    kind incl. MEDIAN — cpp/include/cudf/rolling.hpp; Spark's window
    functions have no percentile, so we collect the frame into an array
    and pick the middle). Interpolates the two middles for even counts
    (matching DuckDB/pandas ``median``), nulls below ``min_periods``.

    BOUNDED per row by construction: the collected array is at most
    ``preceding + 1`` elements — this is NOT the collect_list scale
    hazard (that is per-GROUP collection of unbounded groups); a fixed
    window frame caps the array at the frame size regardless of data
    volume. Use only for small fixed frames; for large/unbounded frames
    reach for approx sketches instead.
    """
    # min_periods < 1 would let the even-count branch index element 0 of
    # an empty frame (all-null values); a frame always holds >= 1 row, so
    # clamping to 1 preserves cudf semantics and keeps indexing safe.
    min_periods = max(min_periods, 1)
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-preceding, 0)
    )
    col = F.col(value) if isinstance(value, str) else value
    arr = F.array_sort(F.collect_list(col).over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, (n / 2 + 1).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2.0
    )
    return F.when(n >= min_periods, med)
