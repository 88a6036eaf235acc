"""Streaming operator implementations.

Each operator is a plain DataFrame→DataFrame function usable on BOTH a
batch frame and a ``readStream`` frame — the Spark idiom for the
reference's "same groupby, accumulate/merge/finalize" streaming contract
(cpp/src/groupby/streaming_groupby.cpp:21-33). Tests drive them through a
real micro-batch stream (memory sink) and assert equality with the batch
run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cudf_spark.catalog import normalize_events_ts, read_events


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` as a file-source stream (the parquet-channel analogue of
    libcudf_streaming's chunked parquet source, cpp/libcudf_streaming/src/
    parquet.cpp), with ``ts`` normalized like catalog.load."""
    schema = read_events(spark, f"{sf_dir}/events.parquet").schema
    # the file source wants a directory; glob down to the events table
    return normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(events: DataFrame, *, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregate (F.window)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(
    events: DataFrame, *, width: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked sliding-window aggregate."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


def sessionized(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (F.session_window; gap-merged)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            F.date_format("s.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("s.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total",
        )
    )


def stream_dedup(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon — the
    streaming form of distinct keep-any (stream_compaction.hpp:321)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def stateful_running_totals(events: DataFrame, out_schema: str = "user_id long, n long, total double") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, sum) across micro-batches — the accumulate/merge/finalize
    contract of streaming_groupby.cpp:21-33 with user-managed state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # full precision out; callers round at the query layer (Python
        # round is banker's, engine round is not)
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})

    # Only (user_id, value) cross the JVM->Python boundary: the state
    # function reads nothing else, and Spark cannot prune columns through
    # an opaque stateful operator itself (guide §4 — an explicit select
    # ahead of the grouped state op is the only way the scan avoids
    # shipping ts/event_type/event_id through Arrow every micro-batch).
    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_topk(events: DataFrame, *, k: int = 3) -> DataFrame:
    """Custom stateful operator on the transformWithState API (Spark 4.x
    arbitrary-state evolution of applyInPandasWithState): per-user top-k
    event values across micro-batches, held in a ListState of
    (value, event_id) pairs plus a ValueState row counter.

    Emits the running top-k each batch (update semantics); the final
    answer is the emission with the highest ``n`` per user. Ties on value
    break by event_id so results are engine-deterministic. State is
    bounded at k rows per user — the operator's memory is O(users · k)
    regardless of stream length, the property that lets it run forever on
    a 100 TB/day feed.

    Mirrors the reference's streaming accumulate/merge/finalize contract
    (streaming_groupby.cpp:21-33) on the newer state backend (RocksDB
    state store in production; ``getListState``/``getValueState`` here).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if k < 1:
        raise ValueError(f"stateful_topk: k ({k}) must be >= 1")

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("topk", "value double, event_id long")
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cur = [(float(v), int(e)) for v, e in self._top.get()]
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                cur.extend(
                    (float(v), int(e))
                    for v, e in zip(pdf["value"], pdf["event_id"])
                )
            cur.sort(key=lambda p: (-p[0], p[1]))
            cur = cur[:k]
            self._top.put(cur)
            self._n.update((n,))
            pad = cur + [(None, None)] * (k - len(cur))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    **{f"v{i + 1}": [pad[i][0]] for i in range(k)},
                }
            )

        def close(self) -> None:
            pass

    out_schema = "user_id long, n long, " + ", ".join(
        f"v{i + 1} double" for i in range(k)
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopKProcessor(),
        outputStructType=out_schema,
        outputMode="update",
        timeMode="none",
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    *,
    left_ts: str,
    right_ts: str,
    upper: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded to an event-time interval:
    right row matches when ``left_ts <= right_ts <= left_ts + upper``.
    ``how="left_outer"`` emits unmatched left rows null-extended — on
    streams Spark withholds an unmatched row until the watermark passes
    ``left_ts + upper`` (only then is "no match" final), so outer
    results trail by the watermark delay; tests flush them with a
    sentinel event (tests/test_streaming.py).

    On streaming inputs both sides get watermarks, and the two-sided time
    constraint lets Spark's symmetric hash join evict state older than
    ``watermark + upper`` — bounded memory regardless of stream length
    (the requirement for a 100 TB/day event feed). The same function on
    batch frames is a plain equi-join with a range residual: equality keys
    hash-partition both sides, the interval is a post-join filter, never a
    nested loop. Columns must be pre-aliased to distinct names.
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (F.col(right_ts) >= F.col(left_ts)) & (
        F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}")
    )
    for lk, rk in on:
        cond = (F.col(lk) == F.col(rk)) & cond
    return left.join(right, cond, how)


def kafka_micro_batch_reader(
    spark: SparkSession,
    *,
    brokers: str,
    topic: str,
    value_schema=None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source mirroring custreamz Consumer.read_gdf options
    (python/custreamz/custreamz/kafka.py:65-83: brokers/topic/offsets →
    micro-batch frames). Requires the spark-sql-kafka package on the
    classpath; parse ``value`` with ``F.from_json(value_schema)`` when
    given."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    df = reader.load()
    if value_schema is not None:
        df = df.select(
            F.col("key").cast("string").alias("key"),
            F.from_json(F.col("value").cast("string"), value_schema).alias("value"),
            "timestamp",
        )
    return df


def enrich_with_static(
    events: DataFrame,
    dim: DataFrame,
    *,
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: every micro-batch
    joins against the (batch) dimension — the streaming fact-to-dim
    pattern (user/account/catalog lookups). Stateless join, so no
    watermark is needed on the dim side; Spark broadcasts it per batch
    when small. Works identically on a batch frame (the oracle form)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.join(dim, "user_id")
        .groupBy(F.window("ts", width).alias("w"), "tier")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "tier",
            "n",
            "total",
        )
    )


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static per-user dimension derived deterministically from the events
    table's user universe (stand-in for an external user-profile table)."""
    users = read_events(spark, f"{sf_dir}/events.parquet").select("user_id").distinct()
    return users.select(
        "user_id",
        F.when(F.col("user_id") % 3 == 0, F.lit("gold"))
        .when(F.col("user_id") % 3 == 1, F.lit("silver"))
        .otherwise(F.lit("bronze"))
        .alias("tier"),
    )


def write_ordered_batch(df: DataFrame, path: str, seq: int) -> str:
    """Write ``df`` as ONE part-file whose mtime strictly increases with
    ``seq`` — the deterministic logical-batch protocol for replaying a
    directory through the file source with ``maxFilesPerTrigger=1``.

    A plain ``df.write.parquet`` at local[N] emits several part-files
    with identical mtimes; the file source orders by (mtime, path) and
    path is a random UUID, so batch processing order would be unstable
    (the round-4 watermark-test flake). One file per batch + ordered
    mtimes pins it. Returns the part-file path.
    """
    import glob
    import os
    import time

    before = set(glob.glob(os.path.join(path, "*.parquet")))
    df.coalesce(1).write.mode("append").parquet(path)
    new = set(glob.glob(os.path.join(path, "*.parquet"))) - before
    assert len(new) == 1, f"expected one part-file, got {sorted(new)}"
    t = int(time.time()) + seq * 10
    f = new.pop()
    os.utime(f, (t, t))
    return f

def await_available_now(q, label: str, timeout: int = 300) -> None:
    """Block until an availableNow stream finishes; STOP the query and
    raise on timeout. A timed-out stream leaves the sink/state holding a
    PARTIAL batch set that would silently mismatch downstream — fail
    loudly instead, and stop the zombie query before any cleanup pulls
    its source directory away. ONE definition for the five batch-mode
    streaming queries that each hand-rolled this block (round-8 review).
    """
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"{label}: availableNow stream did not finish within "
            f"{timeout}s; partial output would silently mismatch"
        )


def latest_update_rows(sink: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Final state from an update-mode memory sink: update mode emits one
    row per (key, micro-batch); keep the row with the highest
    ``order_col`` per key."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
