"""The benchmark's workloads, and which workload each per-layer metric moves.

Each workload stresses different layers, so that a change to one layer shows
on the workload that exercises it and leaves the others unchanged:

* ``tpch_sf01``: four TPC-H queries of ``bench.HEADLINE`` on a seeded copy
  of the sf0.1 fixture tables.  Scan, exchange, broadcast and aggregation do
  the work; nothing crosses into Python.
* ``curation_sf01``: text, dedup and vector-search queries on the sf0.1
  ``documents`` and ``embeddings``.  Per-job overhead, work done eagerly
  inside ``build()`` and Arrow crossings into Python workers dominate; the
  scans are small.
* ``stream_events``: ``streaming.ops.sessionized`` over the sf0.1 ``events``
  replayed one file per micro-batch into a parquet sink.  The only workload
  that writes (write-ahead log, state store, sink files).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class QueryWorkload:
    """A closed loop over registry queries: one op is ``build()`` plus one
    noop-sink write of the returned DataFrame."""

    name: str
    queries: tuple[str, ...]
    warm_op: str  # the cheapest query on the same inputs, run once in set-up
    tpch: bool  # runs on the seeded TPC-H copy, else on the fixtures in place
    pass_s: float  # nominal seconds per timed pass, measured on a 4-vCPU host
    # Timed passes at most, whatever --seconds asks for: the stream needs
    # the longest timed phase to be steady, and the three workloads' runs
    # share one time budget.
    max_passes: int


@dataclass(frozen=True)
class StreamWorkload:
    """One op is one micro-batch: a file is dropped into the source
    directory and the query processes it into the sink."""

    name: str
    rows_per_file: int
    batches_per_second: float  # timed batches per second of --seconds
    # Untimed batches after the first: batch latency falls from about 1.3 s
    # to 1.0 s over the first twenty while JIT compilation catches up, and
    # how fast it falls depends on the host's load.  Over five seeds,
    # skipping eight rather than four cut the spread of the median of 16
    # timed batches from 0.12 to 0.07.
    warm_batches: int


WORKLOADS = {
    w.name: w
    for w in (
        QueryWorkload(
            name="tpch_sf01",
            queries=(
                "q01_pricing_summary",
                "q03_unshipped_orders",
                "q05_local_supplier_volume",
                "q18_large_volume_customer",
            ),
            warm_op="q06_revenue_forecast",
            tpch=True,
            pass_s=4.0,
            max_passes=2,
        ),
        QueryWorkload(
            name="curation_sf01",
            queries=(
                "dedup_minhash_lsh",
                "text_quality_gopher",
                "curation_pipeline",
                # The only Python operator here (mapInPandas): none of the
                # queries above plans a Python node, and the udf layer
                # needs one.
                "mm_video_dedup_signature",
            ),
            warm_op="ann_cosine_topk",
            tpch=False,
            pass_s=8.5,
            max_passes=1,
        ),
        StreamWorkload(name="stream_events", rows_per_file=1000, batches_per_second=1.0, warm_batches=8),
    )
}

# Per-layer metric -> (end-to-end metric, workload) it should move.
# "nothing" marks a metric that moves no end-to-end metric on its own:
# the untimed first pass shows work pushed out of the timed passes, the
# JVM's high-water RSS varies too much from run to run to carry a bound,
# and the trace metrics measure the tracing itself.
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "session.warm_pass_s": ("nothing", "all"),
    "session.peak_rss_mb": ("nothing", "all"),
    "queries.build_s": ("op_geomean_ms", "curation_sf01"),
    "queries.build_self_s": ("op_geomean_ms", "curation_sf01"),
    "queries.action_self_s": ("op_geomean_ms", "tpch_sf01"),
    "queries.sql_s": ("run_s", "tpch_sf01"),
    "queries.executions": ("op_geomean_ms", "curation_sf01"),
    "queries.build_executions": ("op_geomean_ms", "curation_sf01"),
    "queries.jobs": ("op_geomean_ms", "curation_sf01"),
    "queries.stages": ("op_geomean_ms", "curation_sf01"),
    "queries.tasks": ("op_geomean_ms", "curation_sf01"),
    "catalog.files_read": ("run_s", "tpch_sf01"),
    "catalog.bytes_read": ("run_s", "tpch_sf01"),
    "catalog.rows_read": ("run_s", "tpch_sf01"),
    "catalog.scan_time_ms": ("run_s", "tpch_sf01"),
    "operators.exchanges": ("run_s", "tpch_sf01"),
    "operators.shuffle_records": ("run_s", "tpch_sf01"),
    "operators.shuffle_bytes": ("run_s", "tpch_sf01"),
    "operators.shuffle_fetch_wait_ms": ("run_s", "tpch_sf01"),
    "operators.broadcasts": ("run_s", "tpch_sf01"),
    "operators.broadcast_bytes": ("run_s", "tpch_sf01"),
    "operators.broadcast_collect_ms": ("run_s", "tpch_sf01"),
    "operators.spill_bytes": ("run_s", "tpch_sf01"),
    "operators.peak_mem_mb": ("run_s", "tpch_sf01"),
    "operators.rows_out": ("run_s", "tpch_sf01"),
    "udf.python_nodes": ("op_geomean_ms", "curation_sf01"),
    "udf.rows_to_python": ("run_s", "curation_sf01"),
    "udf.bytes_to_python": ("run_s", "curation_sf01"),
    "udf.bytes_from_python": ("run_s", "curation_sf01"),
    "udf.worker_time_ms": ("run_s", "curation_sf01"),
    "streaming.batches": ("run_s", "stream_events"),
    "streaming.trigger_ms_p50": ("op_p50_ms", "stream_events"),
    "streaming.add_batch_ms_p50": ("op_p50_ms", "stream_events"),
    "streaming.get_batch_ms_p50": ("op_p50_ms", "stream_events"),
    "streaming.wal_commit_ms_p50": ("op_p50_ms", "stream_events"),
    "streaming.commit_ms_p50": ("op_p50_ms", "stream_events"),
    "streaming.state_rows_total": ("op_p50_ms", "stream_events"),
    "streaming.state_rows_updated": ("op_p50_ms", "stream_events"),
    "streaming.state_mem_bytes": ("op_p50_ms", "stream_events"),
    "streaming.state_commit_ms": ("op_p50_ms", "stream_events"),
    "streaming.rows_dropped_by_watermark": ("run_s", "stream_events"),
    "sources.sink_files": ("op_p50_ms", "stream_events"),
    "sources.sink_bytes": ("op_p50_ms", "stream_events"),
    "sources.checkpoint_files": ("op_p50_ms", "stream_events"),
    "sources.checkpoint_bytes": ("op_p50_ms", "stream_events"),
    "trace.run_s": ("nothing", "all"),
    "trace.harvest_s": ("nothing", "all"),
}
