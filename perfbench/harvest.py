"""Per-layer numbers read from Spark's own bookkeeping.

Three sources, all outside the engine:

* the SQL status store (``sharedState().statusStore()``): one record per SQL
  execution, with its plan graph and the SQL metrics of every plan node;
* the status tracker: jobs of a job group, their stages and task counts;
* the streaming query's progress reports.

SQL metric values are read raw from the driver's accumulators where they are
still registered.  Otherwise the status store's display string is parsed;
those strings keep only about four significant digits.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path

SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
TIME_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)


def parse_metric(text: str) -> tuple[float, str]:
    """Parse a status-store display string into ``(number, unit)``.

    Sizes come back in bytes (unit ``"B"``), times in milliseconds (unit
    ``"ms"``), plain counts with an empty unit.  A multi-line string
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"`` yields its total;
    one with no total, ``"(min, med, max ...):\\n(<min>, <med>, ...)"``,
    yields its median.
    """
    line = text.strip().splitlines()[-1] if text.strip() else ""
    if line.startswith("("):
        line = line[1:].split(",")[1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in SIZE_UNITS:
        return number * SIZE_UNITS[unit], "B"
    if unit in TIME_UNITS_MS:
        return number * TIME_UNITS_MS[unit], "ms"
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return number, ""


def raw_to_unit(value: int, metric_type: str) -> float:
    """Scale a raw accumulator value to the units :func:`parse_metric` uses."""
    if metric_type == "nsTiming":
        return value / 1e6
    return float(value)


@dataclass
class Node:
    id: int
    name: str
    metrics: dict[str, float]


@dataclass
class Execution:
    """One SQL execution: its plan nodes with their metrics, and the edges
    from each node to its inputs."""

    id: int
    description: str
    start: float  # epoch seconds
    end: float
    nodes: list[Node] = field(default_factory=list)
    inputs: dict[int, list[int]] = field(default_factory=dict)


class StatusStore:
    """Reads SQL executions out of the session's status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext
        self.next_id = self._first_free_id()

    def _first_free_id(self) -> int:
        it = self._store.executionsList().iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().executionId())
        return top + 1

    def new_executions(self) -> list[Execution]:
        """Executions started since the last call, with their metrics."""
        out = []
        while True:
            opt = self._store.execution(self.next_id)
            if not opt.isDefined():
                return out
            out.append(self._read(opt.get()))
            self.next_id += 1

    def skip(self) -> None:
        """Forget executions started since the last call, without reading them."""
        while self._store.execution(self.next_id).isDefined():
            self.next_id += 1

    def _read(self, ui) -> Execution:
        eid = ui.executionId()
        done = ui.completionTime()
        ex = Execution(
            id=eid,
            description=ui.description(),
            start=ui.submissionTime() / 1e3,
            end=(done.get().getTime() if done.isDefined() else ui.submissionTime()) / 1e3,
        )
        display = self._store.executionMetrics(eid)
        graph = self._store.planGraph(eid)
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name().strip()
            if name.startswith("WholeStageCodegen"):
                continue
            values = {}
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                value = self._value(m, display)
                if value is not None:
                    values[m.name()] = value
            ex.nodes.append(Node(node.id(), name, values))
        edges = graph.edges().iterator()
        while edges.hasNext():
            e = edges.next()
            ex.inputs.setdefault(e.toId(), []).append(e.fromId())
        return ex

    def _value(self, m, display) -> float | None:
        acc = self._acc.get(m.accumulatorId())
        if acc.isDefined():
            return raw_to_unit(acc.get().value(), m.metricType())
        shown = display.get(m.accumulatorId())
        if not shown.isDefined():
            return None
        return parse_metric(shown.get())[0]


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), len(stages), tasks


def _nodes(execs: list[Execution], names: str | tuple[str, ...]):
    return [n for e in execs for n in e.nodes if n.name.startswith(names)]


def _sum(execs: list[Execution], names: str | tuple[str, ...], metric: str) -> float:
    return sum(n.metrics.get(metric, 0.0) for n in _nodes(execs, names))


def _rows_into(ex: Execution, node_id: int) -> float:
    """Rows a node reads: the output rows of the nearest input on each input
    path that counts them (projections and codegen adapters do not)."""
    by_id = {n.id: n for n in ex.nodes}
    total, todo = 0.0, list(ex.inputs.get(node_id, []))
    while todo:
        child = by_id.get(todo.pop())
        if child is None:
            continue
        if "number of output rows" in child.metrics:
            total += child.metrics["number of output rows"]
        else:
            todo.extend(ex.inputs.get(child.id, []))
    return total


def layer_counters(execs: list[Execution]) -> dict[str, float]:
    """Catalog, operator and UDF counters summed over ``execs``."""
    scan = "Scan parquet"
    every = [n for e in execs for n in e.nodes]
    return {
        "catalog.files_read": _sum(execs, scan, "number of files read"),
        "catalog.bytes_read": _sum(execs, scan, "size of files read"),
        "catalog.rows_read": _sum(execs, scan, "number of output rows"),
        "catalog.scan_time_ms": _sum(execs, scan, "scan time"),
        "operators.exchanges": len(_nodes(execs, "Exchange")),
        "operators.shuffle_records": _sum(execs, "Exchange", "shuffle records written"),
        "operators.shuffle_bytes": _sum(execs, "Exchange", "shuffle bytes written"),
        "operators.shuffle_fetch_wait_ms": _sum(execs, "Exchange", "fetch wait time"),
        "operators.broadcasts": len(_nodes(execs, "BroadcastExchange")),
        "operators.broadcast_bytes": _sum(execs, "BroadcastExchange", "data size"),
        "operators.broadcast_collect_ms": _sum(execs, "BroadcastExchange", "time to collect"),
        "operators.spill_bytes": sum(n.metrics.get("spill size", 0.0) for n in every),
        "operators.peak_mem_mb": max((n.metrics.get("peak memory", 0.0) for n in every), default=0.0) / 2**20,
        "operators.rows_out": sum(n.metrics.get("number of output rows", 0.0) for n in every),
        "udf.python_nodes": len(_nodes(execs, PYTHON_NODES)),
        "udf.rows_to_python": sum(_rows_into(e, n.id) for e in execs for n in e.nodes if n.name.startswith(PYTHON_NODES)),
        "udf.bytes_to_python": _sum(execs, PYTHON_NODES, "data sent to Python workers"),
        "udf.bytes_from_python": _sum(execs, PYTHON_NODES, "data returned from Python workers"),
        "udf.worker_time_ms": _sum(execs, PYTHON_NODES, "time to run Python workers"),
    }


def tree_counters(sink: Path, checkpoint: Path) -> dict[str, float]:
    """Files and bytes under the sink and checkpoint directories."""
    out = {}
    for prefix, root in (("sink", sink), ("checkpoint", checkpoint)):
        files = [p for p in root.rglob("*") if p.is_file()]
        out[f"sources.{prefix}_files"] = len(files)
        out[f"sources.{prefix}_bytes"] = sum(p.stat().st_size for p in files)
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Spans kept in memory; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, op: str | None = None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, start, end, parent, op))
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def stream_progress(progress: list[dict]) -> dict[str, float]:
    """Streaming counters over the progress reports of data batches."""

    def p50(key: str) -> float:
        vals = sorted(p["durationMs"].get(key, 0) for p in progress)
        return _median(vals)

    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "streaming.batches": len(progress),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.get_batch_ms_p50": p50("getBatch"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_ms_p50": p50("commitOffsets"),
        "streaming.state_rows_total": progress[-1]["stateOperators"][0]["numRowsTotal"] if state else 0,
        "streaming.state_rows_updated": sum(s["numRowsUpdated"] for s in state),
        "streaming.state_mem_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        "streaming.state_commit_ms": sum(s["commitTimeMs"] for s in state),
        "streaming.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
    }


def _median(vals: list[float]) -> float:
    if not vals:
        return 0.0
    vals = sorted(vals)
    mid = len(vals) // 2
    return float(vals[mid]) if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2.0
