"""The status-store parser, the span self times and the per-layer metric map."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import harvest  # noqa: E402
from workloads import MOVES, WORKLOADS  # noqa: E402


@pytest.mark.parametrize(
    "shown, want",
    [
        ("1,355", (1355.0, "")),
        ("0", (0.0, "")),
        ("17.1 MiB", (17.1 * 2**20, "B")),
        ("512.0 B", (512.0, "B")),
        ("2.5 GiB", (2.5 * 2**30, "B")),
        ("350 ms", (350.0, "ms")),
        ("1.2 s", (1200.0, "ms")),
        ("2.0 m", (120000.0, "ms")),
        # Metrics summed over tasks show the total first on the second line.
        ("total (min, med, max (stageId: taskId))\n128.5 MiB (32.0 MiB, 32.1 MiB, 32.3 MiB (stage 4.0: task 17))", (128.5 * 2**20, "B")),
        ("total (min, med, max (stageId: taskId))\n1.3 s (0 ms, 312 ms, 420 ms (stage 2.0: task 9))", (1300.0, "ms")),
        ("total (min, med, max (stageId: taskId))\n12,400 (3,000, 3,100, 3,300 (stage 1.0: task 3))", (12400.0, "")),
        # Averaged metrics have no total; the median stands for them.
        ("(min, med, max (stageId: taskId)):\n(1, 2.5, 4 (stage 53.0: task 52))", (2.5, "")),
    ],
)
def test_parse_metric_on_captured_strings(shown, want):
    number, unit = harvest.parse_metric(shown)
    assert unit == want[1]
    assert number == pytest.approx(want[0])


def test_parse_metric_rejects_unknown_units_and_text():
    with pytest.raises(ValueError):
        harvest.parse_metric("3 parsecs")
    with pytest.raises(ValueError):
        harvest.parse_metric("n/a")


def test_raw_accumulator_values_scale_to_parser_units():
    assert harvest.raw_to_unit(2_500_000, "nsTiming") == 2.5
    assert harvest.raw_to_unit(4096, "size") == 4096.0


def test_self_time_excludes_children_and_overlap():
    t = harvest.Tracer(True)
    op = t.add("op", 0.0, 10.0)
    build = t.add("build", 0.0, 4.0, op)
    t.add("action", 4.0, 10.0, op)
    t.add("sql", 1.0, 3.0, build)
    t.add("sql", 2.0, 3.5, build)  # overlaps the first execution
    selfs = t.self_times()
    assert selfs["op"] == pytest.approx(0.0)
    assert selfs["build"] == pytest.approx(1.5)
    assert selfs["action"] == pytest.approx(6.0)
    assert selfs["sql"] == pytest.approx(3.5)


def test_disabled_tracer_records_nothing():
    t = harvest.Tracer(False)
    assert t.add("op", 0.0, 1.0) is None
    assert t.spans == []


def test_every_per_layer_metric_names_what_it_moves():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    end_to_end = {m["name"] for m in spec["end_to_end"]} | {"nothing"}
    workloads = set(WORKLOADS) | {"all"}
    assert {m["name"] for m in spec["per_layer"]} == set(MOVES)
    for name, (metric, workload) in MOVES.items():
        assert metric in end_to_end, name
        assert workload in workloads, name
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
