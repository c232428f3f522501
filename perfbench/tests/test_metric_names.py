import json
import os

import pytest

from perfbench import report

BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def _spec():
    with open(BENCHMARK) as f:
        return json.load(f)


def test_benchmark_workloads_are_implemented():
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOADS)


class FakeRun:
    checks = {"ok": True}
    attempted, failed, elapsed = 3, 0, 1.0
    latencies = [1.0, 1.0, 1.0]
    errors: list = []

    def __init__(self, trace):
        self.trace = trace
        self.extra = {"trace_self_sum_gap_max_s": 0.0}

    def end_to_end(self):
        names = [m["name"] for m in _spec()["end_to_end"]] + list(report.DETAIL_UNITS)
        return {k: 1.0 for k in names}

    def per_layer(self):
        return {m["name"]: 1.0 for m in _spec()["per_layer"]}


@pytest.mark.parametrize("trace,kind", [(False, "end_to_end"), (True, "per_layer")])
def test_printed_metrics_are_exactly_the_declared_ones(trace, kind):
    result, _ = report.measure(FakeRun(trace))
    spec = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == spec
    assert result["correct"] is True
