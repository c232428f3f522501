"""Metric names, units and the two output records of a run."""

from __future__ import annotations

import json
import os

_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(_SPEC) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


#: units of end-to-end figures that are not gated, or that only some
#: workloads have, printed on the detail line
DETAIL_UNITS = {
    "op_tail_s": "s",
    "op_tail_pct": "pct",
    "op_samples": "count",
    "fail_frac": "ratio",
    "bytes_per_row": "B",
    "fresh_read_p50_s": "s",
    "peak_rss_mb": "MB",
}


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def _pick(values: dict, units: dict) -> dict:
    """Exactly the declared metrics, each of which must be present."""
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def measure(run) -> tuple[dict, dict]:
    """(result line, detail line) of a finished run; reads the live
    JVM, so call it before the run closes."""
    e2e = run.end_to_end()
    if run.trace:
        layers = run.per_layer()
        run.checks["trace_nesting_ok"] = (
            run.extra["trace_self_sum_gap_max_s"] <= 1e-6
        )
        metrics = _pick(layers, declared("per_layer"))
    else:
        metrics = _pick(e2e, declared("end_to_end"))
    # a check is a bool, or a list of offenders that must be empty
    ok = all(v is True or v == [] for v in run.checks.values())
    result = {
        "correct": ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    detail = {
        "kind": "perfbench_detail",
        "traced": run.trace,
        # with --trace 1 these are the traced run's own figures: their
        # difference from an untraced run is the tracing overhead
        "end_to_end": _with_units(e2e, {**declared("end_to_end"), **DETAIL_UNITS}),
        "checks": run.checks,
        "errors": run.errors[:5],
        "measured_s": run.elapsed,
        "op_latencies_s": run.latencies,
        **run.extra,
    }
    return result, detail
