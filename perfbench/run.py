"""Benchmark command.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 14 --trace 0

Run from the root of a checkout of the program. Builds the workload's
inputs from the seed, starts the program, measures for ``--seconds``,
checks its outputs and prints, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of BENCHMARK.json). The line before it is a detail
record with the run's provenance and workload-specific figures.
The benchmark's own tests: ``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from perfbench import probes, report  # noqa: E402
from perfbench.harness import Run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "bike_analyzer_spark", "__init__.py")):
        print("perfbench: the program (bike_analyzer_spark) is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    prov = probes.provenance(ROOT, args.workload, args.seed)
    try:
        run.prepare()
        run.import_program()
        WORKLOADS[args.workload](run)
        result, detail = report.measure(run)
        if run.trace:
            run.tracer.dump(os.path.join(ROOT, ".perfbench_runs", run.id + ".spans.jsonl"))
    finally:
        run.close()
    prov["loadavg_end"] = probes.loadavg()
    prov["cpu_steal_share"] = probes.steal_share(run.cpu_start, probes.cpu_times())
    detail["provenance"] = prov
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
