"""Ad-hoc timing helper: time named queries at a given SF in isolation.

Usage: python scripts/time_queries.py q1 q2 ... [--sf /root/testdata/sf0.1]
Prints per-query p50 of 3 reps via the noop sink. Dev tool only — the
repo's benchmark is perfbench/run.py (see BENCHMARK.json).
"""

from __future__ import annotations

import statistics
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "/root/testdata/sf0.1"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
    from bike_analyzer_spark.session import get_spark

    import __spark_entry__ as em

    spark = get_spark(app_name="time-queries")
    qs = em.queries()
    spark.read.parquet(f"{sf}/events.parquet").count()  # warm
    for name in args:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            # free leaked localCheckpoint blocks between reps — they
            # otherwise contaminate the NEXT measurement (r12 §0)
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
        print(f"{name}: p50={statistics.median(samples):.3f}s "
              f"(all={[round(s, 3) for s in samples]})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
