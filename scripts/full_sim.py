"""Oracle sweep over the WHOLE query corpus: run every `queries()`
entry and its DuckDB oracle side-by-side and compare the sorted row
multisets exactly — the tests/oracle.py gate, at any scale factor.

Running this at sf0.1 (not just the tests' sf0.01) is what caught
round 6's cross-engine rounding-boundary bugs: averages of 2-decimal
data over 2^a·5^b-sized groups flip one ulp between Spark's
BigDecimal HALF_UP and DuckDB's double rounding, and which groups
hit the boundary depends on the corpus size.

Usage: python scripts/full_sim.py [sf_dir] [shuffle_partitions]
                                  [--only=name1,name2]
Exit code 0 iff every (selected) query matches. --only restricts the
sweep to named queries — the dev loop for verifying a single operator
rewrite; the pre-commit gate is always the unrestricted sweep.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    only: set[str] | None = None
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        else:
            args.append(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    parts = int(args[1]) if len(args) > 1 else 32

    import __spark_entry__ as em
    from bike_analyzer_spark.session import get_spark

    spark = get_spark(shuffle_partitions=parts)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = em.queries(), em.oracle_sql()
    if only is not None:
        missing = only - qs.keys()
        if missing:
            print(f"unknown queries: {sorted(missing)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}

    bad = []
    for i, (name, fn) in enumerate(qs.items()):
        try:
            srows = sorted(map(tuple, fn(spark, sf_dir).collect()))
            orows = sorted(con.sql(oracles[name]).fetchall())
            ok = srows == orows
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            ok = False
            print(f"ERR {name}: {type(e).__name__}: {str(e)[:200]}")
        finally:
            # free leaked localCheckpoint blocks between queries —
            # they accumulate over the 230-query sweep until the
            # block manager squeezes execution memory
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
        print(f"{i + 1}/{len(qs)} {name} {'ok' if ok else 'MISMATCH'}")
        if not ok:
            bad.append(name)
    print(f"TOTAL {len(qs)} BAD {len(bad)} {bad if bad else ''}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
