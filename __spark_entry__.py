"""The query registry: every operator module's QUERIES and ORACLES.

``queries()`` maps each query name to its ``(spark, sf_dir) ->
DataFrame`` function and ``oracle_sql()`` maps it to the DuckDB SQL
that must return the same rows. perfbench looks dashboard queries up
here by name, ``bike_analyzer_spark.cli`` lists and runs them, and the
tests check each one against its oracle (tests/oracle.py).
``entry(spark)`` is the one-query smoke check.

Implementation lives in ``bike_analyzer_spark``; this module only
aggregates the per-operator registries, whose query names are
disjoint (tests/test_entry.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bike_analyzer_spark.operators import (
    analytics_ext,
    asof,
    assoc,
    classifier,
    curate,
    dedup,
    divergence,
    drift,
    evalsuite,
    experiment,
    funcsuite,
    funnels,
    fuzzy,
    gapfill,
    graph,
    hypertable,
    importance,
    ivf,
    ivfpq,
    kpi,
    layout,
    lm,
    mixing,
    multimodal,
    od,
    packing,
    pq,
    profile,
    quality,
    rangejoin,
    readers,
    retrieval,
    sampling,
    scale,
    scrub,
    semdedup,
    sequences,
    setjoin,
    similarity,
    stats,
    streamserve,
    substring,
    text,
    tpch,
    tpch_close,
    useranalytics,
    vocab,
    warehouse_ext,
    windows,
    winfuncs,
    winnow,
)

_MODULES = (
    analytics_ext,
    asof,
    assoc,
    classifier,
    curate,
    dedup,
    divergence,
    drift,
    evalsuite,
    experiment,
    funcsuite,
    funnels,
    fuzzy,
    gapfill,
    graph,
    hypertable,
    importance,
    ivf,
    ivfpq,
    kpi,
    layout,
    lm,
    mixing,
    multimodal,
    od,
    packing,
    pq,
    profile,
    quality,
    rangejoin,
    readers,
    retrieval,
    sampling,
    scale,
    scrub,
    semdedup,
    sequences,
    setjoin,
    similarity,
    stats,
    streamserve,
    substring,
    text,
    tpch,
    tpch_close,
    useranalytics,
    vocab,
    warehouse_ext,
    windows,
    winfuncs,
    winnow,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 testdata; the smoke check wants rows>0.

    Top-10 value-to-balance ratio: exercises the latest-snapshot
    scalar max, broadcast dim join, null-guarded rounded ratio, and
    deterministic top-k (reference sql/queries.sql:16-31).
    """
    return kpi.q2_top10_value_ratio(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(getattr(m, "ORACLES", {}))
    return out
