"""Tests for the query registry (__spark_entry__)."""

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_aligned(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle key must have a query; queries without oracle are
    # allowed (rows-only check) but flagged here for visibility
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


def test_no_duplicate_registrations():
    """No query name may be contributed by two modules: queries() merges
    the modules with dict.update, so a duplicate would silently replace
    the earlier module's query and oracle."""
    owners: dict[str, str] = {}
    for m in entrymod._MODULES:
        for q in m.QUERIES:
            assert q not in owners, (
                f"query {q!r} registered by both {owners[q]} and "
                f"{m.__name__}"
            )
            owners[q] = m.__name__
