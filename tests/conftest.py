import duckdb
import pytest

from bike_analyzer_spark.session import get_spark

SF_DIR_SMOKE = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    # master pinned to local[8] for the TEST session only: the suite's
    # jobs are micro-batches and sf0.01 scans whose tasks finish in
    # milliseconds, and a 32-thread local scheduler spends more time
    # scheduling than computing — measured r13 on the three slowest
    # recovery-matrix surfaces: local[32] 158 s, local[8] 69-81 s,
    # local[4] 175 s (too few threads for the 8 shuffle partitions).
    # Scale behavior is NOT tested here (tests assert correctness),
    # so the test core count is a harness choice.
    s = get_spark(
        app_name="bike-analyzer-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_DIR_ORACLE)
    yield con
    con.close()
