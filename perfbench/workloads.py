"""The benchmark's workloads and the run that drives them.

Each workload is a function ``(run) -> None`` that sets up, measures
for ``run.seconds`` and checks outputs, recording into ``run``. The
Spark session, the program's modules and the tracer are reached only
through ``run``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time

from . import datagen, gbfsgen, probes

DASHBOARD_QUERIES = (
    "q1_network_summary q2_top10_value_ratio q3_hourly_profile "
    "q4_hourly_correlation a2_time_bounds w1_lag_delta w3_latest_snapshot "
    "w4_sliding_hour_avg a7_last_per_bucket od_flows_topn "
    "od_flow_conservation od_flows_with_coords p2_time_range "
    "f_haversine_suite a8_activity_by_user"
).split()

#: ingest_refresh: stations in the city feed and polls made before
#: timing starts; each poll advances the feed's clock by one minute
INGEST_STATIONS = 300
INGEST_WARMUP_POLLS = 2


# --------------------------------------------------------------------
# dashboard


def dashboard(run) -> None:
    """Closed loop, one client: seeded permutations of the dashboard
    queries over generated customer/events tables."""
    import __spark_entry__ as entry

    sf_dir = os.path.join(run.dir, run.id)
    run.input_bytes = datagen.write_dashboard_inputs(sf_dir, run.seed)
    queries = entry.queries()
    oracles = entry.oracle_sql()

    t0 = time.perf_counter()
    run.start_session()
    # cold fill + warm-up: every query once, in registry order; the
    # results feed the correctness gate below
    first = {}
    for name in DASHBOARD_QUERIES:
        with run.op("warmup"):
            df = run.build(name, queries[name], sf_dir)
            rows = run.execute(df)
        first[name] = (df.columns, df.dtypes, rows)
    run.setup_s = time.perf_counter() - t0

    bad = check_against_oracles(sf_dir, first, oracles)
    run.checks["oracle_mismatch"] = sorted(bad)

    # whole passes only, so every query weighs the same in each run; a
    # further pass starts only if, at the mean pass time so far, it
    # would end within run.seconds. A pass takes most of run.seconds,
    # so the pass count does not flip between runs with host speed.
    rng = random.Random(f"dashboard-{run.seed}")
    per_query: dict[str, list[float]] = {}
    passes = 0
    run.start_timing()
    while True:
        elapsed = run.timed_s()
        if passes and elapsed + elapsed / passes > run.seconds:
            break
        order = list(DASHBOARD_QUERIES)
        rng.shuffle(order)
        for name in order:
            ok = name not in bad
            rows = None
            with run.op("query") as op:
                try:
                    rows = run.execute(run.build(name, queries[name], sf_dir))
                except Exception as e:  # a failed op is counted, not fatal
                    run.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            if rows is None or len(rows) != len(first[name][2]):
                ok = False
            run.record(op, ok)
            per_query.setdefault(name, []).append(op.latency)
        passes += 1
    run.elapsed = run.timed_s()
    run.extra["per_query_p50_s"] = {
        k: round(sorted(v)[len(v) // 2], 4) for k, v in sorted(per_query.items())
    }


def check_against_oracles(sf_dir: str, results: dict, oracles: dict) -> set[str]:
    """Names of queries whose result differs from their DuckDB oracle,
    compared as tests/oracle.py compares (columns, type families,
    order-insensitive full-precision values)."""
    import duckdb

    from tests.oracle import _assert_types, _normalize, duck_result

    con = duckdb.connect()
    try:
        for t in ("customer", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        bad = set()
        for name, (cols, dtypes, rows) in results.items():
            try:
                s_cols, s_rows = _normalize([tuple(r) for r in rows], cols)
                d_cols, d_rows, d_types = duck_result(con, oracles[name])
                _assert_types(name, dtypes, d_types)
                if s_cols != d_cols or s_rows != d_rows:
                    bad.add(name)
            except (AssertionError, KeyError, duckdb.Error):
                bad.add(name)
        return bad
    finally:
        con.close()


# --------------------------------------------------------------------
# ingest_refresh


def _poll_clock(epoch: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).replace(tzinfo=None)


def ingest_refresh(run) -> None:
    """Closed loop, one poller. Each op ingests one feed snapshot both
    ways the program offers: gbfs.ingest_once (stations upsert, status
    append) with a seeded feed, then the same status snapshot landed as
    a JSON file and drained by the `gbfs` streaming source into
    streaming.ingest.foreach_batch_upsert (a keyed latest-status
    table). The op's latency covers both; the read-after-write refresh
    that follows (windowed availability of the latest 10-minute bucket
    of the status table) is reported as fresh_read_p50_s."""
    from pyspark.sql import functions as F

    wh = os.path.join(run.dir, "warehouse")
    status_path = os.path.join(wh, "station_status.parquet")
    landing = os.path.join(run.dir, "landing")
    os.makedirs(landing)
    feed = gbfsgen.GbfsFeed(run.seed, INGEST_STATIONS)

    def next_payloads() -> tuple[bytes, bytes]:
        """The next snapshot: fetched by the poller, and landed as a
        file for the streaming source (so its bytes arrive twice)."""
        ss = gbfsgen.dumps(feed.advance(60))
        si = gbfsgen.dumps(feed.station_information())
        with open(os.path.join(landing, f"{feed.epoch:012d}.json"), "wb") as f:
            f.write(ss)
        run.payload_bytes += len(si) + 2 * len(ss)
        return si, ss

    def poll(si_b: bytes, ss_b: bytes) -> None:
        fetch = lambda: (json.loads(si_b), json.loads(ss_b))  # noqa: E731
        run.program.gbfs.ingest_once(
            run.spark, wh, fetch_fn=fetch, now=_poll_clock(feed.epoch)
        )

    def drain() -> None:
        stream = (
            run.spark.readStream.format("gbfs")
            .option("path", landing)
            .option("feed", "station_status")
            .load()
        )
        run.program.ingest.foreach_batch_upsert(
            run.spark, stream, os.path.join(wh, "latest_status.parquet"),
            os.path.join(wh, "_checkpoint"),
        )

    def refresh() -> list:
        ing, sinks = run.program.ingest, run.program.sinks
        bucket = _poll_clock(feed.epoch - feed.epoch % 600)
        df = ing.windowed_avg(sinks.read_partitioned(run.spark, status_path))
        return run.execute(df.filter(F.col("bucket_start") == F.lit(bucket)))

    t0 = time.perf_counter()
    run.start_session()
    run.spark.dataSource.register(run.program.GbfsDataSource)
    for _ in range(INGEST_WARMUP_POLLS):
        with run.op("warmup"):
            poll(*next_payloads())
            drain()
            refresh()
    run.setup_s = time.perf_counter() - t0
    polls = INGEST_WARMUP_POLLS

    n_info = len(feed.station_information()["data"]["stations"])
    run.start_timing()
    while run.timed_s() < run.seconds:
        si_b, ss_b = next_payloads()
        ok = False
        with run.op("poll") as op:
            # rows merged per op: the stations upsert and the streaming
            # latest-status upsert
            op.values["sinks.batch_rows"] = float(n_info + INGEST_STATIONS)
            try:
                poll(si_b, ss_b)
                polls += 1
                drain()
                op.stop_clock()
                rows = refresh()
                run.fresh_reads.append(time.perf_counter() - op.stopped)
                ok = len(rows) == INGEST_STATIONS
            except Exception as e:  # a failed op is counted, not fatal
                run.errors.append(f"poll: {type(e).__name__}: {e}"[:300])
        if run.trace:
            op.values["streaming.checkpoint_bytes"] = float(
                probes.tree_bytes(os.path.join(wh, "_checkpoint"))
            )
        run.record(op, ok)
    run.elapsed = run.timed_s()

    last = json.loads(ss_b)
    run.checks.update(_check_ingest_tables(run, wh, feed, last, polls))


def _check_ingest_tables(run, wh, feed, last_ss, polls) -> dict:
    """Exact final row counts and latest-status equality."""
    from pyspark.sql import functions as F

    spark = run.spark
    stations = spark.read.parquet(os.path.join(wh, "stations.parquet"))
    status = spark.read.parquet(os.path.join(wh, "station_status.parquet"))
    n_info = len(feed.station_information()["data"]["stations"])
    n_stations = stations.count()
    n_status = status.count()
    latest = (
        status.filter(F.col("scraped_at") == F.lit(_poll_clock(feed.epoch)))
        .select("station_id", "num_bikes_available", "num_docks_available")
        .collect()
    )
    want = sorted(
        (s["station_id"], s["num_bikes_available"], s["num_docks_available"])
        for s in last_ss["data"]["stations"]
    )
    streamed = (
        spark.read.parquet(os.path.join(wh, "latest_status.parquet"))
        .select("station_id", "num_bikes_available", "num_docks_available")
        .collect()
    )
    run.final_rows = n_stations + n_status + len(streamed)
    run.final_bytes = probes.tree_bytes(wh, ".parquet")
    return {
        "stations_rows_ok": n_stations == n_info,
        "status_rows_ok": n_status == polls * INGEST_STATIONS,
        "latest_status_ok": sorted(tuple(r) for r in latest) == want,
        "streamed_latest_ok": sorted(tuple(r) for r in streamed) == want,
    }


WORKLOADS = {
    "dashboard": dashboard,
    "ingest_refresh": ingest_refresh,
}
