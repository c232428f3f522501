"""`gbfs` — a Spark 4 Python DataSource over landed GBFS snapshots.

The driver-side path (`gbfs.stations_df` / `status_df`) parses ONE
payload dict on the driver — right for a live poll, wrong for a
backfill over a directory of thousands of landed snapshot files,
where the driver would become the parse bottleneck and the single
`createDataFrame` a memory cliff. This connector makes the landing
directory a real Spark scan: ONE InputPartition per snapshot file,
JSON parsing and row typing on the EXECUTORS, schema pinned from
schemas.py (never inferred). Both paths share the same pure
row-builder functions (`gbfs.station_rows` / `status_rows`), so
connector-vs-driver parity holds by construction and is pinned by
test anyway.

Usage:

    spark.dataSource.register(GbfsDataSource)
    df = (spark.read.format("gbfs")
          .option("path", landing_dir)
          .option("feed", "station_status")   # or station_information
          .load())

Snapshot files are `*.json` GBFS payloads; for status feeds the
batch stamp (`scraped_at`) is each snapshot's own feed-level
`last_updated` — the honest landed-file equivalent of the live
poll's wall-clock stamp.

Reference analog: etl_gbfs.py's fetch-and-parse, lifted from a
single-process loop to a partition-parallel scan.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..schemas import STATION_STATUS, STATIONS

FEED_INFO = "station_information"
FEED_STATUS = "station_status"


def _landing_dir(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("gbfs: the 'path' option is required")
    return path


def _snapshots(path: str) -> list[str]:
    """The landed `*.json` snapshots under `path`, name-sorted so scan
    order and stream offsets are deterministic."""
    return sorted(glob.glob(os.path.join(path, "*.json")))


def _snapshot_rows(path: str, feed: str):
    """Parse ONE snapshot file into typed tuples via the shared
    feed-dispatched row function (gbfs.payload_rows)."""
    from .gbfs import payload_rows

    with open(path) as f:
        payload = json.load(f)
    yield from payload_rows(payload, feed)


class GbfsDataSource(DataSource):
    """Register with ``spark.dataSource.register(GbfsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "gbfs"

    def schema(self):
        feed = self.options.get("feed", FEED_INFO)
        if feed == FEED_INFO:
            return STATIONS
        if feed == FEED_STATUS:
            return STATION_STATUS
        raise ValueError(
            f"gbfs: unknown feed {feed!r} "
            f"(expected {FEED_INFO!r} or {FEED_STATUS!r})"
        )

    def reader(self, schema):
        return _GbfsReader(self.options)

    def simpleStreamReader(self, schema):
        return _GbfsStreamReader(self.options)


class _GbfsReader(DataSourceReader):
    def __init__(self, options):
        path = _landing_dir(options)
        self._feed = options.get("feed", FEED_INFO)
        # partitions are planned from this one listing
        self._files = _snapshots(path)
        if not self._files:
            raise ValueError(f"gbfs: no *.json snapshots under {path}")

    def partitions(self):
        # one snapshot file per partition: parse parallelism == number
        # of landed snapshots, each task's memory bounded by one file
        return [InputPartition(f) for f in self._files]

    def read(self, partition):
        # executor-side: parse THIS file only
        yield from _snapshot_rows(partition.value, self._feed)


class _GbfsStreamReader(SimpleDataSourceStreamReader):
    """SimpleDataSourceStreamReader over the same landing directory:
    each micro-batch consumes the snapshot files that appeared since
    the last committed offset (offset = sorted file-name high-water
    mark — snapshot names are timestamp-ordered by convention, and a
    name high-water mark is replay-stable where an mtime would not
    be). `read` returns (rows, next_offset); `readBetweenOffsets`
    replays a committed range deterministically after a restart."""

    def __init__(self, options):
        self._path = _landing_dir(options)
        self._feed = options.get("feed", FEED_INFO)

    def _files_after(self, watermark: str):
        return [
            f
            for f in _snapshots(self._path)
            if os.path.basename(f) > watermark
        ]

    def _rows_for(self, files):
        for path in files:
            yield from _snapshot_rows(path, self._feed)

    def initialOffset(self) -> dict:
        return {"watermark": "", "n_below": 0}

    def read(self, start: dict):
        # the offset is a NAME high-water mark, so a snapshot whose
        # name sorts at-or-below it (un-zero-padded counters, a
        # different prefix) would otherwise be skipped SILENTLY and
        # forever — fail loudly instead: the offset also carries how
        # many files sat at/below the mark when it was taken, and a
        # mismatch means the landing broke the sortable-names
        # contract (at-most-once is never acceptable silently)
        n_below = sum(
            os.path.basename(f) <= start["watermark"]
            for f in _snapshots(self._path)
        )
        if n_below != start.get("n_below", n_below):
            raise ValueError(
                "gbfs stream: a snapshot landed BEHIND the committed "
                f"high-water mark {start['watermark']!r} "
                f"({n_below} files at/below it, offset recorded "
                f"{start['n_below']}) — snapshot names must be "
                "lexicographically ordered by arrival (zero-pad "
                "counters / use sortable timestamps)"
            )
        files = self._files_after(start["watermark"])
        if not files:
            return iter(()), start
        end = {
            "watermark": os.path.basename(files[-1]),
            "n_below": n_below + len(files),
        }
        # MATERIALIZED list, not a generator: the engine caches and
        # copy.copy()s the returned iterator for replay — a simple
        # stream reader is a driver-side prefetch by design, and one
        # micro-batch of snapshots is bounded
        return iter(list(self._rows_for(files))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = [
            f
            for f in self._files_after(start["watermark"])
            if os.path.basename(f) <= end["watermark"]
        ]
        return iter(list(self._rows_for(files)))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — files stay on disk
