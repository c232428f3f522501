"""One benchmark run: private directories, the Spark session, per-op
timing and, in the traced run, layer wrappers and per-layer counts."""

from __future__ import annotations

import contextlib
import functools
import glob
import os
import resource
import shutil
import signal
import subprocess
import time
import types

from . import probes, stats
from .trace import Tracer, patch_everywhere, self_times

#: how long to wait for the engine's status store to settle after an op
_STATUS_WAIT_S = 5.0


class Op:
    def __init__(self) -> None:
        self.start = time.perf_counter()
        self.stopped: float | None = None
        self.latency = 0.0
        self.values: dict[str, float] = {}

    def stop_clock(self) -> None:
        """End the latency clock before the op's trailing work."""
        self.stopped = time.perf_counter()


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.id = f"pb-{workload}-{seed}-{os.getpid()}"
        self.dir = os.path.join(root, ".perfbench_runs", self.id)
        self.warehouse_cache = os.path.join(root, "spark-warehouse")
        self.spark = None
        self.program = None
        self.jvm_pid: int | None = None
        self.tracer = Tracer() if trace else None
        self.setup_s = 0.0
        self.session_s = 0.0
        self.elapsed = 0.0
        self._t_start = 0.0
        #: time spent metering writes inside the measured window
        self._untimed_s = 0.0
        self.latencies: list[float] = []
        #: ingest_refresh: latency of each read-after-write refresh
        self.fresh_reads: list[float] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, object] = {}
        self.extra: dict[str, object] = {}
        self.input_bytes = 0
        self.payload_bytes = 0
        self.final_rows = 0
        self.final_bytes = 0
        self.layer_ops: list[dict[str, float]] = []
        self._op: Op | None = None
        self._warehouse_before: set[str] = set()
        self.catalog_calls = self.catalog_misses = 0
        self._catalog_depth = 0

    # ---------------------------------------------------------------- env

    def prepare(self) -> None:
        """Private dirs and process environment; runs before pyspark is
        imported so the JVM and Python workers inherit it."""
        os.makedirs(self.dir)
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["TMPDIR"] = tmp
        # every JVM the launch starts keeps its temp files in the run
        # dir and writes no perf-data file to the host's /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        )
        self._warehouse_before = set(glob.glob(os.path.join(self.warehouse_cache, "*")))
        self.load_avg_start = probes.loadavg()
        self.cpu_start = probes.cpu_times()
        # dashboard: the program's cache entries keyed by this run's
        # private input directory; ingest: the run's warehouse
        self.meter = probes.WriteMeter(
            os.path.join(self.warehouse_cache, "*", self.id + "*")
            if self.workload == "dashboard"
            else os.path.join(self.dir, "warehouse")
        )

    def import_program(self) -> None:
        from bike_analyzer_spark import session
        from bike_analyzer_spark.sources import catalog, gbfs, sinks
        from bike_analyzer_spark.sources.gbfs_datasource import GbfsDataSource
        from bike_analyzer_spark.streaming import ingest

        self.program = types.SimpleNamespace(
            session=session, catalog=catalog, gbfs=gbfs, sinks=sinks,
            ingest=ingest, GbfsDataSource=GbfsDataSource,
        )
        if self.trace:
            self._install_wrappers()

    # ------------------------------------------------------------ session

    def start_session(self) -> None:
        t0 = time.perf_counter()
        ctx = self.tracer.span("session.start") if self.trace else contextlib.nullcontext()
        with ctx:
            self.spark = self.program.session.get_spark()
        self.session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, the JVM and every process below it, then
        remove what this run created."""
        try:
            if self.spark is not None:
                self._stop_jvm()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            self._remove_cache_entries()

    def _stop_jvm(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        kids = probes.descendants(self.jvm_pid) + [self.jvm_pid]
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)

    def _remove_cache_entries(self) -> None:
        """Remove only the program cache entries keyed by this run's
        private input directory, and cache folders the run created."""
        for path in glob.glob(os.path.join(self.warehouse_cache, "*", self.id + "*")):
            shutil.rmtree(path, ignore_errors=True)
        for kind in glob.glob(os.path.join(self.warehouse_cache, "*")):
            if kind not in self._warehouse_before and not os.listdir(kind):
                os.rmdir(kind)
        if not self._warehouse_before and os.path.isdir(self.warehouse_cache):
            if not os.listdir(self.warehouse_cache):
                os.rmdir(self.warehouse_cache)

    # ---------------------------------------------------------------- ops

    @contextlib.contextmanager
    def op(self, kind: str):
        if self.trace:
            self.tracer.op += 1
            self._set_group("run")
            cpu0 = probes.cpu_seconds(self.jvm_pid)
        op = Op()
        self._op = op
        if self.trace:
            root = self.tracer.begin(f"op.{kind}")
            first = root.sid
        try:
            yield op
        finally:
            end = time.perf_counter()
            op.latency = (op.stopped or end) - op.start
            if self.trace:
                self.tracer.end(root)
                cpu1 = probes.cpu_seconds(self.jvm_pid)
            # a table rewritten by a later op replaces its files, so
            # writes are metered after every op; ops_per_s leaves the
            # metering out
            t0 = time.perf_counter()
            b, n = self.meter.scan()
            self._untimed_s += time.perf_counter() - t0
            if self.trace:
                t0 = time.perf_counter()
                op.values["sinks.bytes_written"] = float(b)
                op.values["sinks.files_written"] = float(n)
                op.values["exec.jvm_cpu_s"] = cpu1[0] - cpu0[0]
                op.values["exec.pyworker_cpu_s"] = cpu1[1] - cpu0[1]
                self._account(op, first, root.duration)
                self.tracer.overhead_s += time.perf_counter() - t0
            self._op = None

    def start_timing(self) -> None:
        """Set-up is over: the measured window opens."""
        self._t_start = time.perf_counter()
        self._untimed_s = 0.0

    def timed_s(self) -> float:
        """Seconds measured so far, write metering left out."""
        return time.perf_counter() - self._t_start - self._untimed_s

    def record(self, op: Op, ok: bool) -> None:
        """Count a timed op; its latency counts only if it succeeded."""
        self.attempted += 1
        if ok:
            self.latencies.append(op.latency)
        else:
            self.failed += 1
        if self.trace:
            # values the workload added after the op's clock stopped
            self.layer_ops[-1].update(op.values, _timed=1.0)

    def build(self, name: str, fn, sf_dir: str):
        """The query-function call (operators layer)."""
        if not self.trace:
            return fn(self.spark, sf_dir)
        self._set_group("build")
        try:
            with self.tracer.span(f"operators.{name}"):
                return fn(self.spark, sf_dir)
        finally:
            self._set_group("run")

    def execute(self, df) -> list:
        """Plan and run the frame's action (engine layers)."""
        if not self.trace:
            return df.collect()
        with self.tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec"):
            return df.collect()

    # ------------------------------------------------------------ tracing

    def _set_group(self, phase: str) -> None:
        group = f"pb{self.tracer.op}-{phase}"
        self.tracer.groups.setdefault(self.tracer.op, set()).add(group)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, group)

    def _note_thread_group(self, *_):
        """Inside an engine callback (a streaming micro-batch), record
        the calling thread's job group so its jobs count to this op."""
        if self.spark is not None:
            g = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            if g:
                self.tracer.groups.setdefault(self.tracer.op, set()).add(g)

    def _add(self, key: str, v: float) -> None:
        if self._op is not None:
            self._op.values[key] = self._op.values.get(key, 0.0) + v

    def _install_wrappers(self) -> None:
        p, t = self.program, self.tracer
        wrapped = [
            (p.gbfs.ingest_once, "gbfs.ingest_once", None, None),
            (p.gbfs.stations_df, "gbfs.stations_df",
             lambda a, k: self._add("gbfs.rows", len(a[1]["data"]["stations"])), None),
            (p.gbfs.status_df, "gbfs.status_df",
             lambda a, k: self._add("gbfs.rows", len(a[1]["data"]["stations"])), None),
            (p.sinks.merge_upsert, "sinks.merge_upsert", self._note_thread_group,
             lambda n: self._add("sinks.rows_rewritten", n)),
            (p.sinks.append_partitioned, "sinks.append_partitioned", None, None),
            (p.sinks.read_partitioned, "sinks.read_partitioned", None, None),
            (p.ingest.foreach_batch_upsert, "streaming.foreach_batch_upsert", None, None),
            (p.ingest.windowed_avg, "streaming.windowed_avg", None, None),
        ]
        for fn in (p.catalog.load, p.catalog.events_partitioned, p.catalog.load_events_spread):
            patch_everywhere(fn, self._count_misses(t.wrap(f"catalog.{fn.__name__}", fn)))
        for orig, name, on_call, on_result in wrapped:
            patch_everywhere(orig, t.wrap(name, orig, on_call, on_result))

    def _count_misses(self, fn):
        """``fn`` counted as a catalog call, and as a cache miss when
        an outermost call wrote or rewrote a fingerprint marker of this
        run's cache entries (the program writes one only on a rebuild)."""
        pattern = os.path.join(self.warehouse_cache, "*", self.id + "*", "_FINGERPRINT.json")

        def markers() -> dict[str, int]:
            out = {}
            for m in glob.glob(pattern):
                with contextlib.suppress(FileNotFoundError):
                    out[m] = os.stat(m).st_mtime_ns
            return out

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            outer = self._catalog_depth == 0
            before = markers() if outer else None
            self.catalog_calls += 1
            self._catalog_depth += 1
            self.tracer.overhead_s += time.perf_counter() - t0
            try:
                return fn(*args, **kwargs)
            finally:
                self._catalog_depth -= 1
                t0 = time.perf_counter()
                if outer and markers() != before:
                    self.catalog_misses += 1
                self.tracer.overhead_s += time.perf_counter() - t0

        return wrapper

    def _account(self, op: Op, first_span: int, wall: float) -> None:
        """Per-layer numbers of the op that just ended."""
        spans = self.tracer.spans[first_span:]
        selfs = self_times(spans)
        v = dict(op.values)
        by_name = {}
        for s in spans:
            key = s.name.split(".")[0] if s.name.startswith(("operators.", "catalog.")) else s.name
            by_name[key] = by_name.get(key, 0.0) + selfs[s.sid]
        v["operators.build_s"] = by_name.get("operators", 0.0)
        v["catalog.self_s"] = by_name.get("catalog", 0.0)
        v["plan.self_s"] = by_name.get("plan", 0.0)
        v["exec.self_s"] = by_name.get("exec", 0.0)
        v["gbfs.build_s"] = by_name.get("gbfs.stations_df", 0.0) + by_name.get("gbfs.status_df", 0.0)
        v["sinks.merge_upsert_s"] = by_name.get("sinks.merge_upsert", 0.0)
        v["sinks.append_s"] = by_name.get("sinks.append_partitioned", 0.0)
        v["streaming.self_s"] = by_name.get("streaming.foreach_batch_upsert", 0.0)
        parents = {s.sid: s.name for s in spans}
        v["streaming.batches"] = float(sum(
            1 for s in spans
            if s.name == "sinks.merge_upsert"
            and parents.get(s.parent) == "streaming.foreach_batch_upsert"
        ))
        v["trace.self_sum_gap_s"] = abs(wall - sum(selfs[s.sid] for s in spans))
        jobs = self._jobs(self.tracer.groups.get(self.tracer.op, set()))
        v.update(jobs)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        cpu = v["exec.jvm_cpu_s"] + v["exec.pyworker_cpu_s"]
        v["exec.cpu_util"] = cpu / (wall * cores) if wall > 0 else 0.0
        self.layer_ops.append(v)

    def _jobs(self, groups: set[str]) -> dict[str, float]:
        """Jobs, stages and tasks the op's job groups ran, read from the
        engine's status tracker once every job has finished."""
        st = self.spark.sparkContext.statusTracker()
        op = self.tracer.op
        deadline = time.perf_counter() + _STATUS_WAIT_S
        while True:
            ids = {g: st.getJobIdsForGroup(g) for g in groups}
            infos = {j: st.getJobInfo(j) for js in ids.values() for j in js}
            if all(i is not None and i.status != "RUNNING" for i in infos.values()):
                break
            if time.perf_counter() > deadline:
                break
            time.sleep(0.02)
        stages = tasks = failed = 0
        seen = set()
        for info in infos.values():
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if sid in seen or si is None:
                    continue
                seen.add(sid)
                if si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {
            "exec.jobs": float(len(infos)),
            "exec.stages": float(stages),
            "exec.tasks": float(tasks),
            "exec.failed_tasks": float(failed),
            "operators.eager_jobs": float(len(ids.get(f"pb{op}-build", []))),
        }

    # ------------------------------------------------------------ results

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return py + probes.peak_rss_mb(self.jvm_pid)

    def end_to_end(self) -> dict[str, float]:
        """Every end-to-end figure this workload has, by name."""
        lat = self.latencies
        tail, pct = stats.tail(lat)
        out = {
            "setup_s": self.setup_s,
            "op_p50_s": stats.median(lat),
            "op_tail_s": tail,
            "op_tail_pct": pct,
            "op_samples": len(lat),
            "ops_per_s": len(lat) / self.elapsed,
            "fail_frac": self.failed / max(1, self.attempted),
            "write_amp": self.meter.bytes / (self.input_bytes + self.payload_bytes),
            "peak_rss_mb": self.peak_rss_mb(),
        }
        if self.final_rows:
            out["bytes_per_row"] = self.final_bytes / self.final_rows
        if self.fresh_reads:
            out["fresh_read_p50_s"] = stats.median(self.fresh_reads)
        return out

    def per_layer(self) -> dict[str, float]:
        timed = [v for v in self.layer_ops if v.get("_timed")]

        def med(key):
            return stats.median([v.get(key, 0.0) for v in timed])

        out = {
            "session.start_s": self.session_s,
            "catalog.self_s": sum(v["catalog.self_s"] for v in self.layer_ops),
            "catalog.calls": float(self.catalog_calls),
            "catalog.cache_miss": float(self.catalog_misses),
        }
        for key in (
            "operators.build_s", "operators.eager_jobs", "plan.self_s",
            "exec.self_s", "exec.jobs", "exec.stages", "exec.tasks",
            "exec.failed_tasks", "exec.jvm_cpu_s", "exec.pyworker_cpu_s",
            "exec.cpu_util", "gbfs.build_s", "gbfs.rows",
            "sinks.merge_upsert_s", "sinks.append_s", "streaming.self_s",
            "streaming.batches", "streaming.checkpoint_bytes",
            "sinks.bytes_written", "sinks.files_written",
        ):
            out[key] = med(key)
        rewritten = sum(v.get("sinks.rows_rewritten", 0.0) for v in timed)
        batch = sum(v.get("sinks.batch_rows", 0.0) for v in timed)
        out["sinks.rewrite_ratio"] = rewritten / batch if batch else 0.0
        overhead = self.tracer.overhead_s
        out["trace.overhead_s"] = overhead / max(1, len(self.layer_ops))
        tasks = [v["exec.tasks"] for v in timed]
        if len(tasks) >= 2 and stats.median(tasks) > 0:
            self.extra["exec_tasks_iqr_share"] = stats.iqr_share(tasks)
        self.extra["trace_self_sum_gap_max_s"] = max(
            (v["trace.self_sum_gap_s"] for v in self.layer_ops), default=0.0
        )
        return out
