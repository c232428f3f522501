"""Host-side probes: process CPU and memory from /proc, run provenance
and bytes written under a directory tree."""

from __future__ import annotations

import glob
import hashlib
import itertools
import os
import platform
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU seconds, CPU seconds of the JVM's Python workers).
    Workers that already exited count through their reaped-children
    totals on the worker daemon."""
    f = _stat_fields(jvm_pid)
    jvm = (int(f[11]) + int(f[12])) / _TICK if f else 0.0
    py = 0.0
    for pid in descendants(jvm_pid):
        g = _stat_fields(pid)
        if g:
            py += (int(g[11]) + int(g[12]) + int(g[13]) + int(g[14])) / _TICK
    return jvm, py


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_sha(root: str) -> str:
    """sha256 over the program's Python sources, for checkouts that
    carry no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for dp, dns, fns in os.walk(os.path.join(root, "bike_analyzer_spark")):
        dns.sort()
        paths += [os.path.join(dp, f) for f in sorted(fns) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(root: str, workload: str, seed: int) -> dict:
    return {
        "git_sha": git_sha(root),
        "source_sha": source_sha(root),
        "seed": seed,
        "workload": workload,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "start_time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "loadavg_start": loadavg(),
    }


class WriteMeter:
    """Counts bytes and files written under the directory trees a glob
    pattern names, by diffing listings: a file version is (inode,
    size, mtime), so a file renamed into place is counted once and a
    rewrite counts again."""

    def __init__(self, pattern: str) -> None:
        self.pattern = pattern
        self.seen: set[tuple[int, int, int]] = set()
        self.bytes = 0
        self.files = 0

    def scan(self) -> tuple[int, int]:
        """(bytes, files) written since the previous scan."""
        b = n = 0
        walks = (os.walk(root) for root in glob.glob(self.pattern))
        for dp, _, fns in itertools.chain.from_iterable(walks):
            for fn in fns:
                try:
                    st = os.stat(os.path.join(dp, fn))
                except FileNotFoundError:
                    continue
                key = (st.st_ino, st.st_size, st.st_mtime_ns)
                if key not in self.seen:
                    self.seen.add(key)
                    b += st.st_size
                    n += 1
        self.bytes += b
        self.files += n
        return b, n


def tree_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dp, f)) for f in fns if f.endswith(suffix)
        )
    return total
