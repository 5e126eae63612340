"""Host facts and process-tree sampling, read from /proc.

Everything here is Linux-specific and read-only: no subprocess is started.
"""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import threading
import time


def _cpu_times():
    """Aggregate jiffies from the `cpu` line of /proc/stat:
    (total, system, steal)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(v) for v in parts]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted inside user/nice, so leave it out
    total = sum(vals[:8])
    return total, vals[2], vals[7] if len(vals) > 7 else 0


class CpuWindow:
    """System and steal CPU share over a window of wall time."""

    def __init__(self):
        self._start = _cpu_times()

    def shares(self) -> dict:
        total, system, steal = _cpu_times()
        dt = max(total - self._start[0], 1)
        return {
            "system_cpu_pct": round(100.0 * (system - self._start[1]) / dt, 2),
            "steal_cpu_pct": round(100.0 * (steal - self._start[2]) / dt, 2),
        }


def cpu_probe_ms(samples: int = 9) -> float:
    """Median time of a fixed single-threaded Python loop, in ms. No library
    code runs in it, so across runs it tracks the host's own speed: a slow
    window shows as a higher figure next to that run's numbers."""
    times = []
    for _ in range(samples):
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def _children_map():
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list:
    """root and all of its descendants, as pids."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Resident memory of a process with each shared page split among the
    processes sharing it (PSS), so forked Python workers do not count the
    pages they share with their parent once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and its
    descendants (the Spark driver JVM and its Python workers) on a
    background thread, and keeps the split between driver, JVM and workers
    at the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_split_mb: dict = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            split = {"driver": 0, "jvm": 0, "python_workers": 0, "workers": 0}
            for p in process_tree(me):
                kb = _pss_kb(p)
                part = "driver" if p == me else "jvm" if _is_jvm(p) else "python_workers"
                split[part] += kb
                split["workers"] += part == "python_workers"
            kb = split["driver"] + split["jvm"] + split["python_workers"]
            if kb > self.peak_kb:
                self.peak_kb = kb
                self.peak_split_mb = {k: (round(v / 1024, 1) if k != "workers" else v)
                                      for k, v in split.items()}
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 2)
    return 0.0


def _git_sha(root: str):
    """HEAD of a git checkout, read from .git without running git; None
    when the tree is not a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
    except OSError:
        return None
    if not ref.startswith("ref: "):
        return ref
    try:
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        packed = os.path.join(root, ".git", "packed-refs")
        try:
            with open(packed) as f:
                for line in f:
                    if line.rstrip().endswith(ref[5:]):
                        return line.split()[0]
        except OSError:
            pass
    return None


def source_sha256(package_dir: str) -> str:
    """Digest of the library's .py sources, so a result names the code it
    measured even in a checkout without git metadata."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(package_dir)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_facts(root: str, n_cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": n_cores,
        "ram_gb": _mem_total_gb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "source_sha256": source_sha256(os.path.join(root, "geojson_vt_spark")),
        "started_unix": round(time.time(), 3),
    }
