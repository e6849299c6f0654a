"""Outside-in measurements: storage counters read from a sink's files and
HEAD manifest only, order statistics, peak memory of the process tree and
the hypervisor's CPU steal over a run (a tag, not a correction)."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

# counters that are a pure function of (seed, sizes): a run asserts they
# repeat exactly. Manifest bytes are left out — each commit records a
# wall-clock timestamp whose printed length varies.
EXACT_COUNTERS = ("files", "files_per_bucket_max", "files_per_bucket_mean",
                  "data_bytes", "head_bytes", "deltas_per_bucket_max",
                  "deltas_per_bucket_mean")


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


def _parquet_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


def storage_counters(root: str) -> dict:
    """Counters of the table under ``root``: the files HEAD references per
    bucket (base + MoR deltas), their bytes, the manifest size, and the
    bytes of every data file written under ``root`` so far."""
    meta = os.path.join(root, "_meta")
    with open(os.path.join(meta, "HEAD")) as f:
        name = f.read().strip()
    mpath = os.path.join(meta, name)
    with open(mpath) as f:
        m = json.load(f)
    data = os.path.join(root, "data")
    per_bucket, deltas, head_bytes = [], [], 0
    for ent in m["buckets"].values():
        dirs = [ent["path"]] if ent.get("path") else []
        dirs += [d["path"] for d in ent.get("deltas", [])]
        files = [p for d in dirs for p in _parquet_files(os.path.join(data, d))]
        per_bucket.append(len(files))
        deltas.append(len(ent.get("deltas", [])))
        head_bytes += sum(os.path.getsize(p) for p in files)
    n = max(len(per_bucket), 1)
    return {
        "files": sum(per_bucket),
        "files_per_bucket_max": max(per_bucket, default=0),
        "files_per_bucket_mean": sum(per_bucket) / n,
        "deltas_per_bucket_max": max(deltas, default=0),
        "deltas_per_bucket_mean": sum(deltas) / n,
        "data_bytes": tree_bytes(data),
        "head_bytes": head_bytes,
        "manifest_bytes": os.path.getsize(mpath),
        "root_bytes": tree_bytes(root),
    }


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; with fewer than 20 samples none exists and the
    maximum is reported as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        k = n - 11  # 10 samples lie above index n-11
        return s[k], 100.0 * (k + 1) / n
    return (s[-1], 100.0) if s else (float("nan"), 100.0)


def _tree_pids(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        q = todo.pop()
        out.append(q)
        todo.extend(kids.get(q, []))
    return out


def _mem_kib(pid: int) -> dict[str, int]:
    """Memory of one process in KiB, by kind. Forked Python workers count
    their PSS (they share the daemon's pages, which RSS would count once
    per worker); the JVM and the main Python process count anonymous resident memory
    (heap, metaspace, malloc). File-backed pages — jars, shared libraries,
    memory-mapped shuffle and parquet files, reclaimable by the kernel at
    any time — are reported apart and not counted in the peak."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
        if b"pyspark.daemon" in cmd:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return {"workers": int(line.split()[1])}
            return {}
        kind = "jvm" if b"java" in cmd.split(b"\0")[0] else "python"
        out = {}
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(("RssAnon:", "RssShmem:")):
                    out[kind] = out.get(kind, 0) + int(line.split()[1])
                elif line.startswith("RssFile:"):
                    out[kind + "_file"] = int(line.split()[1])
        return out
    except (OSError, IndexError, ValueError):
        return {}


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over every vCPU since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


class HostSampler:
    """Background sampler of the memory of this process tree (Spark JVM,
    Python workers), plus the share of runnable CPU time the hypervisor
    stole between enter and exit. The steal share only tags a run: on a
    shared VM it explains slow runs, the timings stay raw wall time."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kib = 0
        #: per process kind, its share of the sample that set the peak
        self.peak_parts: dict[str, int] = {}
        self.steal_share = 0.0
        self._cpu0 = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts: dict[str, int] = {}
            for q in _tree_pids(pid):
                for kind, kib in _mem_kib(q).items():
                    # a JVM child between fork and exec still reads as
                    # java with all of its parent's pages: count the
                    # largest JVM (local mode runs one), not the sum
                    merge = max if kind.startswith("jvm") else int.__add__
                    parts[kind] = merge(parts.get(kind, 0), kib)
            total = sum(v for k, v in parts.items() if not k.endswith("_file"))
            if total > self.peak_kib:
                self.peak_kib, self.peak_parts = total, parts
            self._stop.wait(self.period)

    def __enter__(self) -> "HostSampler":
        self._cpu0 = _cpu_jiffies()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        busy, steal = (b - a for a, b in zip(self._cpu0, _cpu_jiffies()))
        self.steal_share = steal / (busy + steal) if busy + steal > 0 else 0.0

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
