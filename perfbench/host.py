"""Run context: what ran, where, and how fast this host was during the run."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time
from pathlib import Path

import numpy as np


def source_digest(root: Path) -> str:
    """The git commit when the tree is a git checkout, else a sha256 over
    the engine's sources (a checkout exported without .git still gets a
    stable identity)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for p in sorted((root / "easy_solr4files_index_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


def cpu_probe() -> float:
    """Seconds one core takes for a fixed pure-Python loop. The benchmark
    takes it after each of its steps and records it with the results: on a
    shared host the same work can take several times longer from one
    minute to the next, and the probe shows when it did."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t


def cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_jiffies`` readings that the
    hypervisor gave to other guests: a virtual machine's Spark stages wait
    for a stolen core, and single-core probes barely show it."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / max(1, sum(d))


def mem_copy_gb_s() -> float:
    src = np.ones(8 * 1024 * 1024, dtype=np.float64)  # 64 MiB
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return 2 * src.nbytes / best / 1e9


def versions() -> dict:
    import pyarrow
    import pyspark
    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": np.__version__}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root_pid: int | None = None) -> list[int]:
    kids = _children()
    todo, out = [root_pid or os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum over this process and its live descendants (the Spark JVM and
    its Python workers) of each one's high-water resident set (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
