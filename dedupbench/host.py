"""Host descriptor, a fixed CPU + DRAM health probe, and process memory.

The probe runs the same work on every run (a pure-Python hashing loop
and large numpy copies) before Spark starts.  Its rates are compared to
a committed reference taken on a quiet host; a rate beyond +-25% marks
the run ``degraded`` so host weather is flagged when it is measured.
"""

from __future__ import annotations

import os
import time

import numpy as np

DEGRADED_BAND = 0.25


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def filesystem_of(path: str) -> str:
    """Device and type of the mount holding ``path`` (longest prefix)."""
    path = os.path.realpath(path)
    best = ("?", "?", "")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[2]):
                best = (dev, fstype, mnt)
    return f"{best[0]} ({best[1]})"


def cpu_rate(seconds: float = 1.0) -> float:
    """Pure-Python work units per second (single core)."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        h = 0
        for i in range(20_000):
            h = (h * 1_000_003 + i) & 0xFFFFFFFF
        n += 1
    return n / (time.perf_counter() - t0)


def dram_gbps(seconds: float = 1.0, mb: int = 128) -> float:
    """Large-array copy bandwidth (read + write bytes per second)."""
    src = np.ones(mb * 2**20 // 8)
    dst = np.empty_like(src)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.copyto(dst, src)
        n += 1
    return 2 * n * src.nbytes / (time.perf_counter() - t0) / 1e9


def describe(scratch_dir: str, reference: dict) -> dict:
    """Host descriptor plus the probe; ``degraded`` compares the probe
    with ``reference`` ({"cpu_rate": ..., "dram_gbps": ...})."""
    load1 = os.getloadavg()[0]
    probe = {"cpu_rate": round(cpu_rate(), 2), "dram_gbps": round(dram_gbps(), 2)}
    ratios = {k: probe[k] / reference[k] for k in probe if reference.get(k)}
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": meminfo_kb("MemTotal"),
        "scratch_fs": filesystem_of(scratch_dir),
        "loadavg_1m_start": load1,
        "probe": probe,
        "probe_vs_reference": {k: round(v, 3) for k, v in ratios.items()},
        "degraded": any(abs(v - 1) > DEGRADED_BAND for v in ratios.values()),
    }


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (pyspark daemon and workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
