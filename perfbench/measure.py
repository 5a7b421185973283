"""Pure measurement helpers: statistics, the live latency join, prefix
self-times, core-count detection and peak-RSS reads. No Spark here, so
the benchmark's own tests run them on tiny inputs."""

from __future__ import annotations

import os
import statistics
import subprocess
from bisect import bisect_left


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] of ``values``."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return float(ordered[int(rank) - 1])


def covering_batches(
    segments: list[tuple[int, int, float]],
    batches: list[tuple[float, dict[int, int]]],
) -> list[int | None]:
    """For each segment ``(partition, end_offset, due_s)``, the index of
    the first micro-batch whose end offset on that partition reaches
    ``end_offset`` (None if no batch covers it).

    ``batches`` is ``(end_s, {partition: end_offset})`` in batch order;
    end offsets only grow, so each partition's coverage is a sorted
    list searched by bisection."""
    per_part: dict[int, tuple[list[int], list[int]]] = {}
    for i, (_end_s, offsets) in enumerate(batches):
        for p, off in offsets.items():
            offs, idx = per_part.setdefault(p, ([], []))
            if not offs or off > offs[-1]:
                offs.append(off)
                idx.append(i)
    out: list[int | None] = []
    for p, end_offset, _due in segments:
        offs, idx = per_part.get(p, ([], []))
        k = bisect_left(offs, end_offset)
        out.append(idx[k] if k < len(offs) else None)
    return out


def prefix_self_times(prefix_times: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer from cumulative prefix runs: run ``i``
    executes layers ``0..i``, so layer ``i`` costs run ``i`` minus run
    ``i-1``."""
    out = {}
    prev = 0.0
    for name, t in prefix_times:
        out[name] = t - prev
        prev = t
    return out


def core_count() -> tuple[int, str]:
    """Cores for ``local[n]``: ``nproc`` (CPU affinity, with the OpenMP
    overrides that ``nproc`` honours removed), then a well-formed
    positive ``SPARK_GRAFT_CPUS``, then ``os.cpu_count()``. Returns the
    count and which source gave it; a malformed value falls through."""
    env = {k: v for k, v in os.environ.items() if k not in ("OMP_NUM_THREADS", "OMP_THREAD_LIMIT")}
    try:
        out = subprocess.run(["nproc"], env=env, capture_output=True, text=True, timeout=10)
        n = int(out.stdout.strip())
        if n > 0:
            return n, "nproc"
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", "").strip())
        if n > 0:
            return n, "SPARK_GRAFT_CPUS"
    except ValueError:
        pass
    return max(1, os.cpu_count() or 1), "os.cpu_count"


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
