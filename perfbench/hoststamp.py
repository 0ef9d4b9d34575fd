"""Host stamp and process-tree memory for one benchmark run.

Everything here reads ``/proc`` only: CPU accounting over the run
window (steal and system time; a degraded host epoch can show as
system time with little steal), and the resident memory of this
process plus every descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
from pathlib import Path

def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_window(t0: list[int], t1: list[int]) -> dict:
    d = [b - a for a, b in zip(t0, t1)]
    total = max(sum(d), 1)
    return {"steal_pct": round(100.0 * d[7] / total, 2),
            "sys_pct": round(100.0 * d[2] / total, 2),
            "user_pct": round(100.0 * (d[0] + d[1]) / total, 2)}


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size summed over ``root`` and its descendants:
    pages shared between forked Python workers count once in total,
    where summing RSS would count them once per process."""
    parent: dict[int, int] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            # field 4 of stat, after the parenthesised command name
            parent[int(p.name)] = int(
                (p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        kids = [c for c, pp in parent.items() if pp in frontier]
        frontier = [k for k in kids if k not in tree]
        tree.update(frontier)
    kb = 0
    for pid in tree:
        try:
            rollup = (Path("/proc") / str(pid) / "smaps_rollup").read_text()
        except OSError:
            continue
        kb += sum(int(line.split()[1]) for line in rollup.splitlines()
                  if line.startswith("Pss:"))
    return kb * 1024


class RssSampler:
    """Background sampler of the process tree's resident memory
    (summed PSS); ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def code_fingerprint(root: Path) -> str:
    """sha1 over the program's and the benchmark's sources (the checkout
    may not be a git repository, so this names the code that ran)."""
    h = hashlib.sha1()
    files = sorted([*root.glob("social_media_pii_scrubber_spark/**/*.py"),
                    *root.glob("jobs/*.py"), *root.glob("perfbench/*.py")])
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def host_stamp(root: Path, window: dict) -> dict:
    import pyspark
    return {
        **window,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": os.environ.get("SPARK_DRIVER_MEMORY"),
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(root),
        "code_sha1": code_fingerprint(root),
    }
