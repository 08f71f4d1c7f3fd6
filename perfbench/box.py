"""Box stamp and resource sampling from /proc, for the benchmark runner.

The host's hypervisor steals CPU from this VM while it is busy (2-40 %
of the wanted CPU time, changing from minute to minute, on the 4-core
box the benchmark was built on). ``Stopwatch`` therefore reports, next to each raw wall time,
the wall scaled by the share of wanted CPU time the VM actually got:
``wall * busy / (busy + steal)`` from /proc/stat, where busy is user +
nice + system + irq + softirq jiffies over the interval. Idle vCPUs are
not stolen from, so the share measures the slowdown of runnable work.
"""

from __future__ import annotations

import os
import threading
import time

# hypervisor steal above this share of the timed region flags the run
STEAL_BOUND = 0.05
RSS_SAMPLE_S = 0.2


def process_age_s() -> float:
    """Seconds since this process started (/proc), so set-up time
    includes interpreter start-up and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.monotonic() - _T_IMPORT


_T_IMPORT = time.monotonic()


# -- box stamp ----------------------------------------------------------


def stat_snap() -> list[int] | None:
    """Cumulative /proc/stat cpu counters (jiffies since boot)."""
    try:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return vals if len(vals) >= 8 else None
    except (OSError, ValueError):
        return None


def steal_frac_between(a: list[int] | None, b: list[int] | None) -> float | None:
    """Share of CPU time stolen by the hypervisor between two
    stat_snap() readings (column 8 of /proc/stat)."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return (d[7] / tot) if tot > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM, the PySpark daemon
    and its forked Python workers)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb(root: int) -> dict[str, float]:
    """Summed RSS of ``root``'s process tree, split into the JVM and the
    Python processes (this one and the workers), with their count."""
    out = {"total": 0.0, "jvm": 0.0, "python": 0.0, "n_python": 0}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        name = status.split("\n", 1)[0].split()[-1]
        rss = next((int(ln.split()[1]) for ln in status.splitlines()
                    if ln.startswith("VmRSS:")), 0) / 1024.0
        out["total"] += rss
        if name == "java":
            out["jvm"] += rss
        elif name.startswith("python"):
            out["python"] += rss
            out["n_python"] += 1
    return out


class RssSampler:
    """Peak summed RSS of this process tree, sampled from /proc on a
    background thread while the timed region runs."""

    def __init__(self, interval: float = RSS_SAMPLE_S):
        self.interval = interval
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            now = tree_rss_mb(me)
            if now["total"] > self.peak_mb:
                self.peak_mb, self.at_peak = now["total"], now
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)



def busy_share(a: list[int] | None, b: list[int] | None) -> float:
    """Share of the CPU time runnable work wanted that it got between
    two stat_snap() readings: busy / (busy + steal)."""
    if a is None or b is None:
        return 1.0
    d = [y - x for x, y in zip(a, b)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] > 0 else 1.0


class Stopwatch:
    """Raw and steal-corrected wall time of one interval."""

    def __init__(self):
        self.stat = stat_snap()
        self.t0 = time.monotonic()

    def read(self) -> tuple[float, float, float]:
        """(wall_s, corrected_s, busy_share) since construction."""
        wall = time.monotonic() - self.t0
        share = busy_share(self.stat, stat_snap())
        return wall, wall * share, share
