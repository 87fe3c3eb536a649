"""Pure measurement helpers: the tail-percentile choice, process-tree
CPU and memory from ``/proc``, and the box-state record."""

from __future__ import annotations

import os
import threading

MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile from 50 to 99 with at least
    ``MIN_BEYOND`` of ``n`` samples beyond it; None when even the
    median has fewer."""
    for p in range(99, 49, -1):
        if n * (100 - p) // 100 >= MIN_BEYOND:
            return p
    return None


# --- process tree -----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the driver JVM and Python workers."""
    total = 0
    for p in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split among the processes
    sharing them, so a JVM's short-lived forks (Hadoop's shell calls)
    do not count its memory twice, as resident set sizes would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_rss_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the process tree in MiB, as summed PSS."""
    return sum(_pss_kb(p) for p in (pids if pids is not None else tree_pids())) / 1024


class RssSampler:
    """Samples the process tree's resident memory on a thread; ``peak``
    is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_mb())


# --- box state ----------------------------------------------------------------


def box_state(cpus: int, steal0, steal1, load0: list[float]) -> dict:
    """cpus_effective, hypervisor steal over the run and load averages,
    with a flag for a contended box: steal of 2 % or more, or a 1-minute
    load at launch above 1.5 x the cores (other work was running)."""
    import bench

    steal = bench.steal_pct(steal0, steal1)
    load1 = [round(x, 2) for x in os.getloadavg()]
    return {
        "cpus_effective": cpus,
        "steal_pct": steal,
        "loadavg_at_launch": load0,
        "loadavg_at_end": load1,
        "contended": bool(
            (steal is not None and steal >= 2.0) or load0[0] > 1.5 * cpus
        ),
    }
