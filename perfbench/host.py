"""Host-side probes: CPU and resident memory of the benchmark's process
tree (the Python driver, the Spark JVM and its Python workers), CPU steal
and load average.  Linux ``/proc`` only."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live tree, including children each
    process has already reaped (exited Python workers)."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE // 1024


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_mb() -> float:
    """Memory of the tree: proportional set size for the Python processes
    (forked workers share pages with the daemon they forked from), plain
    RSS for the JVM, whose memory is private and whose smaps walk would
    contend with its own allocations."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            total += _rss_kb(pid) if java else _pss_kb(pid)
        except OSError:
            pass
    return total / 1024


class RssSampler:
    """Background thread that keeps the peak of :func:`tree_pss_mb` while
    ``active`` is set (the timed ops only)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.active = threading.Event()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, tree_pss_mb())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg() -> float:
    return os.getloadavg()[0]


def driver_mem() -> str:
    """Spark driver heap sized to the box: a quarter of physical RAM,
    at most 4 GiB (the package default of 16g exceeds small hosts)."""
    mb = os.sysconf("SC_PHYS_PAGES") * _PAGE // 2**20
    return f"{max(1024, min(4096, mb // 4))}m"
