"""CPU and resident memory of a process tree, read from /proc.

The benchmark's process tree is the Python driver, the JVM it
launches, and the JVM's Python worker daemon and workers. CPU of the
tree is the sum, over every live process in it, of user + system time
of the process itself plus that of its reaped children (`cutime`,
`cstime`), so a worker that exits and is waited for keeps counting.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def read_stat(pid: int, proc: str = "/proc") -> dict | None:
    """Fields of /proc/<pid>/stat, or None if the process is gone."""
    try:
        with open(f"{proc}/{pid}/stat", encoding="ascii", errors="replace") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    rest = data[data.rindex(")") + 2 :].split()
    # rest[k] is field k+3 of proc(5)
    return {
        "state": rest[0],
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
        "starttime": int(rest[19]),
        "rss_pages": int(rest[21]),
    }


def tree(root: int, proc: str = "/proc") -> dict[int, dict]:
    """stat of `root` and every live descendant."""
    stats = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st["ppid"], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(stats: dict[int, dict]) -> float:
    ticks = sum(
        s["utime"] + s["stime"] + s["cutime"] + s["cstime"] for s in stats.values()
    )
    return ticks / CLK_TCK


def rss_mb(stats: dict[int, dict]) -> float:
    return sum(s["rss_pages"] for s in stats.values()) * PAGE / 2**20


def host_cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time a virtual CPU waited for the host: a share of it
    over a window says how much a neighbour slowed the run."""
    with open(f"{proc}/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already inside user and nice)
    return fields[7], sum(fields[:8])


def process_age_s(pid: int | None = None) -> float:
    """Seconds since `pid` (default: this process) started."""
    st = read_stat(os.getpid() if pid is None else pid)
    return time.clock_gettime(time.CLOCK_BOOTTIME) - st["starttime"] / CLK_TCK


class TreeSampler:
    """Samples the tree's RSS on a background thread and keeps the peak;
    `cpu()` reads the tree's CPU seconds on demand."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> dict[int, dict]:
        stats = tree(self.root)
        with self._lock:
            self.peak_rss_mb = max(self.peak_rss_mb, rss_mb(stats))
        return stats

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss_mb = 0.0

    def cpu(self) -> float:
        return cpu_seconds(self.sample())

    def start(self) -> TreeSampler:
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return [p for p in tree(root) if p != root]


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid in `pids` has ended; after a grace period
    send SIGTERM, then SIGKILL. Pass the pids taken *before* the parent
    JVM stops: its orphaned children leave this process's tree.
    Returns the pids that had to be signalled."""
    signalled: list[int] = []
    steps = ((None, timeout_s / 2), (signal.SIGTERM, timeout_s / 4), (signal.SIGKILL, timeout_s / 4))
    for sig, wait in steps:
        alive = [p for p in pids if _alive(p)]
        if sig is not None:
            for p in alive:
                try:
                    os.kill(p, sig)
                    signalled.append(p)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            _reap_children()
            if not any(_alive(p) for p in pids):
                return signalled
            time.sleep(0.1)
    return signalled


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    st = read_stat(pid)
    return st is not None and st["state"] != "Z"
