"""Host readings recorded beside every timed sample, and the RSS sampler.

Hypervisor steal arrives in bursts on shared VMs, so each sample carries the
steal share and load average of its own interval. They explain a noisy
sample; they are never used to drop one.
"""

from __future__ import annotations

import os
import threading


def cpu_stat() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt else 0.0


def load1() -> float:
    return os.getloadavg()[0]


def _tree_hwm(root: int) -> dict[int, int]:
    """{pid: peak resident bytes (VmHWM)} of `root` and of the Python
    processes below it. Other descendants are left out: a child the JVM
    spawns (Hadoop's local file system runs shell commands) shares the JVM's
    memory until it execs and would count the heap twice."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we read it
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append((int(name), comm))
    hwm, todo = {}, [(root, "")]
    while todo:
        pid, comm = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid != root and not comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                line = next(x for x in f if x.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        hwm[pid] = int(line.split()[1]) * 1024
    return hwm


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the Python
    workers it forks): the largest sum, over the processes alive at one poll,
    of each one's own peak (VmHWM). A process's peak between two polls is not
    missed; polling the plain summed RSS read anywhere from 2.1 to 3.7 GB on
    runs of one workload, depending on whether worker peaks met a poll."""

    def __init__(self, root_pid: int, interval_s: float = 1.0) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        # polls share the driver's interpreter lock with the code under test,
        # so they are rare: each process's VmHWM already holds its peak
        # between polls, a poll only has to see the process alive
        while True:
            self.peak_bytes = max(self.peak_bytes, sum(_tree_hwm(self.root_pid).values()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, sum(_tree_hwm(self.root_pid).values()))
