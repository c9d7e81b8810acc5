"""A /proc sampler for one process tree: the Spark JVM and every process
below it, which includes the Python daemon and the workers it forks and
keeps alive between tasks.

CPU time is the sum of user and system time over every process seen in
the tree.  Each process's last reading is kept after it exits, so a
worker that ends between two samples loses at most one sample interval.
Worker RSS is read from ``VmHWM`` (the kernel's own high-water mark) of
the Python processes in the tree.

It also ends the tree: :func:`become_subreaper` and :func:`end_children`
let this process wait for every process it started, including the Python
workers that outlive the daemon that forked them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu seconds, comm) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); ppid is field 4, utime 14, stime 15
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK, comm


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree(root: int) -> List[tuple]:
    """(pid, cpu seconds, comm) of ``root`` and every process below it."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: Dict[int, List[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append((pid,) + procs[pid][1:])
            todo.extend(children.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Makes this process the parent of every orphaned process below it.

    The Python daemon under the JVM exits before the workers it forked, and
    an orphan is otherwise handed to PID 1, which may leave it a zombie for
    seconds after this process has gone."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def end_children(grace: float = 30.0) -> None:
    """Waits until every process below this one has exited and been reaped.
    Processes still running after ``grace`` seconds are killed."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, running or exited
        if not killed and time.monotonic() >= deadline:
            for pid, _, _ in tree(me):
                if pid != me:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            killed = True
        time.sleep(0.02)


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host's CPUs since
    boot (``steal`` in /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / _TICK


class TreeSampler:
    """Samples the tree under ``root`` every ``interval`` seconds on a
    background thread between :meth:`start` and :meth:`stop`."""

    def __init__(self, root: int, interval: float = 0.25) -> None:
        self.root = root
        self.interval = interval
        self._cpu: Dict[int, float] = {}
        self._peak_rss_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        procs = tree(self.root)
        rss = max(
            (_hwm_mb(pid) for pid, _, comm in procs if comm.startswith("python")),
            default=0.0,
        )
        with self._lock:
            for pid, cpu, _ in procs:
                self._cpu[pid] = cpu
            self._peak_rss_mb = max(self._peak_rss_mb, rss)

    def cpu_s(self) -> float:
        """CPU seconds used by the tree so far (takes a fresh sample)."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def peak_worker_rss_mb(self) -> float:
        self.sample()
        return self._peak_rss_mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
