"""The benchmark's process tree, read from /proc.

The tree is the Python client, the driver JVM it launches and the Python
workers the JVM forks.  :class:`TreeSampler` sums their resident set sizes a
few times a second and keeps the maximum; :func:`tree_cpu_s` sums their CPU
time; :func:`host_times` reads the share of time the hypervisor took away.
:func:`adopt_orphans` and :func:`end_descendants` make sure that no process
of the tree outlives the benchmark.
"""

from __future__ import annotations

import ctypes
import errno
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its descendants, including
    reaped children (so a worker that exited still counts)."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])   # utime stime cutime cstime
    return total / _TICK


def host_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def tree_rss(root: int) -> dict[str, int]:
    """RSS in bytes of ``root`` and all its descendants, summed per command
    name (``java``, ``python3``, ...)."""
    out: dict[str, int] = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0) + rss
    return out


class TreeSampler(threading.Thread):
    def __init__(self, root: int, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period_s = root, period_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            by_name = tree_rss(self.root)
            self.peak = max(self.peak, sum(by_name.values()))
            for k, v in by_name.items():
                self.peak_by_name[k] = max(self.peak_by_name.get(k, 0), v)
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM parent exits is
    re-parented here rather than to init, so :func:`end_descendants` still
    finds it and can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> bool:
    """Collect every child that has exited; True once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def end_descendants(grace_s: float = 20.0) -> None:
    """Stop every descendant of this process and wait until each has ended:
    SIGTERM, up to ``grace_s`` seconds to exit, then SIGKILL."""
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        pids = [p for p in _tree(me) if p != me]
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError as exc:
                if exc.errno != errno.ESRCH:
                    raise
        deadline = time.monotonic() + wait_s
        while not _reap():
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return
    raise RuntimeError(f"processes {[p for p in _tree(me) if p != me]} did not end")
