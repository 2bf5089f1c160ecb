"""Process-tree helpers over /proc (Linux)."""

from __future__ import annotations

import ctypes
import os
import signal
import time


def proc_table() -> dict[int, int]:
    """pid -> ppid for every live process (zombies excluded)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(d)] = int(fields[1])
    return table


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM). Read once, so
    nothing samples /proc while the job runs."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init.

    A job process exits without stopping its session, which leaves its
    JVM, PySpark's worker daemon and the daemon's workers orphaned (the
    daemon also moves itself into a process group of its own). As a
    subreaper this process inherits them, so ``stop_descendants`` finds
    and reaps them; init might leave them as zombies."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _reap() -> bool:
    """Reap every exited child; False once this process has no children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_descendants() -> None:
    """SIGKILL every descendant of this process and wait until each has
    ended and been reaped."""
    me = os.getpid()
    while True:
        pids = descendants(me)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if not _reap() and not pids:
            return
        time.sleep(0.05)
