"""Process-tree accounting from /proc: CPU seconds, memory high-water
marks, descendant discovery, and stopping a tree.

The benchmark's worker process, its JVM and the JVM's Python daemon and
workers form one tree (the daemon leaves the worker's process group via
setpgid, so a process-group kill would miss it; the tree is followed
through parent pids instead).
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, so that index 0
    is the state (field 3 in proc(5))."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw.rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (``root`` excluded)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including children they have already reaped (cutime/cstime)."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        st = _stat_fields(pid)
        if st is not None:
            # proc(5) fields 14-17: utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / CLK_TCK


def tree_hwm_mb(root: int) -> dict[str, float]:
    """The kernel's resident-memory high-water mark (VmHWM) of ``root`` and
    its live descendants, summed by command name, in MiB."""
    out: dict[str, float] = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(
                fields["VmHWM"].split()[0]) / 1024.0
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 10.0) -> None:
    """Wait up to ``grace_s`` for every descendant of this process to exit,
    then SIGKILL the rest and reap them.  The caller must be a child
    subreaper (``become_subreaper``) so that orphans stay below it."""
    deadline = time.time() + grace_s
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() >= deadline + 30:
            raise RuntimeError(f"processes {left} survived SIGKILL")
        if time.time() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def become_subreaper() -> None:
    """PR_SET_CHILD_SUBREAPER: orphaned descendants are re-parented to this
    process instead of init, so ``stop_tree`` still sees them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
