"""CPU time, peak RSS and shutdown of a process tree, read from ``/proc``.

The engine runs in three kinds of process: the Python driver, the py4j JVM
it launches, and the JVM's Python workers. Their CPU is summed over the tree
rooted at the benchmark's own process.
"""

from __future__ import annotations

import os
import signal
import time

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, int, str] | None:
    """(comm, ppid, utime+stime+cutime+cstime in ticks, state), or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15]), rest[0]


def _snapshot() -> dict[int, tuple[str, int, int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _tree(root: int | None = None) -> dict[int, tuple[str, int, int, str]]:
    """``root`` and every process below it, with their ``_stat``."""
    root = os.getpid() if root is None else root
    snap = _snapshot()
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out[pid] = snap[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[int]:
    """``root`` and every live process below it."""
    return list(_tree(root))


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the tree, including reaped children."""
    return sum(st[2] for st in _tree(root).values()) * _TICK_S


def peak_rss_mb(comm: str, root: int | None = None) -> float:
    """Largest ``VmHWM`` among live descendants whose name is ``comm``."""
    peak = 0.0
    for pid, st in _tree(root).items():
        if st[0] != comm:
            continue
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return peak


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL the ones left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in live) and time.monotonic() < deadline:
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    # A zombie has exited already; only its parent's wait is missing.
    st = _stat(pid)
    return st is not None and st[3] != "Z"
