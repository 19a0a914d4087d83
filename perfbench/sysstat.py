"""CPU and memory of a whole process tree, read from ``/proc``.

The measured process is a Python driver that starts a JVM, which starts
Python workers. Most CPU is spent in the JVM, outside the Python
driver, so CPU is summed over the tree.
Children that exited and were reaped count through their parent's
``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _stat(pid: int) -> tuple[float, int] | None:
    """(CPU seconds including reaped children, resident bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[11..14] = utime stime cutime cstime, fields[21] = rss pages
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return cpu, int(fields[21]) * _PAGE


def tree_cpu_rss(root: int) -> tuple[float, int]:
    cpu = rss = 0
    for pid in tree(root):
        st = _stat(pid)
        if st:
            cpu += st[0]
            rss += st[1]
    return cpu, rss


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``peak`` is the
    largest sum seen. Sampling reads only ``/proc``, about 1 ms per
    sample for a tree of a few processes."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self.peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, tree_cpu_rss(self._root)[1])

    def __enter__(self) -> "RssSampler":
        self.peak = tree_cpu_rss(self._root)[1]
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_cpu_rss(self._root)[1])


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's virtual CPUs
    (``steal`` in ``/proc/stat``, summed over CPUs); 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
