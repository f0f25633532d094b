"""CPU time and resident memory of the benchmark's process tree, from /proc.

The tree is the driver Python process plus the Spark JVM and every
descendant of the JVM (the Python worker daemon and its forked
workers).  CPU time counts each live process's own user+system time
plus the time of children it has already reaped, so short-lived Python
workers are included once their daemon reaps them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(entry))
    return kids


class ProcessTree:
    """The driver process and the JVM's subtree (the JVM is found later,
    once the session has started it)."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.jvm: int | None = None

    def pids(self) -> list[int]:
        out = [self.root]
        if self.jvm is not None:
            kids = _children()
            todo = [self.jvm]
            while todo:
                pid = todo.pop()
                out.append(pid)
                todo.extend(kids.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User+system seconds so far over the tree, reaped children included."""
        total = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                # utime stime cutime cstime are fields 14-17 of stat
                total += sum(int(x) for x in st[11:15])
        return total / _TICK

    def rss_mb(self) -> float:
        """Resident memory of the whole tree now, in MiB."""
        pages = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    pages += int(fh.read().split()[1])
            except OSError:
                pass
        return pages * _PAGE / 2**20
