"""CPU time and resident memory of a process tree, read from ``/proc``.

The system under test is a Python driver, the JVM it launches and the
Python workers the JVM forks; all of them descend from the driver.  A
reaped child's CPU time moves into its parent's ``cutime``/``cstime``,
so summing all four fields over the live tree never loses a dead worker.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def identify(pids: list[int]) -> set[tuple[int, str]]:
    """(pid, start time) of each live pid: a pair a reused pid cannot match."""
    return {(pid, st[19]) for pid in pids if (st := _stat(pid)) is not None}


def alive(ident: tuple[int, str]) -> bool:
    """True while the process runs (a zombie awaiting its parent is gone)."""
    st = _stat(ident[0])
    return st is not None and st[0] != "Z" and st[19] == ident[1]


def cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
