"""Process-tree CPU time, host steal and directory sizes, read from /proc
and the file system.

The Spark JVM is a child of the Python driver and the Python workers are
children of the JVM's daemon, so the whole tree is walked from this
process. A process's ``cutime``/``cstime`` hold the CPU time of children
it has already reaped, so workers that exit between two readings are
still counted, by their parent.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU-seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def host_steal_s() -> float:
    """Steal time summed over this machine's CPUs since boot, in seconds:
    time the hypervisor ran something else while a CPU had work."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def dir_bytes(path: str) -> int:
    """Apparent size of every regular file under ``path``; a hard-linked
    file is counted once."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            st = os.lstat(os.path.join(root, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))
