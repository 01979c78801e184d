"""CPU time and resident memory of this process and every process it
started (the JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while the tree was read
        return None
    # field 2 is "(comm)" and may hold spaces; split after it
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU of the tree, including children that ended and
    were reaped by a tree member (cutime/cstime), so a Python worker
    that exits mid-pass is still counted exactly once."""
    total = 0
    for pid in tree() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def start_age_s() -> float:
    """Seconds since this process was started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK


def peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set
    (VmHWM), in MB."""
    kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot. Steal is
    time this VM's CPUs were runnable but the host ran something else;
    it stretches wall times without adding CPU time."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])
