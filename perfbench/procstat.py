"""CPU and memory accounting for a process tree, read from /proc.

The tree is this driver process and every descendant: the Spark JVM, the
pyspark daemon and its forked Python workers.  CPU is
utime + stime + cutime + cstime summed over the live tree, so a worker
that exits and is reaped by its parent keeps counting through the
parent's cutime/cstime.  JVM CPU alone would miss the Python side, where
most extraction work happens.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open("/proc/%d/stat" % pid) as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def cpu_seconds(root: int) -> float:
    """CPU seconds of the tree, including reaped children of its members."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat, counted from state (field 3)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open("/proc/%d/comm" % pid) as f:
            return f.read().strip()
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_peak_rss_mb(root: int) -> tuple[float, float]:
    """-> (driver, largest worker) peak RSS (VmHWM) in MB, where the
    driver is ``root`` and the workers are the Python processes below it
    (the pyspark daemon and its forks) alive now; 0 when none run."""
    workers = [_vm_hwm_kb(p) for p in tree_pids(root)[1:]
               if _comm(p).startswith("python")]
    return _vm_hwm_kb(root) / 1024.0, max(workers, default=0) / 1024.0
