"""CPU time, I/O volume and memory high-water marks of this process and its
descendants.

A local-mode Spark job runs in three kinds of process: this Python driver,
the JVM it launches, and the Python daemon/workers the JVM forks.  The
readings here walk the whole tree from ``/proc`` so the cost of every one
of them is counted.  Workers that exit are reaped by their parent, which
moves their CPU time into the parent's ``cutime``/``cstime``, and their I/O
counts into the parent's ``/proc/<pid>/io``; summing those keeps the totals
monotonic across worker turnover.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds_by_name() -> dict[str, float]:
    """User + system CPU seconds of the tree, reaped children included,
    by command name (python3, java, python ...)."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        # utime, stime, cutime, cstime (proc(5) fields 14-17)
        ticks = sum(int(f) for f in raw[raw.rindex(")") + 2 :].split()[11:15])
        out[name] = out.get(name, 0) + ticks / _CLK_TCK
    return out


def io_bytes() -> int:
    """Bytes the tree passed through read and write calls (``rchar`` +
    ``wchar`` of ``/proc/<pid>/io``): input, shuffle, spill and checkpoint
    files, and the JVM's socket traffic with the Python workers.  They
    count the bytes the program asks for, whether or not the page cache
    serves them, so the same work reads the same however busy the host is."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/io") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        total += int(fields["rchar"]) + int(fields["wchar"])
    return total


def peak_rss_by_process() -> dict[int, tuple[str, float]]:
    """pid -> (command name, resident-set high-water mark VmHWM in MB) for
    the tree."""
    out = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024)
    return out


def steal_seconds() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0
