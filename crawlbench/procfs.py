"""Resource reader over ``/proc`` (psutil is not installed).

The benchmark process starts the Spark JVM (through the ``spark-submit``
launcher), and the JVM forks the Python-worker daemon and its workers.
This module walks that process tree and reads, per process, CPU time from
``/proc/<pid>/stat`` and peak resident memory from ``VmHWM`` in
``/proc/<pid>/status``.  It takes point readings only: no sampling thread.

CPU time of a child that has exited and been waited for is folded into its
parent's ``cutime``/``cstime``, so a worker that dies mid-run still counts,
against the daemon that forked it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(command name, parent pid, CPU seconds incl. waited-for children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is parenthesised and may itself contain spaces
    name = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14-17
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return name, ppid, cpu


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> dict[int, tuple[str, int, float]]:
    """Every live process descended from ``root`` (``root`` included)."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    keep = {root} if root in procs else set()
    grew = True
    while grew:
        grew = False
        for pid, (_, ppid, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {pid: procs[pid] for pid in keep}


def _role(pid: int, name: str, root: int) -> str:
    if pid == root:
        return "bench"
    if name == "java":
        return "jvm"
    if name.startswith("python"):  # the worker daemon and its forks
        return "python"
    return "other"  # the spark-submit shell launcher


class ProcessTree:
    """Point readings of the benchmark's process tree."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into ``bench`` (this process),
        ``jvm``, ``python`` (the Spark Python workers) and ``total``."""
        out = {"bench": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
        for pid, (name, _, cpu) in _tree(self.root).items():
            out[_role(pid, name, self.root)] += cpu
        out["total"] = sum(out.values())
        return out

    def peak_rss_mb(self) -> dict[str, float]:
        """``VmHWM`` of the JVM, of the Python workers alive now (and their
        number), and the sum of the two."""
        out = {"jvm": 0.0, "python": 0.0, "workers": 0}
        for pid, (name, _, _) in _tree(self.root).items():
            role = _role(pid, name, self.root)
            if role in ("jvm", "python"):
                out[role] += _vm_hwm_kb(pid) / 1024.0
                out["workers"] += role == "python"
        out["total"] = out["jvm"] + out["python"]
        return out


def steal_seconds() -> float:
    """CPU time the hypervisor gave other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for base, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(base, fn)).st_size
            except OSError:
                pass
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(fn.endswith(suffix) for _, _, files in os.walk(path)
               for fn in files)
