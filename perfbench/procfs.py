"""CPU and memory of a process tree, read from ``/proc``.

CPU counts ``utime + stime`` of every live process in the tree plus
``cutime + cstime``, the CPU of children it has already reaped, so work
done by Python workers that exited is still counted once."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker", b"pyspark/daemon.py",
                   b"pyspark/worker.py")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # comm (field 2) may hold spaces; the fields after it start past ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is not None:
            parent.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(parent.get(pid, ()))
    return tree


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return any(m in cmd for m in _WORKER_MARKERS)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (``VmHWM``), in MiB."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Set each process's ``VmHWM`` back to its current resident set."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from ``/proc/stat``.

    Steal is time the hypervisor gave this machine's CPUs to other
    guests; its share over an interval tells a noisy host from a slow
    program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


class Tree:
    """The benchmark process and everything it started (JVM, workers)."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root

    def cpu(self) -> tuple[float, float]:
        """(CPU seconds of the whole tree, of its Python workers)."""
        pids = descendants(self.root)
        workers = [p for p in pids if p != self.root and is_python_worker(p)]
        return cpu_seconds(pids), cpu_seconds(workers)

    def reset_peak_rss(self) -> None:
        reset_peak_rss(descendants(self.root))

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(descendants(self.root))
