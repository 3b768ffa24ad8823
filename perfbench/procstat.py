"""Process-tree CPU and memory read from ``/proc``, outside the engine.

The tree is this process and all its descendants: the PySpark driver
(this interpreter), the JVM it launches, and the ``pyspark.daemon`` with
the Python workers it forks.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree() -> dict[int, list[str]]:
    """{pid: stat fields} for this process and every live descendant."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """utime + stime of the whole tree, plus the reaped children's
    cutime + cstime, so a worker that exits mid-phase keeps its share."""
    total = 0
    for st in tree().values():
        # fields after ')': state=0, ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14
        total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def python_worker_rss() -> tuple[int, int]:
    """(summed RSS bytes, process count) of the pyspark daemon and the
    Python workers it forked."""
    rss, n = 0, 0
    for pid, st in tree().items():
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            rss += int(st[21]) * _PAGE  # rss pages
            n += 1
    return rss, n


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``: the
    share stolen by the hypervisor over a phase is its weather."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Background sampler of :func:`python_worker_rss`; keeps the peak."""

    PERIOD_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def sample(self) -> None:
        rss, n = python_worker_rss()
        if rss > self.peak_bytes:
            self.peak_bytes, self.peak_procs = rss, n

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
