"""Host-side measurements read from ``/proc`` (psutil is not available).

* ``RssSampler`` — peak of the summed ``VmHWM`` over a process tree
  (the driver JVM and the Python workers it forks), sampled on a thread.
* ``cpu_snapshot`` / ``cores_between`` — busy and stolen cores between
  two readings of ``/proc/stat``.

The host-load record taken at a run's start comes from ``bench.py``'s own
``_other_busy_cores`` and ``_cpu_calibration``.
"""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants that are alive now."""
    seen: list[int] = []
    stack = [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of one process in KiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _argv0(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return os.path.basename(fh.read().split(b"\0", 1)[0].decode(errors="replace"))
    except OSError:
        return ""


class RssSampler:
    """Samples the summed VmHWM of the driver JVM (a ``java`` child of
    ``root_pid``) and the Python processes below it (PySpark's daemon and
    workers), and keeps the maximum.

    Other processes are left out: a child the JVM is spawning shares the
    JVM's address space until it execs, so its VmHWM would count the JVM
    twice. The sum is taken over processes alive at each sample, so a
    Python worker that exits and is replaced is not counted twice."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts_kb = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        jvm_kb = py_kb = 0
        for jvm in _children(self.root_pid):
            if _argv0(jvm).startswith("java"):
                jvm_kb += vm_hwm_kb(jvm)
                py_kb += sum(
                    vm_hwm_kb(p) for p in process_tree(jvm)[1:] if _argv0(p).startswith("python")
                )
        if jvm_kb + py_kb > self.peak_kb:
            self.peak_kb = jvm_kb + py_kb
            self.peak_parts_kb = {"jvm": jvm_kb, "python": py_kb}
        return jvm_kb + py_kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_snapshot() -> tuple[int, int, int]:
    """(all, idle, steal) jiffies summed over the host's CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals), idle, vals[7] if len(vals) > 7 else 0


def cores_between(a: tuple[int, int, int], b: tuple[int, int, int]) -> tuple[float, float]:
    """(busy, stolen) cores on average between two snapshots. Stolen time
    is CPU the hypervisor gave to other guests while this one wanted it."""
    dt = b[0] - a[0]
    if dt <= 0:
        return 0.0, 0.0
    n = os.cpu_count() or 1
    return (dt - (b[1] - a[1])) / dt * n, (b[2] - a[2]) / dt * n

