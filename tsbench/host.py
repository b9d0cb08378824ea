"""Host and process-tree readings from /proc.

Host conditions are disclosed with every run, never used to discard one:
steal and iowait as a share of all CPU time between two snapshots (the way
``bench.py`` reads them), load1 at both ends, ``nproc``. The process-tree
readings (resident set, bytes written to storage) cover this process, the
driver JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading


def cpu_snapshot() -> dict:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    # user nice system idle iowait irq softirq steal
    return {"total": sum(vals), "iowait": vals[4], "steal": vals[7], "load1": load1}


def host_report(a: dict, b: dict) -> dict:
    dt = max(b["total"] - a["total"], 1)
    return {
        "steal_pct": round(100.0 * (b["steal"] - a["steal"]) / dt, 2),
        "iowait_pct": round(100.0 * (b["iowait"] - a["iowait"]) / dt, 2),
        "load1_start": a["load1"],
        "load1_end": b["load1"],
        "nproc": os.cpu_count(),
    }


def _children() -> dict:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        ppid = _ppid(int(d))
        if ppid >= 0:
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _field(path: str, name: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(name):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def workers_pss_bytes(pids: list[int]) -> int:
    """Proportional set size of the tree's Python workers (forked from one
    daemon, sharing its pages copy-on-write). Other processes the JVM starts
    run shell commands; between fork and exec they share the JVM's memory
    and carry the forking thread's name, so they are not counted."""
    me = os.getpid()
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if p != me and comm.startswith("python"):
            total += _field(f"/proc/{p}/smaps_rollup", "Pss:")
    return total * 1024


def jvm_pid() -> int | None:
    me = os.getpid()
    for p in _children().get(me, ()):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            pass
    return None


def _ppid(pid: int) -> int:
    try:
        # the command name may hold spaces: ppid follows the last ')'
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return -1


def tree_write_bytes(pids: list[int]) -> int:
    """Bytes the tree caused to be written to storage (page-cache writes
    are charged when dirtied, so unflushed output counts)."""
    return sum(_field(f"/proc/{p}/io", "write_bytes:") for p in pids)


class RssSampler:
    """Peak resident set of the process tree: the kernel's high-water mark
    (VmHWM) of this process and of the driver JVM, plus the peak of the
    Python workers' proportional set size, sampled every ``period`` seconds
    on a daemon thread (workers come and go, so they have no lasting
    high-water mark)."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        self.workers_peak = max(self.workers_peak, workers_pss_bytes(tree_pids()))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Call while the JVM still runs."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        jvm = jvm_pid()
        self.parts_mb = {
            "self_hwm": _field("/proc/self/status", "VmHWM:") / 1024,
            "jvm_hwm": _field(f"/proc/{jvm}/status", "VmHWM:") / 1024 if jvm else 0.0,
            "workers_pss_peak": self.workers_peak / 2**20,
        }
        return int(sum(self.parts_mb.values()) * 2**20)
