"""CPU time and memory of the benchmark's process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launches and the Python
workers the JVM forks. CPU time of a process includes its reaped
children (``cutime``/``cstime``), so work of workers that exited inside
an operation is still counted.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
KINDS = ("py_driver", "jvm", "py_workers")


def _read_stat(pid: str, children: bool = True) -> tuple[int, str, int] | None:
    """(ppid, comm, cpu ticks); the ticks include reaped children unless
    ``children`` is false."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            s = f.read().decode("ascii", "replace")
    except OSError:
        return None
    rp = s.rindex(")")
    fields = s[rp + 2 :].split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 11..14
    ticks = sum(map(int, fields[11:15] if children else fields[11:13]))
    return int(fields[1]), s[s.index("(") + 1 : rp], ticks


def tree(root: int | None = None) -> dict[int, tuple[str, int]]:
    """{pid: (kind, cpu ticks)} for ``root`` and its descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        kind = "py_driver" if pid == root else ("jvm" if st[1] == "java" else "py_workers")
        out[pid] = (kind, st[2])
        todo.extend(children.get(pid, ()))
    return out


def jvm_threads(snapshot: dict) -> dict[str, float]:
    """CPU seconds of the JVM split into JIT compiler threads, garbage
    collector threads, all other threads (those that already exited
    included), and the short-lived processes it forked and reaped."""
    out = {"jit": 0.0, "gc": 0.0, "other": 0.0, "children": 0.0}
    for pid, (kind, _ticks) in snapshot.items():
        if kind != "jvm":
            continue
        full, own = _read_stat(str(pid)), _read_stat(str(pid), children=False)
        if full is None or own is None:
            continue
        out["children"] += (full[2] - own[2]) / CLK_TCK
        jit = gc = 0
        for tid in os.listdir(f"/proc/{pid}/task"):
            st = _read_stat(f"{pid}/task/{tid}", children=False)
            if st is None:
                continue
            if "Compiler" in st[1]:
                jit += st[2]
            elif st[1].startswith(("G1 ", "GC ")):
                gc += st[2]
        out["jit"] += jit / CLK_TCK
        out["gc"] += gc / CLK_TCK
        out["other"] += (own[2] - jit - gc) / CLK_TCK
    return out


def cpu_seconds(snapshot: dict[int, tuple[str, int, int]]) -> dict[str, float]:
    out = dict.fromkeys(KINDS, 0.0)
    for kind, ticks in snapshot.values():
        out[kind] += ticks / CLK_TCK
    return out


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds spent between two snapshots, per process kind. A
    process gone from ``after`` was reaped inside the interval and its
    whole time moved to its parent's children count, so subtracting its
    ``before`` time keeps the difference exact."""
    a, b = cpu_seconds(after), cpu_seconds(before)
    return {k: max(0.0, a[k] - b[k]) for k in KINDS}


def pss_bytes(snapshot: dict) -> dict[str, int]:
    """Proportional set size per process kind: pages shared between
    processes (the forked Python workers share most of theirs) are split
    between them instead of counted once per process, as RSS would."""
    out = dict.fromkeys(KINDS, 0)
    for pid, (kind, _ticks) in snapshot.items():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                out[kind] += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return out


def machine() -> dict[str, float]:
    """Load average and cumulative steal ticks: context for a run, not a
    normaliser."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"load1": load[0], "load5": load[1], "steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0}


class PeakMemory:
    """Samples the tree's summed PSS every ``interval`` seconds on one
    background thread and keeps the peak."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self.peak_by_kind = dict.fromkeys(KINDS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    def sample(self) -> None:
        pss = pss_bytes(tree())
        self.peak = max(self.peak, sum(pss.values()))
        self.peak_by_kind = {k: max(v, pss[k]) for k, v in self.peak_by_kind.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
