"""Process-tree readings from /proc: high-water RSS and CPU seconds of a
process and everything below it (the server's Python process, its JVM and
the JVM's Python workers), plus host steal time."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    f = s[s.rindex(")") + 2:].split()
    # fields after comm, counted from state = 0: ppid(1) utime(11)
    # stime(12); a reaped worker keeps its last sampled reading
    cpu = (int(f[11]) + int(f[12])) / _TICK
    return int(f[1]), comm, cpu


def _jit_cpu(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads ("C1/C2 CompilerThre",
    as /proc truncates their names)."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        if "CompilerThre" in s[s.index("("):s.rindex(")")]:
            f = s[s.rindex(")") + 2:].split()
            total += (int(f[11]) + int(f[12])) / _TICK
    return total


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree(root: int) -> dict[int, tuple[int, str, float]]:
    """pid → (ppid, comm, cpu s) for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    out, todo = {}, [root]
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _t) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def steal_s() -> float:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / _TICK if len(f) > 8 else 0.0


class TreeSampler:
    """Samples a process tree every ``period`` seconds in a thread: keeps
    each pid's last CPU reading, and the peak over samples of the summed
    high-water RSS of the processes alive at the sample, each classified
    as the root Python process, the JVM, or Python workers. A process that
    has exited no longer counts towards the RSS: Python workers come and
    go, and summing every worker ever seen grew with their turnover."""

    def __init__(self, root: int, period: float = 1.0):
        self.root = root
        self.period = period
        self.peak_kb: dict[str, int] = {}   # kind, or "all" → peak sum
        self.cpu: dict[int, tuple[str, float]] = {}
        self.jit: dict[int, float] = {}   # JVM pid → its JIT threads' CPU
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        t = tree(self.root)
        live: dict[str, int] = {"all": 0}
        with self._lock:
            for pid, (_ppid, comm, cpu) in t.items():
                kind = ("python" if pid == self.root
                        else "jvm" if comm == "java" else "worker")
                self.cpu[pid] = (kind, cpu)
                if kind == "jvm":
                    self.jit[pid] = _jit_cpu(pid)
                kb = _hwm_kb(pid)
                live[kind] = live.get(kind, 0) + kb
                live["all"] += kb
            for kind, kb in live.items():
                self.peak_kb[kind] = max(self.peak_kb.get(kind, 0), kb)

    def cpu_by_kind(self) -> dict[str, float]:
        out = {"python": 0.0, "jvm": 0.0, "worker": 0.0}
        with self._lock:
            for kind, cpu in self.cpu.values():
                out[kind] += cpu
        return out

    def jit_cpu(self) -> float:
        with self._lock:
            return sum(self.jit.values())

    def peak_rss_mb(self) -> float:
        with self._lock:
            return self.peak_kb.get("all", 0) / 1024.0

    def peak_by_kind(self) -> dict[str, float]:
        with self._lock:
            return {k: kb / 1024.0 for k, kb in self.peak_kb.items()
                    if k != "all"}

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
