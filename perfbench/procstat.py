"""Process-tree CPU and resident memory from /proc: this process, the
Spark JVM it launched and the JVM's Python workers."""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree() -> list[tuple[int, int, str, list[str]]]:
    """(pid, parent pid, command name, stat fields after the name) for this
    process and every descendant."""
    me = os.getpid()
    procs: dict[int, tuple[int, str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        procs[int(name)] = (int(rest[1]), s[s.index("(") + 1:s.rindex(")")], rest)
    out = []
    for pid, (ppid, comm, rest) in procs.items():
        p = pid
        for _ in range(64):
            if p == me:
                out.append((pid, ppid, comm, rest))
                break
            p = procs[p][0] if p in procs else 0
            if p <= 1:
                break
    return out


def tree_cpu_s() -> float:
    """CPU seconds used by the tree so far, counting reaped children
    through their parents' cutime/cstime."""
    return sum(sum(int(x) for x in rest[11:15]) for *_, rest in _tree()) / _CLK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_pids() -> list[tuple[int, bool]]:
    """(pid, count PSS rather than RSS) for the long-lived members: this
    process and the JVM (RSS), and the Python workers (PSS, as they share
    pages with the daemon they fork from). Short-lived helpers the JVM
    spawns (the shell commands Hadoop's local file system runs) are
    skipped: between fork and exec they report the JVM's whole address
    space as their own."""
    me = os.getpid()
    return [(pid, comm.startswith("python") and pid != me)
            for pid, ppid, comm, _ in _tree()
            if pid == me or (ppid == me and comm == "java") or comm.startswith("python")]


def resident_mb(pids: list[tuple[int, bool]]) -> float:
    total = 0
    for pid, pss in pids:
        if pss:
            total += _pss_kb(pid) * 1024
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total / 2**20


class RssSampler:
    """Samples the tree's resident memory every ``interval`` seconds on a
    daemon thread while ``active`` is set; ``peak_mb`` is the largest
    sample. The process list is refreshed every ``RESCAN`` samples only:
    walking all of /proc holds the interpreter lock long enough to slow
    the driver thread that builds the DataFrames."""

    RESCAN = 10

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._pids: list[tuple[int, bool]] = []
        self._ticks = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        if self._ticks % self.RESCAN == 0:
            self._pids = memory_pids()
        self._ticks += 1
        self.peak_mb = max(self.peak_mb, resident_mb(self._pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
