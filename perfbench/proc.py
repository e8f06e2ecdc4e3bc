"""Process and box measurements read from /proc (Linux)."""

from __future__ import annotations

import os
import threading


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stat(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM,
    its JIT compiler and GC threads included, and its Python workers)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                fields = _stat(f"/proc/{pid}/stat")
            except OSError:  # the process ended while we listed /proc
                continue
            procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, (ppid, _) in procs.items() if ppid == p and c not in tree)
    return sum(procs[p][1] for p in tree & procs.keys()) / os.sysconf("SC_CLK_TCK")


def _compiler_thread_ticks(pid: int) -> dict[int, int]:
    """CPU ticks so far of each JIT compiler thread ("C1/C2
    CompilerThread") of process ``pid``, by thread id."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended while we listed its process
            continue
        if "CompilerThre" in stat[stat.index("(") + 1 : stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


class JitMeter:
    """CPU seconds used by the JIT compiler threads of the JVM ``pid`` while
    the ``with`` block runs.

    HotSpot starts compiler threads as its compile queue grows and stops
    them once idle, and /proc forgets a thread's CPU when it exits; so a
    background thread samples every ``period`` seconds and keeps each
    thread's last reading. A thread is stopped only after idling, so its
    last sample holds its total."""

    def __init__(self, pid: int, period: float = 0.5):
        self.pid = pid
        self.period = period
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self._last.update(_compiler_thread_ticks(self.pid))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "JitMeter":
        self._base = _compiler_thread_ticks(self.pid)
        self._last = dict(self._base)
        self._sampler.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._sampler.join()
        self._sample()

    @property
    def cpu_s(self) -> float:
        ticks = sum(v - self._base.get(t, 0) for t, v in self._last.items())
        return ticks / os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))
