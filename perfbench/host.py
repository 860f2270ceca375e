"""Host-side measurement: process-tree CPU and RSS from /proc, host sizing,
and the host-window probes recorded beside each result.

Linux only (reads /proc); standard library plus NumPy.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_libc = ctypes.CDLL(None, use_errno=True)
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())  # kcmp(2) syscall number
_KCMP_VM = 1


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start at ") "
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of ``pids``, including reaped children
    (a Python worker that exits is charged to the daemon that waits on it)."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def shares_parent_vm(pid: int, ppid: int) -> bool:
    """Whether ``pid`` runs in its parent's address space: a vfork or
    posix_spawn child before its exec (the JVM starts helpers that way).
    Its RSS is the parent's and must not be counted twice.  kcmp(2)."""
    if _SYS_KCMP is None:
        return False
    return _libc.syscall(_SYS_KCMP, pid, ppid, _KCMP_VM, 0, 0) == 0


def tree_rss_mb(pids: list[int]) -> float:
    """Summed RSS of ``pids``, each address space counted once."""
    members = set(pids)
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            ppid = int(f[1])
            if ppid in members and shares_parent_vm(pid, ppid):
                continue
            total += int(f[21]) * _PAGE  # rss pages, field 24 of stat(5)
    return total / 1e6


class TreeMeter:
    """CPU seconds and peak RSS of this process's tree over one interval.

    A background thread samples RSS every ``period_s``; the process list
    is refreshed each sample so Python workers started mid-run count."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.root = os.getpid()
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(process_tree(self.root)))
            self._stop.wait(self.period_s)

    def __enter__(self) -> TreeMeter:
        self._cpu0 = tree_cpu_s(process_tree(self.root))
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        pids = process_tree(self.root)
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(pids))
        self.cpu_s = tree_cpu_s(pids) - self._cpu0


def meminfo_mb(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            name, rest = line.split(":", 1)
            if name == key:
                return int(rest.split()[0]) // 1024
    raise KeyError(key)


def driver_mem() -> str:
    """Spark driver heap for this host: a sixth of physical memory (the
    host may be shared), between 1 GiB and the engine's 24 GiB default.
    Derived from MemTotal, not MemAvailable, so the heap (and with it RSS
    and GC) does not move with other tenants' load."""
    return f"{max(1024, min(24 * 1024, meminfo_mb() // 6))}m"


# ------------------------------------------------------------ host probes


def membw_gbps(mb: int = 64, reps: int = 5) -> float:
    """Read bandwidth over an array whose pages were written first.

    ``np.zeros`` maps the shared zero page until written, so summing it
    measures cache bandwidth, not memory; ``np.full`` touches every page."""
    a = np.full(mb * 1024 * 1024 // 8, 1.0)
    a.sum()
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        a.sum()
        best = min(best, time.perf_counter() - t)
    return a.nbytes / best / 1e9


_SPIN = """
import time
t = time.perf_counter()
x = 0
for i in range({n}):
    x += i
print({n} / (time.perf_counter() - t) / 1e6)
"""


def spin_mops(workers: int, n: int = 1_000_000) -> dict[str, float]:
    """Python loop rate (M iterations/s) in ``workers`` concurrent
    processes: the median shows the speed of one core in this window, the
    minimum shows whether some core was taken by another tenant.

    Plain subprocesses, each waited for: a ``multiprocessing`` pool would
    leave its resource tracker running past the end of the invocation."""
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN.format(n=n)], stdout=subprocess.PIPE, text=True)
             for _ in range(workers)]
    rates = [float(proc.communicate()[0]) for proc in procs]
    return {"median": statistics.median(rates), "min": min(rates), "workers": workers}


# ------------------------------------------------------ process lifetime


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that processes the JVM leaves behind
    when it exits stay this process's children and can be stopped and
    waited for by ``stop_children``."""
    if _libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            # a zombie (state Z) has exited already; waitpid below reaps it
            if f is not None and int(f[1]) == me and f[0] != "Z":
                out.append(int(name))
    return out


def stop_children(grace_s: float = 20.0) -> list[int]:
    """Stop every process still running under this one: SIGTERM, then
    SIGKILL after ``grace_s``; wait until each has ended and reap it.
    Returns the pids that were still running when called."""
    left = _children()
    signalled: set[int] = set()
    deadline = time.monotonic() + grace_s
    while (kids := set(_children())) and time.monotonic() < deadline:
        # a stopped child's own children are re-parented here: stop them too
        for pid in kids - signalled:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGTERM)
        signalled |= kids
        time.sleep(0.05)
    for pid in _children():
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    # reap everything (SIGKILLed processes, zombies) until no child is left
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return left


def probe(cores: int) -> dict[str, object]:
    return {
        "time": time.time(),
        "loadavg": os.getloadavg(),
        "mem_available_mb": meminfo_mb("MemAvailable"),
        "membw_touched_gbps": round(membw_gbps(), 3),
        "spin_mops": spin_mops(cores),
    }
