"""Host-side helpers: the per-run directory, memory sizing, host
evidence probes, and the memory, CPU-time and scratch-size readings."""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np

#: per-run directories live under <checkout>/.perfbench/run-<pid>
_RUN_PREFIX = "run-"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_dead_runs(base: str) -> list[str]:
    """Remove the run directories of processes that no longer exist: a
    killed run cannot clean up after itself, and its spills must not
    shrink the space left for the runs after it."""
    swept = []
    if not os.path.isdir(base):
        return swept
    for name in os.listdir(base):
        if not name.startswith(_RUN_PREFIX):
            continue
        try:
            pid = int(name[len(_RUN_PREFIX):])
        except ValueError:
            continue
        if pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
            swept.append(name)
    return swept


class RunDir:
    """A private directory for one run: pipeline scratch, Spark local
    dirs, temp files, warehouses and event logs. Removed by ``close``;
    if the process is killed, the next run's ``sweep_dead_runs`` removes
    it."""

    def __init__(self, base: str):
        self.root = os.path.join(base, f"{_RUN_PREFIX}{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.scratch = os.path.join(self.root, "scratch")
        self.tmp = os.path.join(self.root, "tmp")
        for d in (self.scratch, self.tmp):
            os.makedirs(d)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def driver_mem() -> str:
    """Spark driver heap for this host: a sixth of physical memory,
    within [1g, 4g] (2g on a 15 GB host). The JVM pre-touches the whole
    heap at start, and the pipeline's scratch, the Python workers and
    other tenants of the machine need the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    gb = kb / 2**20
    return f"{int(max(1, min(4, gb // 6)))}g"


def host_probe() -> dict:
    """Host evidence, not a metric: best of three 64 MB memcpys of a
    touched buffer, and the 1-minute load average."""
    a = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = min(best, time.perf_counter() - t0)
    return {"memcpy_64mb_ms": round(best * 1000, 2), "load1": os.getloadavg()[0]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _resident_bytes(pid: int, jvm: bool) -> int:
    """Proportional set size for the Python processes, so the pages the
    forked workers share with their daemon count once; plain RSS for the
    JVM, which shares nothing with them and whose PSS costs ~25 ms a read."""
    try:
        if jvm:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root_pid: int) -> tuple[int, dict[str, int]]:
    """Resident bytes of ``root_pid`` and all its descendants — the
    driver Python, the Spark JVM it launched and the Python workers — in
    total and by program. A child the JVM has forked but not yet exec'd
    (it starts the Python daemon that way) shares all its pages with the
    JVM and is skipped."""
    kids = _children()
    by_name: dict[str, int] = {}
    stack = [(root_pid, "")]
    while stack:
        pid, parent_exe = stack.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
        except OSError:
            continue
        stack.extend((k, exe) for k in kids.get(pid, ()))
        name = os.path.basename(exe)
        if name == "java" and parent_exe == exe:
            continue
        by_name[name] = by_name.get(name, 0) + _resident_bytes(pid, name == "java")
    return sum(by_name.values()), by_name


def tree_cpu_seconds(root_pid: int) -> float:
    """User plus system CPU seconds of ``root_pid`` and its descendants,
    including the children they have reaped. Time the hypervisor steals
    from the VM is not in it, unlike wall time."""
    kids = _children()
    ticks, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


class Sampler:
    """Samples process-tree memory and the size of some directories every
    ``interval`` seconds on a daemon thread; ``window()`` returns and
    resets the peaks seen since the previous call."""

    def __init__(self, dirs: list[str], interval: float = 0.5):
        self._dirs = dirs
        self._interval = interval
        self._lock = threading.Lock()
        self._rss = 0
        self._rss_by_name: dict[str, int] = {}
        self._dir = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            rss, by_name = tree_memory(me)
            size = sum(dir_bytes(d) for d in self._dirs)
            with self._lock:
                if rss > self._rss:
                    self._rss, self._rss_by_name = rss, by_name
                self._dir = max(self._dir, size)

    def window(self) -> tuple[int, int, dict[str, int]]:
        """(peak memory, peak directory size, memory by process name at
        the peak) since the previous call."""
        with self._lock:
            out = (self._rss, self._dir, self._rss_by_name)
            self._rss = self._dir = 0
            self._rss_by_name = {}
        return out
