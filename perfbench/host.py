"""Host stamp and process-tree accounting from /proc (Linux).

- :func:`host_stamp`: cores, RAM and the single-thread canary, so a run on
  a degraded host shows next to its numbers.
- :class:`ProcTree`: a sampler thread that follows every process this
  benchmark starts (the Spark JVM, the Python daemon and its workers),
  keeps their peak resident sets, sums their CPU time, and at the end
  waits until each of them has exited.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / (1 << 20), 2)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_stamp(canary) -> dict:
    return {"nproc": nproc(), "ram_gb": ram_gb(),
            "canary_mloops_per_s": canary()}


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, starttime, cpu ticks incl. reaped children) of a live
    process; None once it has exited (zombies included)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after the command: state ppid ... utime(11) stime cutime cstime
    if f[0] in ("Z", "X"):
        return None
    return int(f[1]), int(f[19]), sum(int(x) for x in f[11:15])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_mib(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """Follows the descendants of this process from a sampler thread."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.seen: dict[int, int] = {}       # pid -> starttime
        self.hwm_mib: dict[int, float] = {}   # pid -> peak resident set
        self.cmd: dict[int, str] = {}
        self.jvm_pid: int | None = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _descendants(self) -> dict[int, tuple[int, int, int]]:
        table = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    table[int(name)] = st
        out, frontier = {}, [self.root]
        while frontier:
            parent = frontier.pop()
            for pid, st in table.items():
                if st[0] == parent and pid not in out:
                    out[pid] = st
                    frontier.append(pid)
        return out

    def sample(self) -> dict[int, tuple[int, int, int]]:
        tree = self._descendants()
        with self._lock:
            for pid, st in tree.items():
                if self.seen.setdefault(pid, st[1]) != st[1]:
                    continue  # pid reused by a process we did not start
                if pid not in self.cmd:
                    self.cmd[pid] = _cmdline(pid)
                self.hwm_mib[pid] = max(self.hwm_mib.get(pid, 0.0),
                                       _hwm_mib(pid))
        return tree

    @property
    def jvm_hwm_mib(self) -> float:
        return self.hwm_mib.get(self.jvm_pid, 0.0)

    @property
    def worker_hwm_mib(self) -> float:
        """Peak resident set of the largest Python worker (the daemon
        forks them; both carry pyspark.daemon on their command line)."""
        return max((v for p, v in self.hwm_mib.items()
                    if "pyspark.daemon" in self.cmd.get(p, "")), default=0.0)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def cpu_seconds(self) -> float:
        """CPU time of this process and every live descendant, each
        including the children it has already reaped."""
        own = _stat(self.root)[2]
        return (own + sum(st[2] for st in self.sample().values())) / _TICK

    def stop_and_reap(self, timeout: float = 60.0) -> list[int]:
        """Stop sampling, then wait for every process ever seen to exit;
        whatever outlives ``timeout`` is killed. Returns the pids that
        had to be killed."""
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)

        def alive() -> list[int]:
            out = []
            for pid, start in self.seen.items():
                st = _stat(pid)
                if st is not None and st[1] == start:
                    try:  # reap our own children; others exit by themselves
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
                    st = _stat(pid)
                    if st is not None and st[1] == start:
                        out.append(pid)
            return out

        deadline = time.monotonic() + timeout
        while alive() and time.monotonic() < deadline:
            time.sleep(0.2)
        killed = alive()
        for pid in killed:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        return killed
