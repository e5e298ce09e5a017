"""The benchmark's process tree: CPU time, peak memory and orderly
shutdown.

The tree is this Python process, the Spark driver JVM it launches, and
the Python workers that JVM forks. Everything is read from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE)
    return out


def descendants(root: int, table=None) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    table = _table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its live descendants,
    including the children each has already reaped (``cutime``/``cstime``),
    so a worker that exits mid-window still counts once, in its parent."""
    total = 0
    for pid in (root, *descendants(root)):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants right now."""
    table = _table()
    pids = [root, *descendants(root, table)]
    return sum(table[p][1] for p in pids if p in table)


class JitCpu:
    """CPU seconds used by the JIT compiler threads of every JVM under
    ``root`` since the first ``read``.

    HotSpot starts and stops compiler threads as the compile queue grows
    and shrinks, and a thread's CPU time leaves ``/proc`` with it, so
    each read adds every live compiler thread's growth since the previous
    read. The CPU a thread uses between its last read and its exit is
    lost; reads every 0.1 s keep that small."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.total = 0.0
        self._names: dict[tuple[int, int], str] = {}
        self._last: dict[tuple[int, int], float] = {}
        self._first = True

    def read(self) -> float:
        for pid in descendants(self.root):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for t in tids:
                key = (pid, int(t))
                if key not in self._names:
                    try:
                        with open(f"/proc/{pid}/task/{t}/comm") as f:
                            self._names[key] = f.read().strip()
                    except OSError:
                        continue
                if "CompilerThre" not in self._names[key]:
                    continue
                try:
                    with open(f"/proc/{pid}/task/{t}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                fields = stat[stat.rindex(")") + 2 :].split()
                cpu = (int(fields[11]) + int(fields[12])) / _TICK
                # a thread first seen after the first read started since
                # the previous read and counts from zero
                self.total += cpu - self._last.get(key, cpu if self._first else 0.0)
                self._last[key] = cpu
        self._first = False
        return self.total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the host's CPUs so far, from
    ``/proc/stat``. Steal is time the hypervisor gave this VM's CPUs to
    someone else: a high share marks a run measured on a busy host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return fields[7], sum(fields[:8])


class CpuSampler:
    """Samples the tree's CPU seconds every ``interval`` seconds on a
    daemon thread, so the CPU time of any stretch of the run can be read
    afterwards (interpolated between samples).

    The JIT compiler's CPU time is kept apart from the rest: a fresh JVM
    compiles for minutes, its compiler threads use as much CPU as the
    work itself in the first passes and triggers, and how much they use
    in a given stretch varies from run to run."""

    def __init__(self, root: int | None = None, interval: float = 0.1) -> None:
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.samples: list[tuple[float, float]] = []  # (time, CPU less JIT)
        self.jit: list[tuple[float, float]] = []  # (time, JIT compiler CPU)
        self.host: list[tuple[float, int, int]] = []  # (time, steal, total)
        self._jit = JitCpu(self.root)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="cpu", daemon=True)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                break

    def _sample(self) -> None:
        t = time.time()
        jit = self._jit.read()
        self.samples.append((t, tree_cpu_s(self.root) - jit))
        self.jit.append((t, jit))
        self.host.append((t, *host_cpu_ticks()))

    def steal_share(self, start: float, end: float) -> float:
        """Host steal share over the samples inside ``[start, end]``."""
        xs = [h for h in self.host if start <= h[0] <= end] or self.host
        return (xs[-1][1] - xs[0][1]) / max(1, xs[-1][2] - xs[0][2])

    def start(self) -> "CpuSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def at(self, t: float, series=None) -> float:
        """CPU seconds used by ``t`` (by default less the JIT compiler's),
        interpolated between samples."""
        xs = self.samples if series is None else series
        if not xs or not xs[0][0] <= t <= xs[-1][0]:
            raise ValueError(f"time {t} is outside the sampled stretch")
        for (t0, c0), (t1, c1) in zip(xs, xs[1:]):
            if t <= t1:
                return c0 if t1 == t0 else c0 + (c1 - c0) * (t - t0) / (t1 - t0)
        return xs[-1][1]

    def between(self, start: float, end: float, series=None) -> float:
        return self.at(end, series) - self.at(start, series)


class RssSampler:
    """Samples the tree's resident memory every ``interval`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, root: int | None = None, interval: float = 0.2) -> None:
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the driver JVM and wait until every process
    this benchmark started has exited (killing any that outlive
    ``timeout``)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        for pid in started:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in started:
            # reap our own children; others are reaped by their parent
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
