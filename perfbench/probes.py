"""Resource probes read from outside the engine: resident memory of the
driver's process tree from /proc, and Spark block storage from the
SparkContext."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    return pids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # exited meanwhile
            continue
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and its descendants, including
    exited children their parents have reaped."""
    ticks = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        # utime stime cutime cstime are fields 14-17
        ticks += sum(int(x) for x in stat[stat.rindex(b")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the tree's resident memory on a thread until stopped."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak = tree_rss_bytes(self.root)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: one whose
    parent ends (a Python worker whose JVM has gone) becomes this
    process's child instead of init's, so ``end_descendants`` still
    sees it and can wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 15.0, poll: float = 0.05) -> list[int]:
    """Return once every descendant of this process has ended.

    Descendants get ``grace`` seconds to end by themselves, then SIGTERM,
    then after as long again SIGKILL. Returns the pids that had to be
    signalled."""
    me = os.getpid()
    signalled: list[int] = []
    steps = [(grace, None), (grace, signal.SIGTERM), (grace, signal.SIGKILL)]
    for wait_s, sig in steps:
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            pids = [p for p in _tree(me) if p != me]
            if not pids:
                return signalled
            if sig is not None:
                for pid in pids:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        continue
                    if pid not in signalled:
                        signalled.append(pid)
                sig = None  # once per step; then wait
            if time.monotonic() > deadline:
                break
            time.sleep(poll)
    _reap()
    return signalled


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return fields[7], sum(fields[:8])


def host_probe_s(rounds: int = 3) -> float:
    """Best of ``rounds`` timings of a fixed single-thread Python loop.

    Other guests of a shared machine can slow it by a half or more
    without showing as steal time, and that slows the engine too; this
    figure, taken with Spark stopped, tells a slow host from a slow
    run."""
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def spark_storage(sc) -> dict:
    """Persisted RDD count and their stored bytes (memory plus disk)."""
    jsc = sc._jsc.sc()
    stored = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
    return {"persisted_rdds": jsc.getPersistentRDDs().size(), "storage_mb": stored / 2**20}
