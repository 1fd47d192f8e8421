"""Host-side measurement: process-tree RSS, CPU steal, and the
framework-free multiprocessing control that brackets each workload."""

from __future__ import annotations

import ctypes
import multiprocessing
import os
import signal
import sys
import threading
import time
from multiprocessing import resource_tracker

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of physical memory, between 1 and 4 GiB."""
    return max(1024, min(4096, physical_mb() // 8))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we scanned
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree: a descendant
    whose parent exits first (the JVM's Python worker daemon outlives the
    JVM for a moment) is re-parented here, so ``end_children`` can wait
    for it."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_children(grace: float = 30.0) -> None:
    """Return only when this process has no child left.

    Stops multiprocessing's resource tracker (it would otherwise outlive
    this process), gives every other child ``grace`` seconds to exit by
    itself, then kills what remains; every child is reaped."""
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children().get(os.getpid(), ()):
                print(f"perfbench: killing leftover child {child}", file=sys.stderr)
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants.

    A child still running the root's executable (or the JVM's spawn
    helper) is a fork on its way to exec a Python worker: it shares the
    parent's pages, so it is skipped rather than counted twice."""
    kids = _children()
    total, todo = 0, [root]
    try:
        root_exe = os.readlink(f"/proc/{root}/exe")
    except OSError:
        return 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if pid != root and (exe == root_exe or exe.endswith("/jspawnhelper")):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue  # the process ended while we read it
    return total


class RssSampler:
    """Samples the RSS of a process tree every ``interval`` seconds on a
    background thread.  ``lap()`` closes one measured interval and
    returns the largest sample seen in it."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def lap(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal …)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total > 0 else 0.0


def _control_work(payloads: list[bytes]) -> int:
    from dpo_ocr_spark.extract.html import extract_html
    from dpo_ocr_spark.extract.layout import extract_layout
    from dpo_ocr_spark.extract.pdf import extract_pdf

    for p in payloads:
        if p[:1] == b"{":
            extract_layout(p)
        elif p[:5] == b"%PDF-":
            extract_pdf(p)
        else:
            extract_html(p)
    return len(payloads)


class Control:
    """The decode kernels run bare in ``procs`` spawned processes: what
    this host can do for the workload's payloads without Spark."""

    def __init__(self, payloads: list[bytes], procs: int):
        self.chunks = [payloads[i::procs] for i in range(procs)]
        self._pool = multiprocessing.get_context("spawn").Pool(procs)
        # Import the kernels in every worker before anything is timed.
        self._pool.map(_control_work, [c[:2] for c in self.chunks])

    def docs_per_s(self) -> float:
        t0 = time.perf_counter()
        done = sum(self._pool.map(_control_work, self.chunks))
        return done / (time.perf_counter() - t0)

    def close(self) -> None:
        self._pool.terminate()
        self._pool.join()
