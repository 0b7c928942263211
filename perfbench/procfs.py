"""Process-tree and host readings from ``/proc`` only (no psutil).

The benchmark's process tree is the Python driver, the JVM it launches, and
the JVM's Python workers; peak memory and CPU time are summed over all of
them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` plus every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n per process. Forked Python workers share most of
    their pages with the worker daemon, so summing plain RSS would count
    those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended, or smaps_rollup is unavailable
        pass
    f = _stat_fields(pid)
    return int(f[21]) * _PAGE if f is not None else 0  # field 24: rss in pages


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree, shared pages counted once (summed PSS)."""
    return sum(_pss_bytes(pid) for pid in descendants(root))


def tree_cpu_seconds(root: int) -> float:
    """utime + stime of the live tree, plus cutime + cstime so that reaped
    children still count."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # fields 14-17
    return ticks / _CLK_TCK


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the aggregate ``cpu`` line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def host_probe(n: int = 300_000) -> float:
    """Seconds for a fixed single-thread Python loop; independent of the
    program, so it shows how fast the machine ran at the time."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def become_subreaper() -> bool:
    """Make orphaned descendants (Python workers whose JVM has ended)
    re-parent to this process instead of init, so that ``stop_tree`` still
    finds and reaps them. Linux only; returns whether it took effect."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    """Collect the exit status of every ended child, so none stays a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid == 0:
            return


def stop_tree(root: int, grace_s: float = 20.0, kill_s: float = 5.0) -> list[int]:
    """Wait until no process is left below ``root``, reaping as they end.
    Those still alive after half of ``grace_s`` get SIGTERM, after all of it
    SIGKILL. Returns the pids still there ``kill_s`` after that (normally
    none)."""
    t0 = time.monotonic()
    while True:
        _reap()
        left = [p for p in descendants(root) if p != root]
        waited = time.monotonic() - t0
        if not left or waited > grace_s + kill_s:
            return left
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM if waited > grace_s / 2 else None
        for pid in left if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class RssSampler:
    """Samples the summed RSS of a process tree on one daemon thread."""

    # one sample reads smaps_rollup of every process in the tree, ~20 ms of
    # kernel time on a 2-3 GB Spark tree that also holds each process's
    # memory-map lock while it walks: once a second keeps that out of the
    # measured steps
    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes
