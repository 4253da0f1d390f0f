"""CPU time and resident memory of this process and everything it
starts, sampled from /proc.

``getrusage(RUSAGE_CHILDREN)`` cannot see a JVM that outlives the
Python process that launched it: the JVM is re-parented and reaped
after the op is timed, if at all. The sampler instead
keeps every process it has once seen below the root as a member until
that process is gone, and adds a finished member's last reading
itself unless a member parent reaped it (then the parent's
``cutime``/``cstime`` already hold it). What a process burns after
its last sample is lost, at most one interval of it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs; reaps it if it is a child of this
    process. A zombie of another parent counts as ended. A child shows
    as a zombie while its other threads still exit, and runs until
    it can be reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    if raw[raw.rindex(b")") + 2:][:1] not in (b"Z", b"X"):
        return True
    try:
        return os.waitpid(pid, os.WNOHANG)[0] != pid
    except ChildProcessError:
        return False


def _read_procs() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, state, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited while listing
        # comm may hold spaces and parens: split after the last ')'
        rest = raw[raw.rindex(")") + 2:].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(d)] = (int(rest[1]), rest[0], ticks, int(rest[21]))
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class TreeSampler:
    """Samples the tree under this process every ``INTERVAL`` seconds
    on a daemon thread. Use as a context manager."""

    INTERVAL = 0.1

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._members: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
        self._worker: dict[int, bool] = {}  # pid -> is a Spark Python worker
        self._gone_ticks = 0
        self._gone_worker_ticks = 0
        self._cpu_ticks = 0
        self._worker_ticks = 0
        self._peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        # orphans of the tree (a JVM whose launcher has exited) become
        # children of this process rather than of init, so that
        # stop_tree can reap them
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1)
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    def sample(self) -> None:
        procs = _read_procs()
        with self._lock:
            kids: dict[int, list[int]] = {}
            for pid, (ppid, *_rest) in procs.items():
                kids.setdefault(ppid, []).append(pid)
            live = {self.root} | {p for p in self._members if p in procs}
            stack = list(live)
            while stack:
                for child in kids.get(stack.pop(), ()):
                    if child not in live:
                        live.add(child)
                        stack.append(child)
            for pid, (ppid, ticks) in self._members.items():
                if pid in procs:
                    continue
                if ppid not in live:
                    self._gone_ticks += ticks  # reaped outside the tree
                if self._worker.pop(pid) and not (
                    ppid in live and self._worker.get(ppid)
                ):
                    self._gone_worker_ticks += ticks
            self._members = {
                pid: (procs[pid][0], procs[pid][2]) for pid in live if pid in procs
            }
            for pid in self._members:
                if pid not in self._worker:
                    self._worker[pid] = _is_python_worker(pid)
            self._cpu_ticks = self._gone_ticks + sum(
                t for _, t in self._members.values()
            )
            self._worker_ticks = self._gone_worker_ticks + sum(
                t for p, (_, t) in self._members.items() if self._worker[p]
            )
            rss = sum(procs[p][3] for p in self._members if procs[p][1] != "Z")
            self._peak_rss = max(self._peak_rss, rss)

    def cpu_s(self) -> float:
        """CPU seconds used by the tree so far, after a fresh sample."""
        self.sample()
        with self._lock:
            return self._cpu_ticks / _TICK

    def python_worker_cpu_s(self) -> float:
        """CPU seconds of Spark's Python worker processes so far."""
        self.sample()
        with self._lock:
            return self._worker_ticks / _TICK

    def stop_tree(self, grace: float = 10.0) -> None:
        """Ends every process below the root, re-parented ones too (a
        JVM outlives the CLI child that launched it), and waits until
        each is gone: a term signal, then a kill signal to whatever
        still runs ``grace`` seconds later."""
        for sig in (signal.SIGTERM, signal.SIGKILL, signal.SIGKILL):
            self.sample()
            with self._lock:
                pids = [p for p in self._members if p != self.root]
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace
            while pids and time.monotonic() < deadline:
                pids = [p for p in pids if _running(p)]
                if pids:
                    time.sleep(0.05)

    def take_peak_rss_mb(self) -> float:
        """Peak summed RSS since the last call, in MB; restarts the peak."""
        self.sample()
        with self._lock:
            peak, self._peak_rss = self._peak_rss, 0
        return peak * _PAGE / 2**20
