"""CPU time and peak resident memory of a process tree, read from /proc,
and the wait for that tree to end.

The tree is this process plus every descendant: the JVM that PySpark
launches, its Python worker daemon and the workers it forks.  A sampler
thread rescans the tree every ``INTERVAL`` seconds while a measured call
runs, so processes that start during the call are counted too.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

INTERVAL = 0.05  # seconds between samples
REAP_GRACE = 20.0  # seconds descendants get to end by themselves
_PR_SET_CHILD_SUBREAPER = 36
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, float] | None:
    """(ppid, user+system CPU seconds) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree(root: int) -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds) for ``root`` and all of its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Use as a context manager around one measured call of this process's
    tree; afterwards ``cpu_s`` and ``peak_rss_mb`` describe the call."""

    def __init__(self):
        self.root = os.getpid()
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._start: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = tree(self.root)
        self._last.update((pid, cpu) for pid, (_, cpu) in procs.items())
        rss = {pid: _rss(pid) for pid in procs}
        # a child whose resident set is within a tenth of its parent's is a
        # fork that still shares the parent's pages: the JVM forking to exec
        # a shell command would otherwise count the whole JVM twice
        total = sum(
            size
            for pid, size in rss.items()
            if abs(size - rss.get(procs[pid][0], 0)) * 10 > size
        )
        self.peak_rss_mb = max(self.peak_rss_mb, total / 2**20)

    def _run(self) -> None:
        while not self._stop.wait(INTERVAL):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._start = {pid: cpu for pid, (_, cpu) in tree(self.root).items()}
        self._last = dict(self._start)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        # a process that ended mid-call keeps its last sampled CPU time
        self.cpu_s = sum(v - self._start.get(pid, 0.0) for pid, v in self._last.items())


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants.  The worker
    daemon puts itself in its own process group and outlives the JVM that
    started it by a moment; as a subreaper this process becomes its parent
    then, so ``reap_descendants`` still sees and waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants() -> None:
    """Wait until every descendant of this process has ended and been
    reaped.  Those still running after ``REAP_GRACE`` seconds get SIGTERM,
    and five seconds later SIGKILL."""
    me = os.getpid()
    deadline = time.monotonic() + REAP_GRACE
    sig = signal.SIGTERM
    while True:
        _reap_children()
        left = [pid for pid in tree(me) if pid != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5.0
        time.sleep(INTERVAL)
