"""CPU time and resident memory of a process tree, read from /proc.

A benchmark subprocess starts a JVM, which forks the PySpark daemon, which
forks one Python worker per task slot. None of them is a direct child of
the harness, so ``getrusage`` alone would miss the work until every
process has exited and been reaped. These helpers walk the live tree
instead:

- ``tree_cpu_s(root)``: user + system seconds of every live process in
  the tree, including the children each of them has already reaped.
- ``tree_peak_rss_mb(root)``: the largest ``VmHWM`` (peak resident set)
  of any live process in the tree.
- ``TreeSampler``: a background thread that samples peak RSS every
  ``interval`` seconds, so short-lived processes are counted too.
- ``become_subreaper()``: orphans of the tree are re-parented to the
  harness instead of init, so ``reap_orphans()`` can wait for them and
  their usage lands in ``getrusage(RUSAGE_CHILDREN)``.
- ``stop_resource_tracker()``: stops and waits for the helper process a
  spawn-context ``multiprocessing`` pool leaves behind.
"""

from __future__ import annotations

import ctypes
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces and parentheses: split after the last ')'
        fields = raw[raw.rfind(b")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int, include_root: bool = True) -> list[int]:
    kids = _children_map()
    out = [root] if include_root else []
    stack = [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def proc_cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return 0.0
    fields = raw[raw.rfind(b")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    return sum(int(x) for x in fields[11:15]) / _TICK


def proc_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s(root: int) -> float:
    return sum(proc_cpu_s(p) for p in descendants(root))


def tree_peak_rss_mb(root: int) -> float:
    return max((proc_hwm_mb(p) for p in descendants(root)), default=0.0)


class TreeSampler:
    """Samples a tree's peak RSS until stopped: ``peak_rss_mb`` is the
    largest VmHWM seen in any process of the tree."""

    def __init__(self, root: int, interval: float = 0.2, exclude_root: bool = False):
        self.root = root
        self.include_root = not exclude_root
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in descendants(self.root, self.include_root):
            self.peak_rss_mb = max(self.peak_rss_mb, proc_hwm_mb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def become_subreaper() -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def reap_orphans(before: set[int], timeout: float = 20.0) -> None:
    """Wait for every descendant of this process that is not in ``before``
    (the descendants that existed when the measured work started); kill
    what is still alive after ``timeout`` seconds. Call only when no
    ``subprocess.Popen`` of this process is still unwaited, or its exit
    status would be lost."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        alive = set(descendants(me, include_root=False)) - before
        if not alive or (killed and time.monotonic() > deadline + 5):
            return
        if time.monotonic() > deadline and not killed:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


def stop_resource_tracker() -> None:
    """Stop this process's ``multiprocessing`` resource tracker and wait
    for it. A spawn-context pool starts one; left alone it outlives this
    process by a moment, holding its stderr."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
