"""Peak resident memory of this process tree, sampled from /proc.

The tree is the benchmark's Python driver, the JVM it launches and the
Python workers the JVM forks. Samples run on a daemon thread while the
timed pass runs; RSS counts pages shared between forked workers once per
worker, as ``ps`` does. The Python side is reported apart from the JVM,
whose resident heap follows its collector's sizing policy rather than
the work done, and so varies from run to run.
"""

from __future__ import annotations

import os
import threading

__all__ = ["RssSampler", "descendants", "running"]

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                rss_pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(name)] = (ppid, comm, rss_pages * _PAGE)
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in _procs().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss(root: int) -> tuple[int, int, int]:
    """(Python, JVM, Python-worker) RSS bytes of ``root``'s process tree:
    every Python process of the tree (the driver and the JVM's workers),
    the JVM, and the workers alone."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    python = jvm = workers = 0
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        if pid not in procs:
            continue
        _ppid, comm, rss = procs[pid]
        is_jvm = comm == "java"
        if is_jvm:
            jvm += rss
        elif comm.startswith("python"):
            python += rss
            if under_jvm:
                workers += rss
        stack.extend((k, under_jvm or is_jvm) for k in kids.get(pid, []))
    return python, jvm, workers


class RssSampler:
    """Context manager: samples every ``interval_s`` and keeps peaks."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_python = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        python, jvm, workers = tree_rss(os.getpid())
        self.peak_python = max(self.peak_python, python)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
