"""Resident memory of a process tree, sampled from /proc.

The benchmark process, the JVM it launches and the Python workers the
JVM forks all count. ``RssSampler`` polls ``VmRSS`` of the root process
and all its descendants on a background thread and keeps the peak of
their sum while ``window()`` is open.
"""

from __future__ import annotations

import contextlib
import os
import threading


PF_FORKNOEXEC = 0x40  # linux/sched.h: forked but has not exec'd


def _process_table() -> dict:
    """pid -> (ppid, command name, kernel flags) of every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces and parentheses: it runs
        # from the first '(' to the last ')'; after it come state,
        # ppid, pgrp, session, tty, tpgid, flags
        close = stat.rindex(")")
        fields = stat[close + 2:].split()
        table[int(entry)] = (int(fields[1]), stat[stat.index("(") + 1:close],
                             int(fields[6]))
    return table


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0  # exited, or a kernel thread without VmRSS


def tree_rss(root: int) -> dict:
    """pid -> (command, RSS in MB) over the process tree of root.

    A child of the JVM that has not yet exec'd is a spawn caught between
    clone and exec (Hadoop's local file system, without its native
    library, runs a shell command for every file it writes). It runs in
    the JVM's memory, so its VmRSS would count the JVM twice; such
    children are skipped."""
    table = _process_table()
    kids: dict = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        comm = table.get(pid, (0, "", 0))[1]
        out[pid] = (comm, _rss_kib(pid) / 1024.0)
        for child in kids.get(pid, ()):
            if not (comm == "java" and table[child][2] & PF_FORKNOEXEC):
                todo.append(child)
    return out


def tree_pids(root: int) -> list:
    return list(tree_rss(root))


class RssSampler:
    """Peak RSS of this process's tree, polled every INTERVAL_S."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = 0.0
        self.peak_by_command: dict = {}  # command -> MB at the peak
        self.samples = 0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.INTERVAL_S):
            if self._active.is_set():
                self._record(tree_rss(self.root))

    def _record(self, tree: dict):
        mb = sum(m for _, m in tree.values())
        with self._lock:
            self.samples += 1
            if mb > self.peak_mb:
                self.peak_mb = mb
                by = {}
                for comm, m in tree.values():
                    by[comm] = by.get(comm, 0.0) + m
                self.peak_by_command = by

    @contextlib.contextmanager
    def window(self):
        """Count samples only inside this block (the warm-up runs)."""
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            # one sample at the end, so a short window still counts
            self._record(tree_rss(self.root))
