"""CPU time and resident memory of a process tree, read from /proc
(psutil is not available)."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """{pid: (ppid, CPU ticks incl. reaped children, RSS kB)} from /proc."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):  # process exited meanwhile
            continue
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), pages * page_kb)
    return table


def _tree(root: int, table) -> list[tuple[int, int, int]]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(table[p])
        todo += children.get(p, [])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by a process tree (user + system, with
    exited children that were waited for)."""
    return sum(r[1] for r in _tree(root, _proc_table())) / os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and everything it started:
    the Spark driver JVM and its Python workers."""
    return tree_cpu_s(os.getpid())


class RssSampler:
    """Peak resident memory (MB) of a process tree, sampled from /proc by a
    thread that submits no Spark work."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        return sum(r[2] for r in _tree(root, _proc_table()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb(self.pid))


def become_subreaper() -> None:
    """Adopt every orphaned descendant: when the Spark JVM exits before the
    Python worker daemon it started, the daemon and its workers become
    children of this process instead of init, so stop_descendants can
    still find, wait for and reap them."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def descendants(root: int) -> list[int]:
    """Pids of every live process below *root*."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def stop_descendants(grace_s: float = 30.0, kill_wait_s: float = 15.0) -> list[int]:
    """Wait until every process this one started has ended and been reaped.
    What is still running after *grace_s* seconds is killed. Returns the
    pids that survived the kill (empty when all ended)."""
    deadline = time.monotonic() + grace_s
    killed_at = None
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return []
        now = time.monotonic()
        if killed_at is None and now >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed_at = now
        elif killed_at is not None and now - killed_at >= kill_wait_s:
            return left
        time.sleep(0.05)
