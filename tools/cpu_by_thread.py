"""CPU of one perfbench pass, split by JVM thread group and by process.

    python3 tools/cpu_by_thread.py pipeline 7

Run from the repository root. Starts a ``local[<cores>]`` session with the
engine's defaults, runs the workload's set-up from ``perfbench/workloads.py``
(which also warms the JVM), then one pass, and prints the CPU seconds of
the pass and its output checks per group: the JIT's C2 and C1 compiler threads, executor task threads, GC
threads, py4j/driver threads and the other JVM threads, the Python workers
(the JVM's descendants, with their reaped children) and this Python driver.
``/proc/<jvm>/task`` is sampled every 50 ms, because the JVM starts and
retires compiler threads on demand and an exited thread's CPU is no longer
listed there; what the JVM used in threads that lived less than one sample
is printed as ``JVM, unsampled``.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
GROUPS = (("C2 compiler", ("C2 CompilerThre",)), ("C1 compiler", ("C1 CompilerThre",)),
          ("executor task", ("Executor task",)), ("GC", ("GC Thread", "G1 ")),
          ("py4j/driver", ("Thread-", "dag-scheduler")))  # py4j calls run on Thread-<n>
TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat: bytes) -> tuple[str, int]:
    """(comm, utime + stime) of one /proc stat line."""
    head, tail = stat.decode().rsplit(")", 1)
    fields = tail.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def _process_s(pid: int) -> float:
    """CPU seconds of a process's own threads, live and exited."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        return _ticks(f.read())[1] / TICK


class ThreadSampler:
    """Latest CPU ticks of every thread the JVM has had, sampled every 50 ms.
    Each thread's stat file stays open and is re-read with ``pread``."""

    def __init__(self, pid: int) -> None:
        self.pid, self.seen, self.fds = pid, {}, {}
        self.start = self._sample()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> dict[str, tuple[str, int]]:
        now = {}
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                if tid not in self.fds:
                    self.fds[tid] = os.open(f"/proc/{self.pid}/task/{tid}/stat", os.O_RDONLY)
                now[tid] = _ticks(os.pread(self.fds[tid], 1024, 0))
            except (OSError, IndexError, ValueError):  # the thread exited meanwhile
                if tid in self.fds:
                    os.close(self.fds.pop(tid))
        self.seen.update(now)
        return now

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(0.05):
            self._sample()
        self.cpu_s = time.thread_time() - t0

    def stop(self) -> dict[str, float]:
        """CPU seconds per thread group since the sampler started."""
        self._stop.set()
        self._thread.join()
        self._sample()
        for fd in self.fds.values():
            os.close(fd)
        out = dict.fromkeys([g for g, _ in GROUPS] + ["other JVM threads"], 0.0)
        for tid, (name, ticks) in self.seen.items():
            group = next((g for g, pre in GROUPS if name.startswith(pre)), "other JVM threads")
            out[group] += (ticks - self.start.get(tid, (name, 0))[1]) / TICK
        return out


def main(workload: str, seed: int) -> None:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from procstat import tree_cpu_s
    from spans import NullTracer
    from workloads import WORKLOADS, Ledger

    from chatvector_ai_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="cpu_by_thread-") as work:
        # the same environment as perfbench/run.py: shuffle files in the run's
        # own directory, and Python workers that import the engine from ROOT
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        spark = get_spark(app_name=f"cpu-by-thread-{workload}",
                          master=f"local[{len(os.sched_getaffinity(0))}]")
        spark.sparkContext.setLogLevel("ERROR")
        ledger = Ledger()
        wl = WORKLOADS[workload](spark, work, seed, NullTracer(), ledger)
        wl.setup()
        jvm = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        jvm0, tree0, me0 = _process_s(jvm), tree_cpu_s(jvm), os.times()
        sampler = ThreadSampler(jvm)
        out = wl.run_pass()
        groups = sampler.stop()
        jvm_s, tree_s, me1 = _process_s(jvm) - jvm0, tree_cpu_s(jvm) - tree0, os.times()
        spark.stop()
    groups["JVM, unsampled"] = jvm_s - sum(groups.values())
    groups["Python workers"] = tree_s - jvm_s
    groups["Python driver"] = me1.user + me1.system - me0.user - me0.system - sampler.cpu_s
    total = sum(groups.values())
    print(f"{workload} seed {seed}: pass_cpu_s {out['pass_cpu_s']:.1f} s, failed ops "
          f"{ledger.failed}/{ledger.attempted}; below, the pass with its output checks, "
          f"without the sampler's own {sampler.cpu_s:.1f} s")
    for name, s in groups.items():
        print(f"  {name:<20} {s:7.1f} s  {s / total:6.1%}")
    print(f"  {'total':<20} {total:7.1f} s")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    main(sys.argv[1], int(sys.argv[2]))
