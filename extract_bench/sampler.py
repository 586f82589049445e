"""Scratch-disk and worker-memory sampling from outside the program.

A background thread polls two things the pipeline never reports itself:

* bytes under ``spark.local.dir`` (shuffle files, spilled and
  checkpointed blocks), and
* the summed resident set of the Python workers, read from ``/proc``
  for every ``python`` process below this process (the JVM's
  ``pyspark.daemon`` and the workers it forks).

When scratch passes ``budget_bytes``, or the run passes its
``deadline``, the sampler cancels all Spark jobs, so the run raises and
is counted as failed instead of filling the disk or hanging.
"""

from __future__ import annotations

import os
import threading
import time


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.lstat(os.path.join(dp, fn)).st_size
            except FileNotFoundError:  # deleted between walk and stat
                pass
    return total


def descendants(root_pid: int) -> list[int]:
    """Pids of every live process below ``root_pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _python_rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
    except OSError:
        return 0
    if "\nName:\tpython" not in "\n" + status:
        return 0
    for line in status.splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1]) * 1024
    return 0


def worker_rss_bytes() -> int:
    return sum(_python_rss(p) for p in descendants(os.getpid()))


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time of this process and everything below it: the JVM, the
    pyspark daemon and its workers. Each live process contributes its own
    time plus that of children it has reaped, so a worker that exits
    mid-call is still counted, once."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class Sampler:
    """Peak scratch bytes and peak worker RSS between ``reset`` calls."""

    def __init__(self, local_dir: str, budget_bytes: int,
                 interval_s: float = 0.25) -> None:
        self.local_dir = local_dir
        self.budget_bytes = budget_bytes
        self.interval_s = interval_s
        self.spark = None  # set once a session exists, for cancellation
        self.deadline: float | None = None  # time.time() limit of a run
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.reset()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        with self._lock:
            self.peak_scratch = 0
            self.peak_rss = 0
            self.over_budget = False
            self.timed_out = False

    def peaks(self) -> tuple[int, int]:
        self._sample()  # one final sample so short runs are not missed
        with self._lock:
            return self.peak_scratch, self.peak_rss

    def _sample(self) -> None:
        scratch = dir_bytes(self.local_dir)
        rss = worker_rss_bytes()
        with self._lock:
            self.peak_scratch = max(self.peak_scratch, scratch)
            self.peak_rss = max(self.peak_rss, rss)
            over = scratch > self.budget_bytes and not self.over_budget
            late = (self.deadline is not None and not self.timed_out
                    and time.time() > self.deadline)
            self.over_budget |= over
            self.timed_out |= late
        if (over or late) and self.spark is not None:
            self.spark.sparkContext.cancelAllJobs()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()
