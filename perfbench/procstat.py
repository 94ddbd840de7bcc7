"""Process-tree CPU and memory from /proc, plus machine load signals.

The Spark JVM is a child of the benchmark process; the Python workers are
children of the JVM (the pyspark daemon and the workers it forks). Reaped
workers' CPU lands in their parent's cutime, so summing own + children
times over the live tree counts every worker that ever ran.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is state
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def jvm_pid(spark) -> int:
    """Pid of the JVM behind ``spark`` (asked from the JVM itself)."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def cpu_split(jvm: int) -> dict[str, float]:
    """CPU seconds so far: the JVM's own threads, and its Python workers."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree(jvm):
        st = _stat(pid)
        if st is None:
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
        secs = sum(int(x) for x in st[11:15]) / _TICK
        out["jvm" if pid == jvm else "python"] += secs
    return out


def rss_bytes(jvm: int) -> int:
    return _rss(tree(jvm))


def _rss(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread sampling the RSS of the JVM tree every period_s.

    Walking /proc for the tree reads every process's stat file and holds
    the GIL that the driver's plan build needs, so the tree is walked again
    only every ``tree_every`` samples; in between, the known pids are read."""

    def __init__(self, jvm: int, period_s: float = 0.1, tree_every: int = 10):
        self.jvm, self.period_s, self.tree_every = jvm, period_s, tree_every
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        while not self._stop.is_set():
            if len(self.samples) % self.tree_every == 0:
                pids = tree(self.jvm)
            self.samples.append(_rss(pids))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.samples.append(rss_bytes(self.jvm))

    def quantile(self, q: float) -> int:
        xs = sorted(self.samples)
        return xs[min(int(q * len(xs)), len(xs) - 1)]


def machine() -> dict[str, float]:
    """Cumulative CPU steal seconds (all cores) and the 1-minute load."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": int(cpu[8]) / _TICK, "load1": load1}
