"""Counters read from outside the engine: the /proc process tree, Spark's
SQL status store and the driver JVM's MXBeans (over py4j), plus the
in-memory span recorder the traced run uses."""

from __future__ import annotations

import contextlib
import json
import os
import re
import time


# ------------------------------------------------------------------ /proc
def _proc_table() -> dict[int, tuple[int, float]]:
    """pid → (ppid, user+sys CPU seconds) for every live process."""
    tick = os.sysconf("SC_CLK_TCK")
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        # fields after the command: [1] ppid, [11] utime, [12] stime
        out[int(name)] = (int(fields[1]), (int(fields[11]) + int(fields[12])) / tick)
    return out


def _descendants(table: dict[int, tuple[int, float]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = [], [root]
    while stack:
        p = stack.pop()
        found.append(p)
        stack.extend(children.get(p, []))
    return found


def tree_cpu_s() -> float:
    """User+sys CPU seconds of this process and its live descendants (the
    Spark JVM and the Python workers it forks)."""
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()) if p in table)


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over the JVM and Python-worker tree below this
    process (this process itself, which only generates inputs, is left
    out)."""
    table = _proc_table()
    total_kb = 0
    for pid in _descendants(table, os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reap_children(timeout: float) -> None:
    """Wait until no descendant of this process is left (Python workers
    outlive the JVM by a moment); kill what remains after ``timeout``."""
    import signal

    deadline = time.time() + timeout
    while True:
        left = _descendants(_proc_table(), os.getpid())[1:]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


# -------------------------------------------------------------------- JVM
class Jvm:
    """Cumulative JIT-compile and GC time of the driver JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = [mf.getGarbageCollectorMXBeans().get(i)
                     for i in range(mf.getGarbageCollectorMXBeans().size())]

    def settle(self, quiet_s: float = 1.0, max_s: float = 8.0) -> float:
        """Idle until the JIT compile queue drains: no compile time added
        for ``quiet_s`` (at most ``max_s``). Returns the seconds waited."""
        t0 = time.perf_counter()
        last, since = self._jit.getTotalCompilationTime(), time.perf_counter()
        while time.perf_counter() - t0 < max_s:
            time.sleep(0.1)
            now = self._jit.getTotalCompilationTime()
            if now != last:
                last, since = now, time.perf_counter()
            elif time.perf_counter() - since >= quiet_s:
                break
        return time.perf_counter() - t0

    def times(self) -> tuple[float, float]:
        """(jit_s, gc_s) so far."""
        return (
            self._jit.getTotalCompilationTime() / 1000.0,
            sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
        )


# -------------------------------------------------------- SQL status store
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")


def _metric_number(text: str, kind: str) -> float:
    """A formatted SQL-metric value as a number (bytes for sizes). Task
    breakdowns read 'total (min, med, max ...)\\n<total> (...)': take the
    total."""
    line = text.split("\n")[-1]
    if kind == "size":
        m = _SIZE_RE.search(line)
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0
    m = re.search(r"[\d.,]+", line)
    return float(m.group(0).replace(",", "")) if m else 0.0


class SqlMetrics:
    """Sums named SQL metrics over the executions run since the last mark."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._count()

    def _count(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        return self._store.executionsList().size()

    def mark(self) -> None:
        self._seen = self._count()

    def since_mark(self) -> dict[str, float]:
        n = self._count()
        execs = self._store.executionsList()
        totals: dict[str, float] = {}
        for i in range(self._seen, n):
            ex = execs.apply(i)
            values = self._store.executionMetrics(ex.executionId())
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    totals[m.name()] = totals.get(m.name(), 0.0) + _metric_number(
                        v.get(), m.metricType()
                    )
        self._seen = n
        return totals


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans (name, start, end, parent index) kept in memory and written
    out once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
