"""Statistics and process probes used by every workload."""

from __future__ import annotations

import math
import os
import platform
import resource
import subprocess
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: a tail percentile is reported only with at least this many samples
#: beyond it
MIN_BEYOND = 10


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile: the ceil(pct * n)-th smallest value."""
    if not sorted_vals:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct * len(sorted_vals)))
    return sorted_vals[rank - 1]


def percentile(values: list[float], pct: float) -> float:
    """The ``pct`` nearest-rank percentile of ``values``, whatever their
    count: the gated figure, so that it is the same statistic in every
    run however many ops fit in the window."""
    return nearest_rank(sorted(values), pct)


def tail(values: list[float], pct: float = 0.90,
         min_beyond: int = MIN_BEYOND) -> dict:
    """The ``pct`` percentile, or the highest percentile that still has
    ``min_beyond`` samples above it, but never less than the median.

    Returns {"value", "pct", "n", "beyond"} so the sample count always
    travels with the figure. The percentile it picks depends on the
    sample count, so it is reported in the detail line, not gated."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    if n - math.ceil(pct * n) >= min_beyond:
        use = pct
    else:
        # a figure below the median is no tail: with fewer than
        # 2 * min_beyond samples the median is reported
        use = max(0.5, (n - min_beyond) / n)
    return {"value": nearest_rank(vals, use), "pct": round(use, 4), "n": n,
            "beyond": n - max(1, math.ceil(use * n))}


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a weighted mean of
    all order statistics, weighted by the Beta((n+1)p, (n+1)(1-p))
    probability of each rank interval (Harrell & Davis, Biometrika
    1982). Every sample carries weight, so with a few dozen samples the
    estimate moves smoothly with the data instead of jumping from one
    order statistic to the next."""
    x = np.sort(np.asarray(values, dtype=np.float64))
    n = x.size
    if n == 0:
        raise ValueError("no samples")
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # regularised incomplete beta at i/n by integrating the density on a
    # fine grid (the trapezoid rule; the endpoints are dropped, where the
    # density of a < 1 or b < 1 is unbounded)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf = np.concatenate(([0.0], cdf / cdf[-1], [1.0]))
    edges = np.interp(np.arange(n + 1) / n,
                      np.concatenate(([0.0], grid, [1.0])), cdf)
    return float(np.diff(edges) @ x)


class Reference:
    """A fixed pass of work whose CPU time tracks how fast this host
    runs work right now.

    On a shared host, the CPU time one piece of work costs rises by
    20-40% while neighbours load the machine (shared caches, sibling
    hyperthreads), and that swing is larger than the effect of many
    changes to the program. The pass reads a fixed in-memory parquet
    table with pyarrow's thread pools and sums a column with numpy, the
    same kinds of work a query does, and is timed as CPU seconds of
    this process. Dividing an operation's CPU seconds by the median pass
    measured beside it gives its cost in passes, which the host's load
    moves far less (NOTES.md). The pass is the benchmark's own code, so
    no change to the program can change it."""

    ROWS = 1 << 16

    def __init__(self):
        rng = np.random.default_rng(0)
        table = pa.table({
            "a": rng.integers(0, 1 << 20, size=self.ROWS),
            "b": rng.integers(0, 255, size=self.ROWS).astype(np.uint8),
        })
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, row_group_size=self.ROWS // 8)
        self._buf = sink.getvalue()
        self.samples: list[float] = []
        self._pass()  # the first pass warms the pools up: not kept

    def _pass(self) -> float:
        t0 = _cpu_s(os.getpid())
        for _ in range(2):
            pf = pq.ParquetFile(pa.BufferReader(self._buf))
            table = pf.read_row_groups(list(range(pf.num_row_groups)))
            int(np.asarray(table.column("a")).sum())
        return _cpu_s(os.getpid()) - t0

    def sample(self) -> float:
        """Run the pass twice and record the CPU seconds of the second:
        the first refills the caches the program's last operation
        evicted, so a change in how much memory an operation touches
        does not move the reference."""
        self._pass()
        dt = self._pass()
        self.samples.append(dt)
        return dt


def peak_rss_mb() -> float:
    """Peak resident set of this Python process so far, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def open_fds() -> int:
    return len(os.listdir("/proc/self/fd"))


def thread_count() -> int:
    """OS threads of this process (Python threads plus native pools)."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("Threads:"):
                return int(line.split()[1])
    return threading.active_count()


def descendants(pid: int) -> set[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


#: JVM threads that compile hot code: their CPU is the JVM warming up,
#: arrives in bursts unrelated to the op running, and is left out
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
#: JVM threads that collect garbage: a collection pays for the garbage of
#: every op since the last one, so their CPU is counted apart
#: (TreeCPU.gc_s) and spread over the ops of a whole window instead of
#: landing on the op it happened to interrupt
GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def _cpu_s(pid: int) -> float:
    """CPU seconds of every thread, live or ended, of process ``pid``."""
    return time.clock_gettime((~pid << 3) | 2)  # CPUCLOCK_SCHED


def _reaped_s(pid: int) -> float:
    """CPU seconds of the ended children process ``pid`` has waited for
    (cutime + cstime of /proc/<pid>/stat)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def _threads_s(pid: int, names: tuple[str, ...]) -> float:
    """CPU seconds of the live threads of process ``pid`` whose name
    starts with one of ``names``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(names):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                total += int(f.read().split()[0])
        except OSError:
            pass  # thread ended
    return total / 1e9


class TreeCPU:
    """CPU seconds used by this process and its descendants (the Spark
    JVM and its Python workers), without JIT compiler threads, and with
    garbage-collector threads counted apart (``gc_s``).

    On a VM that shares its host, wall time stretches 2-3x when the host
    steals the vCPUs, while the CPU a process actually got does not
    (NOTES.md), so CPU time is the steadier measure of the work an
    operation costs.

    A descendant's figure includes the ended children it has waited for,
    so a Python worker that exits and is reaped by the Spark daemon keeps
    its CPU in the tree. The JVM must keep a fixed set of JIT threads
    (run.py starts it with -XX:-UseDynamicNumberOfCompilerThreads): the
    CPU of a JIT thread that ends cannot be told apart any more and would
    land in the op during which it ended."""

    def __init__(self):
        self.pids = [os.getpid()]

    def refresh(self) -> None:
        """Pick up processes started since the last refresh."""
        self.pids = [os.getpid(), *sorted(descendants(os.getpid()))]

    def _others(self) -> dict[int, float]:
        out = {}
        for p in self.pids[1:]:
            try:
                out[p] = (_cpu_s(p) - _threads_s(p, JIT_THREADS + GC_THREADS)
                          + _reaped_s(p))
            except OSError:
                pass  # ended
        return out

    def snapshot(self) -> dict[int, float]:
        out = self._others()
        out[self.pids[0]] = _cpu_s(self.pids[0])  # last: reads cost CPU
        return out

    def since(self, before: dict[int, float], refresh: bool) -> float:
        """CPU seconds used since ``before``. With ``refresh``, processes
        started meanwhile count in full (Spark starts its Python workers
        inside jobs); a process that ended and was not yet reaped by a
        live one is lost."""
        own = _cpu_s(self.pids[0])  # first: later reads cost CPU
        if refresh:
            self.refresh()
        after = self._others()
        after[self.pids[0]] = own
        return sum(v - before.get(p, 0.0) for p, v in after.items())

    def gc_s(self) -> float:
        """CPU seconds of the live garbage-collector threads of the
        processes last refreshed."""
        total = 0.0
        for p in self.pids[1:]:
            try:
                total += _threads_s(p, GC_THREADS)
            except OSError:
                pass  # ended
        return total

    def total(self) -> float:
        """CPU seconds the whole tree has used since each process
        started, garbage collection and ended children its members
        waited for included."""
        self.refresh()
        return (sum(self.snapshot().values()) + self.gc_s()
                + _reaped_s(self.pids[0]))


def mem_total_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def commit_of(root: str) -> str | None:
    """Commit of the source tree when it is a git checkout, else None."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def environment(root: str, spark_conf: dict) -> dict:
    """What a result depends on: numbers are compared only between runs
    whose records agree here."""
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pa.__version__,
        "numpy": np.__version__,
        "commit": commit_of(root),
        "spark_conf": spark_conf,
        "java_tool_options": os.environ.get("JAVA_TOOL_OPTIONS"),
    }
