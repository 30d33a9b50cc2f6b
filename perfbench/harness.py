"""Process-tree accounting, percentiles and the Spark session for one run.

Everything a run writes lives under ``<checkout>/.perfbench_work/``:
tables, change files, Spark's local dir, the JVM's temp dir and the
Python temp dir.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """This process and every descendant (the JVM and its Python workers)."""
    todo, seen = [root or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def tree_cpu_s() -> float:
    """utime+stime of the live tree, plus the c-times of reaped children,
    so a worker that exits between two readings is still counted once."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_rss_mb() -> dict[str, float]:
    """Summed RSS of the tree's ``java`` and ``python`` processes, per
    executable. Other processes are skipped: they are short-lived helpers
    the JVM spawns (``chmod``, ``setsid``), and a child caught between its
    fork and its exec still shares, and would double-count, the JVM's
    pages (its name is then the forking thread's, not ``java``)."""
    out: dict[str, float] = {}
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            if not comm.startswith(("java", "python")):
                continue
            with open(f"/proc/{p}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        out[comm] = out.get(comm, 0.0) + pages * PAGE / 2**20
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine, from /proc/stat: the
    share of time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class RssSampler:
    """Samples the tree's summed RSS every ``period`` seconds on a daemon
    thread; ``stop()`` joins it and returns the peak of the sum in MB.
    ``parts`` keeps each executable's own peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0.0
        self.parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_mb()
        self.peak = max(self.peak, sum(rss.values()))
        for k, v in rss.items():
            self.parts[k] = max(self.parts.get(k, 0.0), v)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        if self._t.is_alive():
            self._stop.set()
            self._t.join(timeout=5)
            self._sample()
        return self.peak


class CpuMeter:
    """Accumulates process-tree CPU seconds over the write phases."""

    def __init__(self):
        self.cpu_s = 0.0

    def __enter__(self):
        self._c0 = tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.cpu_s += tree_cpu_s() - self._c0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def start_spark(work: str, cores: int):
    """The engine's own session factory, pinned to this host: ``cores``
    task threads, 4 shuffle partitions per thread, and every scratch path
    under ``work``. The driver heap is fixed at 1 GB (``-Xms`` = ``-Xmx``):
    the workloads fill it, so peak RSS repeats run to run and moves with
    off-heap and Python memory rather than with garbage-collector timing."""
    from datax_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=4 * cores,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -Djava.io.tmpdir={local} -XX:-UsePerfData "
                f"-Dderby.system.home={work}"
            ),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "200",
        },
    )


class Clock:
    """Wall clock of one measured phase."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def running(self) -> bool:
        return self.elapsed() < self.seconds

    def another_round(self, rounds_done: int) -> bool:
        """Start another round only if at least half of one (by the mean
        so far) still fits, so a run measures ``seconds`` to within half
        a round instead of overshooting by up to a whole one."""
        if rounds_done == 0:
            return True
        el = self.elapsed()
        return el + el / rounds_done / 2 < self.seconds
