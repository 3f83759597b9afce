"""Process-tree CPU/RSS sampling, a host-speed probe and Spark stage metrics.

Everything here observes the program from outside: ``/proc`` for the
driver JVM and the Python workers, and Spark's status store (reachable with
``spark.ui.enabled=false``) for per-stage executor metrics of a job group.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes) of every
    live process (zombies are left out)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces; fields resume after the last ')'
        fields = raw[raw.rindex(")") + 2:].split()
        if fields[0] == "Z":
            continue
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime..cstime
        rss = int(fields[21]) * _PAGE
        out[int(name)] = (ppid, cpu, rss)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, int, int]:
    """(cpu seconds, rss bytes, largest single-process rss bytes) summed
    over ``root`` and its descendants."""
    stats = _proc_stats()
    tree = [p for p in _tree(stats, root or os.getpid()) if p in stats]
    rss = [stats[p][2] for p in tree]
    return sum(stats[p][1] for p in tree), sum(rss), max(rss, default=0)


def descendants() -> set[int]:
    """Live descendant pids of this process."""
    return set(_tree(_proc_stats(), os.getpid())) - {os.getpid()}


def wait_gone(pids: set[int], timeout_s: float = 60.0) -> set[int]:
    """Poll until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive &= set(_proc_stats())
    return alive


class RssSampler:
    """Background thread keeping the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_process_bytes = 0  # the driver JVM, in practice
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            _, total, largest = tree_usage()
            self.peak_bytes = max(self.peak_bytes, total)
            self.peak_process_bytes = max(self.peak_process_bytes, largest)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class CpuWindow:
    """Process-tree CPU seconds over wall seconds for a ``with`` block."""

    def __enter__(self) -> "CpuWindow":
        self._cpu0 = tree_usage()[0]
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_usage()[0] - self._cpu0

    @property
    def cpu_per_wall(self) -> float:
        return self.cpu_s / self.wall_s if self.wall_s > 0 else 0.0


def host_probe(n: int = 2_000_000) -> dict[str, float]:
    """A fixed single-thread CPU task, run before Spark starts. On a healthy
    host ``cpu_per_wall`` is ~1.0 and ``wall_s`` repeats; a stalled or
    oversubscribed host shows a longer wall and a lower ratio."""
    t0, c0 = time.perf_counter(), time.process_time()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    wall = time.perf_counter() - t0
    cpu = time.process_time() - c0
    return {"wall_s": wall, "cpu_per_wall": cpu / wall if wall > 0 else 0.0}


# -- Spark status store ------------------------------------------------------


def group_metrics(spark, group: str) -> dict[str, float]:
    """Executor metrics of every completed stage of the jobs in ``group``.

    ``task_skew`` is max task run time over median task run time in the
    group's heaviest stage (by executor run time); 1.0 means no straggler.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    empty = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    cpu_ns = shuffle = spill = 0
    heaviest = (-1, None)  # (executor run ms, (stage id, attempt id))
    for sid in sorted(stage_ids):
        try:
            attempts = store.stageData(sid, False, empty, False, no_quantiles)
        except Py4JJavaError:  # never submitted, or evicted from the store
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            cpu_ns += st.executorCpuTime()
            shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()
            if st.executorRunTime() > heaviest[0]:
                heaviest = (st.executorRunTime(), (sid, st.attemptId()))
    skew = 1.0
    if heaviest[1] is not None:
        summary = store.taskSummary(heaviest[1][0], heaviest[1][1], quantiles)
        if summary.isDefined():
            dist = summary.get().executorRunTime()
            p50, top = dist.apply(0), dist.apply(1)
            skew = top / p50 if p50 > 0 else 1.0
    return {
        "cpu_s": cpu_ns / 1e9,
        "shuffle_mb": shuffle / 1e6,
        "spill_mb": spill / 1e6,
        "task_skew": skew,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
