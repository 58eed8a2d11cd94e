"""Machine and Spark probes: noise stamps, process-tree memory, and the
driver's status store.

Everything here reads `/proc` or the driver JVM; nothing changes what
the engine computes.
"""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


class NoiseStamp:
    """Steal share, 1-minute load average and core count over one pass:
    a co-tenant burst shows up on the pass it polluted."""

    def __init__(self):
        self._t0, self._s0 = _cpu_ticks()

    def close(self) -> dict:
        t1, s1 = _cpu_ticks()
        return {
            "steal_pct": round(100.0 * (s1 - self._s0) / max(t1 - self._t0, 1), 2),
            "loadavg": os.getloadavg()[0],
            "nproc": nproc(),
        }


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, so
    field n of proc(5) is index n - 3."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        out[int(entry)] = stat[stat.rfind(")") + 2 :].split()
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> set[int]:
    """``root`` and every descendant (the driver JVM and the Python
    workers it forks)."""
    parent = {pid: int(f[1]) for pid, f in stats.items()}
    keep, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return keep


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``
    (none outside a JVM)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.find("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat[stat.rfind(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    the reaped children of each included, less the JVM's JIT compiler
    threads.

    The kernel charges neither the time a vCPU is stolen nor the time a
    thread waits for a core, so a co-tenant slows a pass's wall time far
    more than its CPU time. JIT compilation is the JVM warming up, not
    work of the pass: it falls from most of a query pass's CPU to almost
    none over the first ten passes. The JVM runs with a fixed set of
    compiler threads (``prepare_env``), so none exits and takes its time
    into the process total before it can be subtracted."""
    stats = _proc_stats()
    ticks = 0
    for pid in _tree(os.getpid(), stats):
        f = stats[pid]
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) - _jit_ticks(pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every descendant."""
    keep = _tree(root, _proc_stats())
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in keep:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory; ``peak``
    is the largest sum seen since the last ``reset``."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self._interval):
            self._peak = max(self._peak, _tree_rss_bytes(root))

    def reset(self) -> None:
        self._peak = 0

    @property
    def peak_mb(self) -> float:
        return self._peak / (1 << 20)


class StageLog:
    """Per-stage metrics from the driver's status store, which Spark keeps
    with the UI disabled. ``mark()`` notes the newest stage id; ``since``
    sums the stages submitted after a mark. ``probe_s`` is the time spent
    inside both, the cost this probing adds to a traced pass."""

    FIELDS = (
        "numTasks", "executorRunTime", "inputBytes", "shuffleReadBytes",
        "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self.cores = sc.defaultParallelism
        self.probe_s = 0.0

    def _drain(self) -> None:
        # status-store updates arrive through the listener bus
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def _stages(self):
        store = self._sc.statusStore()
        seq = store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._gw.jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        t0 = time.perf_counter()
        self._drain()
        newest = max((s.stageId() for s in self._stages()), default=-1)
        self.probe_s += time.perf_counter() - t0
        return newest

    def since(self, mark: int) -> dict:
        """Sums over stages newer than ``mark``, plus the straggler factor
        Σ max task run time ÷ Σ median task run time over stages with at
        least two tasks."""
        t0 = time.perf_counter()
        self._drain()
        store = self._sc.statusStore()
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        tot = dict.fromkeys(self.FIELDS, 0)
        med_sum = max_sum = 0.0
        for s in self._stages():
            if s.stageId() <= mark:
                continue
            for k in self.FIELDS:
                tot[k] += getattr(s, k)()
            if s.numTasks() >= 2:
                dist = store.taskSummary(s.stageId(), s.attemptId(), q)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med_sum += run.apply(0)
                    max_sum += run.apply(1)
        mb = 1 << 20
        self.probe_s += time.perf_counter() - t0
        return {
            "tasks": tot["numTasks"],
            "executor_run_s": tot["executorRunTime"] / 1000.0,
            "input_mb": tot["inputBytes"] / mb,
            "shuffle_read_mb": tot["shuffleReadBytes"] / mb,
            "shuffle_write_mb": tot["shuffleWriteBytes"] / mb,
            "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / mb,
            "task_skew": max_sum / med_sum if med_sum > 0 else 1.0,
        }




# A fixed job built from nothing in the engine, so no engine change can
# move its time: interpreter loops, numpy work on a page-sized image,
# and a pass over 32 MB of floats. Prints its own CPU seconds.
_REFERENCE_JOB = r"""
import time
import numpy as np
img = (np.arange(720 * 960, dtype=np.uint32) * 2654435761 % 251).astype(np.uint8)
img = img.reshape(720, 960)
big = (np.arange(1 << 23, dtype=np.uint32) * 2654435761 % 65521).astype(np.float32)
t0 = time.thread_time()
acc = 0
for i in range(150_000):
    acc = (acc * 31 + i) & 0xFFFF
for _ in range(15):
    mask = img > 128
    mask.sum(axis=1)
    np.cumsum(img, axis=0, dtype=np.int32)
    np.sort(img[::8], axis=1)
for _ in range(6):
    (big * 1.5 + 2.0).sum()
print(time.thread_time() - t0)
"""


def reference_cpu_s(procs: int) -> float:
    """Mean CPU seconds of the reference job run at once in ``procs``
    fresh Python processes, one per core, loading the cores the way a
    pass does. It gauges how fast the host runs code at the moment: on a
    shared host that swings by half within minutes, with little steal
    showing, and a pass's CPU time swings with it."""
    import subprocess
    import sys

    running = []
    try:
        for _ in range(procs):
            running.append(subprocess.Popen(
                [sys.executable, "-c", _REFERENCE_JOB], stdout=subprocess.PIPE, text=True
            ))
        return sum(float(p.communicate()[0]) for p in running) / procs
    finally:
        for p in running:
            if p.poll() is None:
                p.kill()
                p.wait()
