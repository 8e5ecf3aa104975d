"""Measurements taken from outside the program: a host-noise probe, a
``/proc`` sampler for the driver, the JVM and the Python workers, and a
per-op reader of Spark's status store."""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def host_probe_ms() -> float:
    """Fixed single-threaded NumPy pass, best of 3: the same shape as the
    per-leg probe in bench.py, so host speed can be compared across runs."""
    arr = np.arange(2_000_000, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        float((arr * 1.000001 + 0.5).sum())
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def _stat(pid: int):
    """(ppid, utime+stime, cutime+cstime, rss bytes, start ticks, state)
    or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    return (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]),
            int(f[21]) * _PAGE, int(f[19]), f[0])


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class ProcSampler:
    """Samples the process tree under this driver every ``period`` s.

    ``peak_rss`` is the largest summed RSS seen, ``peak_py_rss`` the same
    without the JVM (the driver and the Python workers).  CPU counters are
    read on demand by ``snapshot``: the JVM's own CPU, and the Python
    workers' CPU (live workers plus what the daemon collected from exited
    ones)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.root = os.getpid()
        self.peak_rss = self.peak_py_rss = 0
        self.seen: dict[int, int] = {}  # pid -> start ticks, every process ever seen
        self.workers: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.snapshot()

    def snapshot(self) -> dict:
        """One pass over the tree; returns CPU seconds and RSS.  Only the
        driver, the JVM (the driver's child) and ``pyspark.daemon``
        processes count: other descendants are short-lived helpers, and a
        child caught between fork and exec would add a second copy of its
        parent's pages."""
        rss = py_rss = jvm_cpu = worker_cpu = 0
        stack, tree = [self.root], []
        while stack:
            pid = stack.pop()
            st = _stat(pid)
            if st is None:
                continue
            tree.append((pid, st, pid != self.root and _is_pyworker(pid)))
            stack.extend(_children(pid))
        with self._lock:
            for pid, st, worker in tree:
                self.seen.setdefault(pid, st[4])
                if pid == self.root or worker:
                    rss += st[3]
                    py_rss += st[3]
                if worker:
                    self.workers.add(pid)
                    # the daemon's cutime holds the CPU of reaped workers
                    worker_cpu += st[1] + (st[2] if st[0] not in self.workers else 0)
                elif st[0] == self.root:
                    rss += st[3]
                    jvm_cpu += st[1]
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_py_rss = max(self.peak_py_rss, py_rss)
        return {"jvm_cpu_s": jvm_cpu / _TICK, "worker_cpu_s": worker_cpu / _TICK,
                "workers_seen": len(self.workers)}

    def descendants_alive(self) -> list[int]:
        """Processes seen under this driver that still run: same start
        time (a reused pid is not ours) and not a zombie."""
        alive = []
        for pid, start in self.seen.items():
            if pid == self.root:
                continue
            st = _stat(pid)
            if st is not None and st[4] == start and st[5] != "Z":
                alive.append(pid)
        return alive


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class SparkStats:
    """Reads the jobs of one job group from the status store: counts,
    executor time, bytes, job spans and the task skew of the op's
    longest stage.  Works with the UI disabled."""

    FIELDS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
              "output_bytes", "spill_bytes")

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict:
        """Sums over the group's jobs and their executed stages; ``worst``
        is (run ms, max/median task ms) of the longest stage."""
        out = dict.fromkeys(self.FIELDS, 0)
        spans, worst = [], None
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            t0, t1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if t0 is not None and t1 is not None:
                spans.append((t0 / 1000.0, t1 / 1000.0))
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                run_ms = st.executorRunTime()
                out["executor_run_ms"] += run_ms
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if worst is None or run_ms > worst[0]:
                    worst = (run_ms, sid, st.attemptId())
        out["job_spans"] = spans
        out["worst"] = (worst[0], self._skew(*worst[1:])) if worst else (-1, 1.0)
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        tasks = self.store.taskList(sid, attempt, 1 << 20)
        ms = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                ms.append(d.get())
        med = statistics.median(ms) if ms else 0
        return max(ms) / med if med > 0 else 1.0


def union_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
