"""Observers that read the running system from outside: a peak-RSS
sampler over the driver's process tree and a collector over Spark's own
status store. Neither adds a Spark job."""

from __future__ import annotations

import contextlib
import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
MIB = 1024 * 1024


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass  # the process ended between listing and reading
    return out


def process_tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def tree_rss_bytes(pids: list[int]) -> tuple[int, int]:
    """Summed RSS of ``pids``: (the Python side, the JVM). A process
    counts as the JVM when its command name is ``java``."""
    python = jvm = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
        except OSError:
            continue  # the process ended since the tree was listed
        if is_jvm:
            jvm += rss
        else:
            python += rss
    return python, jvm


class RssSampler:
    """One background thread summing the RSS of this process and all its
    descendants every ``interval`` seconds, in two parts: the Python
    side (this driver process and the Python workers) and the JVM.
    ``peak`` and ``jvm_peak`` are the largest sums since the last
    ``reset`` that two consecutive samples both reached: a child the JVM
    has vforked reports the JVM's whole RSS until it execs, and counting
    that instant would add the JVM twice. The process tree is re-listed
    every ``relist`` samples, since listing reads one file per JVM
    thread.

    The two parts are kept apart because they repeat differently: with
    the program's 8 GiB heap limit, G1 grows the JVM's heap by its own
    timing, so the JVM's peak RSS at the same position differs by up to
    a third between processes running the same input, while the Python
    side repeats within about 1%."""

    def __init__(self, interval: float = 0.1, relist: int = 10):
        self.interval = interval
        self.relist = relist
        self.peak = self.jvm_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        pids: list[int] = []
        n = 0
        prev = (0, 0)
        while not self._stop.is_set():
            if n % self.relist == 0:
                pids = process_tree(root)
            n += 1
            cur = tree_rss_bytes(pids)
            with self._lock:
                self.peak = max(self.peak, min(cur[0], prev[0]))
                self.jvm_peak = max(self.jvm_peak, min(cur[1], prev[1]))
            prev = cur
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self.peak = self.jvm_peak = 0

    def peak_mib(self) -> tuple[float, float]:
        """(Python side, JVM) peaks in MiB."""
        with self._lock:
            return self.peak / MIB, self.jvm_peak / MIB

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every Spark job submitted inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class SparkStats:
    """Per-job-group aggregates from ``sc._jsc.sc().statusStore()``."""

    QUANTILES = (0.5, 1.0)

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._q = sc._gateway.new_array(sc._jvm.double, len(self.QUANTILES))
        for i, q in enumerate(self.QUANTILES):
            self._q[i] = q

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def group(self, *groups: str) -> dict:
        """Aggregates over every job tagged with one of ``groups``:
        job/stage/task counts, executor run and GC time, shuffle write,
        peak execution memory, and the max/median task duration of the
        stage with the most executor run time (the kernel stage)."""
        tracker = self._sc.statusTracker()
        job_ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        stage_ids: set[int] = set()
        tasks_failed = 0
        for job in self._seq(self._store.jobsList(None)):
            if job.jobId() in job_ids:
                stage_ids.update(int(s) for s in self._seq(job.stageIds()))
                tasks_failed += job.numFailedTasks()
        stages = [
            s for s in self._seq(self._store.stageList(None, False, False, self._q, None))
            if s.stageId() in stage_ids and s.status().toString() != "SKIPPED"
        ]
        run_ms = sum(s.executorRunTime() for s in stages)
        straggler = 1.0
        if stages:
            top = max(stages, key=lambda s: s.executorRunTime())
            summary = self._store.taskSummary(top.stageId(), top.attemptId(), self._q)
            if summary.isDefined():
                med, mx = self._seq(summary.get().duration())
                straggler = mx / med if med > 0 else 1.0
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks_failed": tasks_failed,
            "executor_run_s": run_ms / 1000.0,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / MIB,
            "peak_exec_mem_mb": max((s.peakExecutionMemory() for s in stages), default=0) / MIB,
            "kernel_straggler": straggler,
        }
