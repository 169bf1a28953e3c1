"""Measurement helpers: per-call Spark accounting and host noise probes.

The per-call numbers come from the driver's own status store
(``statusTracker`` for the job ids of a job group, the AppStatusStore for
each stage), which Spark keeps with the UI disabled.  Nothing here is
called from inside the program under test: every span wraps a public
call from outside.
"""

from __future__ import annotations

import os
import resource
import statistics
import time
import uuid

import numpy as np
from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb")


def group_stats(spark, group: str) -> dict:
    """Jobs, executed stages, tasks, task time and shuffle bytes of every
    job run under ``group`` (skipped stages, whose shuffle output was
    reused, count as neither stages nor tasks)."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()  # job-end events reach the store
    store = jvm_sc.statusStore()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = float(len(jobs))
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # planned but never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["task_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
    return out


class Traced:
    """Runs one call under a fresh job group and records its split:
    ``construct`` builds the DataFrame (any job it starts is counted),
    ``execute`` runs the action.  Untraced instances only time."""

    def __init__(self, spark, on: bool):
        self.spark = spark
        self.on = on

    def call(self, construct, execute):
        sc = self.spark.sparkContext
        group = f"bench-{uuid.uuid4().hex}"
        if self.on:
            sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            df = construct()
            t1 = time.perf_counter()
            result = execute(df)
            t2 = time.perf_counter()
        finally:
            if self.on:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        rec = {"wall_s": t2 - t0, "construct_s": t1 - t0, "execute_s": t2 - t1}
        if self.on:
            rec.update(group_stats(self.spark, group))
        return result, rec

    def timed(self, fn):
        """Whole-call span for a call that is not construct-then-act
        (a build, save or load): wall plus the same counters."""
        return self.call(lambda: None, lambda _: fn())


def job_floor_ms(spark, reps: int = 7) -> float:
    """Median wall of a one-task JVM-only job: the scheduler floor every
    Spark action pays before doing any work."""
    jsc = spark.sparkContext._jsc
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        jsc.parallelize([1], 1).count()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e3


def calib_s(reps: int = 5) -> float:
    """Median wall of a fixed single-core numpy task: how fast this host
    is right now, so a drifting run can be told from a slower program."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal(400_000)
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(20):
            np.sort(a)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict:
    """Peak resident size, in MB, of this process (``driver_py``), of the
    driver JVM it started (``jvm``) and of every process below that: the
    Python worker daemon and its workers (``workers``)."""
    kids = _children()
    out = {"driver_py": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
           "jvm": 0.0, "workers": 0.0}
    for jvm in kids.get(os.getpid(), []):
        out["jvm"] += _hwm_kb(jvm) / 1024.0
        todo = list(kids.get(jvm, []))
        while todo:
            pid = todo.pop()
            out["workers"] += _hwm_kb(pid) / 1024.0
            todo.extend(kids.get(pid, []))
    return out
