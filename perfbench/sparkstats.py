"""Per-operation Spark counters read through the public status API.

Every operation runs under its own job group (``SparkContext.setJobGroup``).
Afterwards the jobs of that group, plus any new jobs of the streaming
queries' groups, are looked up in ``statusTracker()`` and their stages in the
JVM ``statusStore()``. Both answer with the UI disabled. The listener bus is
drained first, so a job that just finished is fully accounted for.
"""

from __future__ import annotations

import statistics
import time

COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "jvm_gc_s", "job_wall_s",
)


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = self.sc.statusTracker()
        self.seen: set[int] = set()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs_for(self, groups) -> list[int]:
        out = []
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                if jid not in self.seen:
                    self.seen.add(jid)
                    out.append(jid)
        return sorted(out)

    def counters(self, job_ids) -> dict[str, float]:
        c = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        for jid in job_ids:
            c["jobs"] += 1
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted or never submitted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["exec_run_s"] += sd.executorRunTime() / 1e3
                c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["jvm_gc_s"] += sd.jvmGcTime() / 1e3
        c["job_wall_s"] = _union_ms(intervals) / 1e3
        return c


def _union_ms(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_floor_s(spark, reps: int = 15) -> float:
    """Median wall time of a one-task, one-stage job: the fixed cost every
    Spark job pays on this host."""
    df = spark.range(0, 1, 1, 1)
    df.collect()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
