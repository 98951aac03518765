"""Spark's own counters, read from the driver after an operation ends.

Each operation runs under its own job group, so its jobs are exactly
``statusTracker().getJobIdsForGroup(group)``. Per-stage run/CPU time,
bytes and records come from the core status store
(``statusStore().lastStageAttempt(stageId)``; ``stageList`` cannot be
called over py4j because of its Scala default arguments), task
durations from ``statusStore().taskList``, the final physical plan and
per-operator SQL metrics from the SQL status store, and GC time from
the JVM's ``GarbageCollectorMXBean``s. Nothing here runs a Spark job.
"""

from __future__ import annotations

import re


def _opt(o, default=None):
    """Unwrap a Scala Option returned over py4j."""
    return o.get() if o.isDefined() else default


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        mgmt = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(_seq(mgmt.getGarbageCollectorMXBeans()))
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> int:
        """Cumulative JVM garbage-collection time."""
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def job_intervals(self, job_ids: list[int]) -> list[tuple[float, float]]:
        """(submitted, completed) epoch seconds of each finished job."""
        out = []
        for j in job_ids:
            jd = self.store.job(j)
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is not None and done is not None:
                out.append((sub.getTime() / 1e3, done.getTime() / 1e3))
        return out

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Every stage the jobs ran (skipped stages reused earlier
        shuffle output and did no work), in stage-id order."""
        seen: dict[int, dict] = {}
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                done = _opt(sd.completionTime())
                seen[sid] = {
                    "stage": sid,
                    "tasks": int(sd.numTasks()),
                    "run_ms": int(sd.executorRunTime()),
                    "cpu_ms": int(sd.executorCpuTime()) / 1e6,
                    "input_bytes": int(sd.inputBytes()),
                    "input_records": int(sd.inputRecords()),
                    "output_bytes": int(sd.outputBytes()),
                    "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                    "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                    "shuffle_write_records": int(sd.shuffleWriteRecords()),
                    "max_task_ms": self._max_task_ms(sid, int(sd.attemptId())),
                    "completed": done.getTime() / 1e3 if done is not None else None,
                }
        return [seen[s] for s in sorted(seen)]

    def _max_task_ms(self, stage_id: int, attempt: int) -> int:
        best = 0
        for t in _seq(self.store.taskList(stage_id, attempt, 100_000)):
            d = _opt(t.duration())
            if d is not None:
                best = max(best, int(d))
        return best

    def sql(self, job_ids: list[int]) -> dict:
        """Final-plan facts of the SQL executions that ran these jobs:
        bucket pruning (``SelectedBucketsCount``) and the summed value of
        each named scan metric."""
        wanted = {str(j) for j in job_ids}
        buckets: list[tuple[int, int]] = []
        metrics: dict[str, int] = {}
        for e in _seq(self.sql_store.executionsList()):
            ej = {str(k) for k in _seq(e.jobs().keySet())}
            if not ej & wanted:
                continue
            desc = e.physicalPlanDescription()
            buckets += [
                (int(a), int(b))
                for a, b in re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", desc)
            ]
            names = {int(m.accumulatorId()): m.name() for m in _seq(e.metrics())}
            for kv in _seq(self.sql_store.executionMetrics(e.executionId())):
                name = names.get(int(kv._1()))
                value = kv._2().replace(",", "")
                if name and value.isdigit():
                    metrics[name] = metrics.get(name, 0) + int(value)
        return {"buckets": buckets, "metrics": metrics}


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set size (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
