"""Per-op Spark work read from Spark's own status store.

Each traced op runs under its own job group (a thread-local property,
so concurrent callers do not mix). After the run the listener bus is
drained and, per group, the jobs, stages, tasks, executor CPU time and
shuffle bytes are read from the in-process AppStatusStore, which is
populated with the UI disabled."""

from __future__ import annotations

from py4j.protocol import Py4JError


class JobGroups:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def enter(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def leave(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stats(self, gid: str) -> dict:
        """jobs, stages, tasks, executor_cpu_ms, shuffle_bytes of one
        group. Stages skipped because their shuffle output was reused
        are not counted."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_ms": 0.0,
               "shuffle_bytes": 0}
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        return out
