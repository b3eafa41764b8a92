"""Spark job counting per wrapped call, across job groups.

Structured Streaming runs each micro-batch (``foreachBatch`` included)
under the query's ``runId`` job group, so a count over the ungrouped
jobs alone misses every stream job. A call's jobs are the difference
between the job ids of *its own thread's* group before and after it:
concurrent callers in other groups (the stream, a reader thread) do not
leak into the count.
"""

from __future__ import annotations

#: session confs that keep the status store from evicting the jobs and
#: stages a long run still has to count
RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.streaming.numRecentProgressUpdates": "10000",
}


class JobCounter:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._bus = self.sc._jsc.sc().listenerBus()

    def group(self) -> str | None:
        """Job group of the calling thread (the stream's runId inside
        ``foreachBatch``)."""
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def job_ids(self, group: str | None) -> set[int]:
        # job starts reach the status store through the asynchronous
        # listener bus; drain it so jobs that just ran are counted
        self._bus.waitUntilEmpty()
        return set(self.tracker.getJobIdsForGroup(group))

    def shape(self, job_ids) -> tuple[int, int]:
        """(stages, tasks) of the given jobs."""
        stages = tasks = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks:
                    stages += 1  # skipped (reused-shuffle) stages ran no task
                    tasks += st.numCompletedTasks
        return stages, tasks
