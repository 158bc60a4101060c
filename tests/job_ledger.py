"""Jobs and stages that one call runs, read from the status tracker."""

from __future__ import annotations


def jobs_and_stages(spark, group: str, fn) -> tuple[int, int]:
    """(jobs, stages that ran) of `fn()` under job group `group`. A
    stage whose output was already there (a skipped shuffle map stage
    of a cached exchange) is listed by its job but runs no task, so it
    is not counted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    ran = [s for s in stages if (info := tracker.getStageInfo(s)) and info.numCompletedTasks]
    return len(jobs), len(ran)


def ungrouped_jobs(spark) -> set[int]:
    """Ids of the jobs the status tracker holds without a job group."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
