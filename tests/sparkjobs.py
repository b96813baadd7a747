"""Job-group probe: what Spark ran for one action, read back from the
status tracker."""

from __future__ import annotations


def group_jobs(spark, group: str, action) -> list[list[int]]:
    """Run ``action`` under the job group ``group``; for every job it
    ran, in id order, the task count of each stage that ran. A stage
    skipped because its shuffle output already exists is an earlier
    job's stage: it completes no task here and is left out, also when
    the status store no longer holds it (it keeps only
    ``spark.ui.retainedStages`` stages)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(stage) for stage in tracker.getJobInfo(job).stageIds]
        jobs.append([s.numTasks for s in stages if s is not None and s.numCompletedTasks])
    return jobs
