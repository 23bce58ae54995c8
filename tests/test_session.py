"""``get_spark``'s file-listing default: Spark's parallel listing job runs
at most one task per core, and an explicit setting of the key is kept."""

from boann_ocsf_security_data_platform_spark import get_spark
from boann_ocsf_security_data_platform_spark.session import LISTING_PARALLELISM


def test_listing_job_runs_at_most_one_task_per_core(spark, tmp_path, spark_jobs):
    """More explicit paths than the parallel-listing threshold (32) plus
    the core count: the listing job's task count is capped at the cores,
    not one task per path."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    paths = []
    for i in range(cores + 33):
        p = tmp_path / f"f{i:03d}.txt"
        p.write_text("x\n")
        paths.append(str(p))
    with spark_jobs("listing-tasks") as jobs:
        spark.read.text(paths)  # resolving the relation lists the paths
        ids = jobs()
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in ids
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert tasks, "no parallel listing job ran"
    assert max(tasks) <= cores, tasks


def test_caller_listing_parallelism_wins(spark):
    """A caller's ``extra_conf`` value for the key is applied as given, and
    a later plain ``get_spark`` call on the same context keeps it."""
    before = spark.conf.get(LISTING_PARALLELISM)
    assert before == str(spark.sparkContext.defaultParallelism)
    try:
        assert get_spark(extra_conf={LISTING_PARALLELISM: "3"}) is spark
        assert spark.conf.get(LISTING_PARALLELISM) == "3"
        get_spark()
        assert spark.conf.get(LISTING_PARALLELISM) == "3"
    finally:
        spark.conf.set(LISTING_PARALLELISM, before)
