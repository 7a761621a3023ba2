import os

import pytest

# The engine's 16g driver default is above physical memory on small hosts,
# and G1 lets the session JVM grow toward it over a full run (past 13 GB RSS
# by the CLI tests on a 15 GB host, whose subprocess then starts a second
# JVM and the OOM killer ends the session). The fixtures fit in a few GB;
# the CLI subprocesses inherit the bound.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from warc2zim_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def webdata(tmp_path_factory):
    """sf0.001 synthetic web tables (generated once per test session)."""
    from warc2zim_spark.sources.datagen import ensure_webdata

    return str(ensure_webdata("sf0.001"))


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)`` runs ``fn()`` under job group ``group`` →
    (jobs carrying the group, every job started during the call on any
    thread). Job ids are sequential, so the second figure is the id span
    between two marker jobs run on either side of the call."""
    sc = spark.sparkContext

    def clear_group():
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def last_job_id() -> int:
        sc.setJobGroup("job_id_marker", "job id marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            clear_group()
        return max(sc.statusTracker().getJobIdsForGroup("job_id_marker"))

    def run(group: str, fn) -> tuple[int, int]:
        first = last_job_id() + 1
        sc.setJobGroup(group, "job-count pin")
        try:
            fn()
        finally:
            clear_group()
        n_all = last_job_id() - first
        return len(sc.statusTracker().getJobIdsForGroup(group)), n_all

    return run
