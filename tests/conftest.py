from __future__ import annotations

import contextlib
import uuid

import pytest


@contextlib.contextmanager
def count_jobs(spark):
    """Collects into the yielded list the ids of the Spark jobs this
    thread submits inside the block: the block runs under its own job
    group, read back from the status tracker on exit (once the listener
    bus has delivered the block's job events to it)."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from research_data_pipeline_spark.session import get_spark

    s = get_spark(app="rdp-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def _isolated_artifact_root(tmp_path_factory):
    """Point the persistent skew-stats store at a per-run tmp dir so test
    corpora (tmp-path datasets, doctored stores) never leak artifacts
    into the repo's spark-warehouse or poison a later run's warm path."""
    import os

    old = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = str(
        tmp_path_factory.mktemp("artifacts")
    )
    yield
    if old is None:
        os.environ.pop("SPARK_GRAFT_ARTIFACT_DIR", None)
    else:
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = old
