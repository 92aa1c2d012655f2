import contextlib

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("qfspark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@contextlib.contextmanager
def no_ckernel():
    """Run the body with the compiled kernel disabled, so
    ``QF.insert_hashes`` takes the scalar insert, the bulk fill its
    numpy twin and ``QF.lookup_hashes`` the numpy walk; the previous
    kernel state is restored after."""
    import qfspark.ckernel as ck

    prev_tried, prev_lib = ck._tried, ck._lib
    ck._tried, ck._lib = True, None
    try:
        yield
    finally:
        ck._tried, ck._lib = prev_tried, prev_lib


def jobs_started(spark, fn):
    """Run ``fn`` in a fresh job group; return its result and the ids of
    the Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"qf-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_started")
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # jobs registered
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
