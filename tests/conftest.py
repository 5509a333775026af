import contextlib
import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from meerschaum_spark.session import get_spark
    spark = get_spark("meerschaum_spark_tests")
    yield spark
    spark.stop()


@pytest.fixture()
def instance_dir():
    d = tempfile.mkdtemp(prefix="mrsm_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextlib.contextmanager
def spark_jobs(spark, group):
    """Run the block's Spark actions under job group ``group`` and yield
    a callable returning how many jobs that group has run so far — call
    it after the block for the block's total."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(f"{group}_done", "")
