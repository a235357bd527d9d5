import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kartothek_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("kartothek_spark_tests", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path / "store")


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def spark_jobs(spark, build):
    """(result of ``build()``, ids of the Spark jobs it started), counted
    with the status tracker under a job group of its own."""
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.jobGroup.id")
    group = "count-" + uuid.uuid4().hex
    sc.setJobGroup(group, "counted")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
