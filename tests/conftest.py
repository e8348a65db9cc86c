import sys
import uuid

import pytest

sys.path.insert(0, "/root/repo")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from sparketl.session import get_spark

    spark = get_spark("sparketl-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "tbl")


def count_jobs(spark, fn):
    """(result of fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "count jobs", interruptOnCancel=False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
