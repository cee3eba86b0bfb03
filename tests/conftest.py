import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden", "reference_goldens.tsv")


def load_goldens(kind: str):
    out = []
    with open(GOLDENS) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if parts[0] == kind:
                out.append(parts[1:])
    return out


def pattern_bytes(label: str, length: int) -> bytes:
    """The goldgen byte pattern for patN labels; else the label itself."""
    if label.startswith("pat") and label[3:].isdigit() and int(label[3:]) == length:
        return bytes(((i * 37 + 11) & 0xFF) for i in range(length))
    return label.encode()


@pytest.fixture(scope="session")
def spark():
    from hlld_spark.session import get_spark

    s = get_spark(app_name="hlld-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def assert_plan_runs_no_job(spark, build, group: str) -> None:
    """``build()`` returns a DataFrame without launching a Spark job; the
    action on it does (so the job-group probe is live)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build a plan")
    try:
        out = build()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert out.count() > 0
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
