from __future__ import annotations

import uuid

import pytest
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.001"

# The reference's own golden artifact; tests/test_golden_reference.py skips
# with this file name in the reason when it is absent.
GOLDEN_CSV = "ASCTB_Lungv1_2.csv"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = (
        SparkSession.builder.appName("asctb-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``run(fn)`` calls ``fn()`` under a fresh job group and returns its
    result and the ids of the Spark jobs it fired. The status tracker is
    filled by an asynchronous listener; the bus is drained before the ids
    are read, or a job can be missing."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


def pytest_terminal_summary(terminalreporter):
    """Name the missing golden artifact and count the parity tests that
    skipped for it, so a green run is never read as parity with the
    reference."""
    skipped = terminalreporter.stats.get("skipped", [])
    n = sum(GOLDEN_CSV in str(report.longrepr) for report in skipped)
    if n:
        terminalreporter.write_sep(
            "!",
            f"golden-artifact parity NOT checked: {GOLDEN_CSV} is missing, "
            f"{n} parity tests skipped",
            yellow=True,
            bold=True,
        )
