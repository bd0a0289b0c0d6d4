import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

from __spark_entry__ import _CLIPS  # noqa: E402  (after the worker-python env)

# the reference's own clip FASTAs, read by the parity goldens; tests that
# need them skip when they are absent
requires_clips = pytest.mark.skipif(
    not all(os.path.exists(p) for p in _CLIPS),
    reason=f"reference clip FASTAs absent from {os.path.dirname(_CLIPS[0])}")


def jobs_in_group(spark, group, action):
    """Run ``action()`` under job group ``group``; returns its result and
    the ids of the Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("minhashsketch-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
