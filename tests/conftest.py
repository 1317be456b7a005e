from __future__ import annotations

import os

import pytest

from omicidx_gh_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_gate() -> str:
    """The sf0.01 tables next to the smoke scale; skips without them."""
    path = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip("testdata absent")
    return path


@pytest.fixture(scope="session")
def compiles(spark):
    """Callable: Janino compiles so far in this JVM (Spark's
    ``CodegenMetrics``), for tests that a warm pass compiles nothing."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
