import os

import pytest

# The library's default driver heap (48g) is sized for a big host; on a
# machine with less RAM the JVM grows its heap past physical memory over
# a full suite and the kernel's OOM killer ends it mid-run.  Cap the test
# session's heap (an explicit SPARK_GRAFT_DRIVER_MEM still wins).
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from flink_infotheoretic_feature_selection_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
