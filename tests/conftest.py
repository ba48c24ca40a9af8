import os
import shutil

import pytest

from e2e_el_spark.session import get_spark

# The engine's 48g default driver heap exceeds a 16 GB test box: the session
# JVM grows past 10 GB before G1 collects, and the CLI test's second JVM
# (which inherits this environment) then gets the pair OOM-killed. The test
# inputs are small; 4g is ample for either JVM.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="e2e_el_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_workdir(tmp_path):
    d = str(tmp_path / "work")
    yield d
    shutil.rmtree(d, ignore_errors=True)
