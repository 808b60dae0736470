from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from databricks_import_pyspark_scripts_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def _test_heap() -> str:
    """Half the host's memory, at most the session default of 48g: the
    default alone can outgrow a small host's RAM over a full run."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, total // 2 // 2**30))}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spark_graft_tests", master="local[4]",
                  extra_conf={"spark.driver.memory": _test_heap()})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
