from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gossiphs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _driver_mem() -> str:
    """Half of physical memory, never above 16g. One heap serves driver
    and executors in local mode and the full suite runs ~2500 stages
    through it, but the Python workers and the OS need the other half: a
    heap as large as RAM gets the JVM killed by the kernel mid-suite."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{min(16 * 1024, kb // 2048)}m"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())
    s = get_spark(app_name="gossiphs_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_after_module(spark):
    """Every pipeline build caches intermediates (mentions/fm/kept/…); a
    full-suite session accumulates them across ~10 modules until the
    shared driver heap chokes (observed as a late py4j failure ~2500
    stages in). Module-scoped fixtures stay cached while their module
    runs; everything unpersists at module end."""
    yield
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
