from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gossiphs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


_SESSIONS: list = []


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gossiphs_spark_tests", cores=8, shuffle_partitions=8)
    _SESSIONS.append(s)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_after_module():
    """Every pipeline build caches intermediates (mentions/fm/kept/…); a
    full-suite session accumulates them across ~10 modules until the
    shared driver heap chokes (observed as a late py4j failure ~2500
    stages in). Module-scoped fixtures stay cached while their module
    runs; everything unpersists at module end. Modules that never ask
    for ``spark`` do not start one."""
    yield
    for s in _SESSIONS:
        try:
            s.catalog.clearCache()
        except Exception:
            pass
