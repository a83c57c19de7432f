from __future__ import annotations

import os

import pytest
from hypothesis import settings

# Every property test draws the same examples on every run: the
# suite must pass or fail the same way under --maxfail=1. The
# example database is off too, so a failure once recorded locally
# cannot make one checkout replay examples another does not.
settings.register_profile("deterministic", derandomize=True, database=None)
settings.load_profile("deterministic")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from datatransformertools_spark import get_spark

    s = get_spark("dtt-tests")
    yield s
    from datatransformertools_spark.caching import clear_all_memos, release_caches

    clear_all_memos()
    release_caches()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
