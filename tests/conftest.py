from __future__ import annotations

import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_DIR)

# Spark python workers unpickle module-level test functions (shim
# map/reduce fns) by reference — they need repo + tests on their path.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO_DIR, _TESTS_DIR, os.environ.get("PYTHONPATH", "")]
)

from ray_mapreduce_spark.session import get_spark

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ray_mapreduce_spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
