import glob
import os
import sys
import tempfile

import pytest
from pyspark import SparkContext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collector_spark.session import cache_scope, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="collector_spark_tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def persisted_rdds() -> set[int]:
    """Ids of the RDDs the running SparkContext holds persisted."""
    sc = SparkContext._active_spark_context
    return set(sc._jsc.getPersistentRDDs().keys()) if sc is not None else set()


@pytest.fixture(autouse=True)
def no_leaked_caches():
    """Each test runs inside a ``cache_scope``; once it exits, no RDD the
    test persisted or checkpointed may still be held."""
    before = persisted_rdds()
    with cache_scope():
        yield
    leaked = persisted_rdds() - before
    assert not leaked, f"persisted RDDs left behind: {sorted(leaked)}"


def spill_dirs() -> set[str]:
    """``FileSource``'s default spill dirs in the temp dir."""
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "collector_spark_spill_*")))


@pytest.fixture(autouse=True)
def no_leaked_spill_dirs():
    """No test may leave a new default spill dir behind."""
    before = spill_dirs()
    yield
    leaked = spill_dirs() - before
    assert not leaked, f"spill dirs left behind: {sorted(leaked)}"
