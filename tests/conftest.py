import contextlib
import os
import sys
from unittest import mock

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rify_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master=os.environ.get("RIFY_TEST_MASTER", "local[4]"),
        app_name="rify-spark-tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@contextlib.contextmanager
def spark_fixpoint():
    """Within the block, ``api.infer`` and ``api.prove`` run the Spark
    fixpoint instead of the driver-resident engine."""
    from rify_spark import api

    with mock.patch.object(api, "_runs_local", lambda cfg: False):
        yield


@pytest.fixture
def spark_engine():
    """Run one test's ``api.infer`` / ``api.prove`` calls on Spark."""
    with spark_fixpoint():
        yield
