import os
import sys

import pytest

# the checkout these tests sit in, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adcirctime2cogs_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = os.environ.get(
    "SPARK_GRAFT_TEST_SF_MEDIUM",
    os.path.join(os.path.dirname(SF_SMALL.rstrip("/")), "sf0.01"),
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="adcirctime2cogs_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium_dir():
    """sf0.01 sibling of the configured data root (some floors — e.g.
    ANN recall — were measured at that scale and don't hold at
    sf0.001); skip rather than fail where the tier is absent."""
    if not os.path.isdir(SF_MEDIUM):
        pytest.skip(f"medium-scale fixture absent: {SF_MEDIUM}")
    return SF_MEDIUM
