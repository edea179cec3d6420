import pytest

from datafusion_spatial_spark.session import get_spark

from refdata import refdata_dir

TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def refdata():
    """Directory of the reference's 18 geometry fixture files."""
    return refdata_dir()


@pytest.fixture(scope="session")
def sf_dir():
    return f"{TESTDATA}/sf0.001"
