import pytest

from rio_color_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rio_color_spark-tests")
    yield s
    s.stop()
