import pytest


@pytest.fixture(scope="session")
def spark():
    from ironspark.session import get_spark

    s = get_spark("ironspark-tests", master="local[4]")
    yield s
    s.stop()
