import pytest

try:
    # Derandomize ALL property tests: an unseeded hypothesis run let a
    # real quantize_embeddings subnormal crash ship as "green" in round
    # 4 because the examples drawn that day happened to miss it. With
    # derandomize=True every CI run draws the same examples, so a red
    # property test stays red until actually fixed.
    from hypothesis import settings

    settings.register_profile("ci", derandomize=True)
    settings.load_profile("ci")
except ImportError:  # pragma: no cover
    pass

from gpi_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gpi_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(autouse=True)
def _drain_runscope():
    """Start every test with an empty run scope: operators that tests
    call directly leave their pins and checkpoints in it, and only a
    registry dispatch drains it otherwise."""
    from gpi_etl_spark import runscope

    runscope.drain()
